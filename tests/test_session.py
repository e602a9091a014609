"""The engine worker daemon: a zip archive's directory is re-read per task
only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from avgdist_rs_spark import worker_daemon


def _write_zip(path, source: str) -> None:
    # a new file renamed over the old one, as a fetched py-file arrives
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("m_zipguard.py", source)
    tmp.replace(path)


def test_stat_guard_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, "V = 1\n")
    imp = zipimport.zipimporter(str(archive))
    guarded = worker_daemon.stat_guarded_invalidate_caches
    guarded(imp)  # first call: read time unknown, so it re-reads
    files = imp._files
    guarded(imp)
    assert imp._files is files  # unchanged archive: not re-read
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("m_zipguard").V == 1
        _write_zip(archive, "V = 22\n")
        del sys.modules["m_zipguard"]
        guarded(sys.path_importer_cache[str(archive)])
        assert importlib.import_module("m_zipguard").V == 22
    finally:
        sys.path.remove(str(archive))
        sys.modules.pop("m_zipguard", None)
        sys.path_importer_cache.pop(str(archive), None)
    # importing the module patched nothing in this process
    assert zipimport.zipimporter.invalidate_caches is not guarded


def test_session_workers_skip_unchanged_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        zips = [z for z in sys.path_importer_cache.values() if isinstance(z, zipimport.zipimporter)]
        importlib.invalidate_caches()
        before = [z._files for z in zips]
        importlib.invalidate_caches()
        reread = sum(z._files is not f for z, f in zip(zips, before))
        for _ in batches:
            pass
        yield pd.DataFrame({
            "zips": [len(zips)],
            "reread": [reread],
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
        })

    out = (
        spark.range(2).repartition(2)
        .mapInPandas(probe, "zips long, reread long, module string")
        .toPandas()
    )
    assert len(out) == 2
    assert (out["zips"] > 0).all()  # pyspark.zip and py4j are on every worker's path
    assert (out["reread"] == 0).all()
    assert (out["module"] == worker_daemon.__name__).all()


def test_session_workers_freeze_their_heap_after_each_task(spark):
    """A reused worker ends every task with ``gc.collect()`` then
    ``gc.freeze()``: the next task starts with few collectable objects, and
    a reference cycle the previous task dropped is already dead."""

    def probe(batches):
        import gc
        import sys
        import types
        import weakref

        for _ in batches:
            pass
        mod = sys.modules.get("_gc_freeze_probe")
        if mod is None:  # first task on this worker: drop a cycle, keep a weakref
            mod = sys.modules["_gc_freeze_probe"] = types.ModuleType("_gc_freeze_probe")
            class Node:
                pass

            cycle = Node()
            cycle.self = cycle
            mod.ref = weakref.ref(cycle)
            del cycle
            yield pd.DataFrame({"second": [False], "frozen": [0], "tracked": [0], "dead": [False]})
            return
        yield pd.DataFrame({
            "second": [True],
            "frozen": [gc.get_freeze_count()],
            "tracked": [len(gc.get_objects())],
            "dead": [mod.ref() is None],
        })

    schema = "second boolean, frozen long, tracked long, dead boolean"
    for _ in range(64):  # one-task jobs until one lands on a worker that ran the probe
        row = spark.range(1).mapInPandas(probe, schema).toPandas().iloc[0]
        if row["second"]:
            break
    assert row["second"]
    assert row["frozen"] > 0
    assert row["tracked"] < 5000
    assert row["dead"]
