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
