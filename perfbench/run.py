"""Benchmark of the avgdist estimator and the fixpoint loops on local[N] Spark.

    python3 perfbench/run.py --workload estimate-csr --seed 1 --seconds 6 --trace 0

runs one workload in one ``local[N]`` Spark process, N = ``WIDTH`` task slots
(at most the CPUs this process may use), with N shuffle partitions. Two slots
leave the other CPUs of a small host to the JVM's own threads and the Python
driver, so a busy CPU does not hold up a stage. The JVM compiles with C1 only
and collects with the serial collector, so its timings settle within a short
run. A run sets the workload up
``SETUPS`` times (graph build plus both CSR broadcasts; ``setup_s`` is their
median), makes ``WARM_PASSES`` untimed passes, makes the workload's
once-per-run output checks, and then repeats timed passes until ``--seconds``
have passed (at least one pass).

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s``,
``pass_cpu_s`` (median over passes of the CPU seconds the driver, the Spark JVM
and its Python workers spent in a pass) and ``driver_peak_rss_mb`` (peak RSS of
the Python driver over set-up and passes). The median wall time of a pass,
``pass_s``, is a report line only: on a shared host, time stolen from the
virtual CPUs moves it by a third between runs of the same code, while CPU time
moves far less. With ``--trace 1`` it instead replays one pass through the
layer functions, one span per call, and reports the per-layer metrics of
``workloads.PER_LAYER``, each read from its named span; the spans are written
to ``.perfbench/traces/`` when the run ends. ``bench.trace_overhead_s`` is the
time the spans spent on their own bookkeeping.

Every line but the last is a human-readable report: each metric by name, value
and unit, every set-up and pass, the time of each phase of the run, the
per-operation medians, ``error_rate`` (failed / attempted operations; an
operation fails when it raises or its output check does not hold), the load
average before and after the run, the ``local[N]`` width and the graph sizes.
The last line is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--workload all`` runs every workload in one process and reports every metric
of both kinds; with ``--trace 1`` it also prints the traced pass minus the
untraced one. ``--smoke`` shrinks every input; the code paths stay the same.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.monotonic()
ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("estimate-csr", "fixpoint")
#: Spark task slots
WIDTH = 2

END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("driver_peak_rss_mb", "MB")]

#: report-only end-to-end breakdown per workload: (name, unit)
BREAKDOWN = {
    "estimate-csr": [("uniform_estimate_s", "s"), ("weighted_estimate_s", "s"), ("bfs_seeds_per_s", "1/s")],
    "fixpoint": [
        ("pagerank_s", "s"),
        ("fixpoint_supersteps_per_min", "1/min"),
    ],
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the Spark JVM and its Python workers, counting the
    workers that have already exited and been reaped."""
    pids, parent = {os.getpid()}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # exited while we looked
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    grew = True
    while grew:
        new = {p for p, (pp, _) in parent.items() if pp in pids and p not in pids}
        pids |= new
        grew = bool(new)
    return sum(parent[p][1] for p in pids if p in parent) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident set of this (the Python driver) process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("no VmHWM in /proc/self/status")


def reset_peak_rss() -> None:
    """Restart the peak-RSS count from the current RSS."""
    gc.collect()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def start_spark(n: int, tmp: Path):
    """A local[n] session whose scratch files all stay under ``tmp``."""
    from avgdist_rs_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            # C1 alone compiles the hot paths within the warm-up, so timings
            # settle in a short run; the serial collector adds no GC threads
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the span counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, smoke: bool,
                 untraced_too: bool) -> dict:
    """Set up, warm up and check one workload, then run untraced passes for
    ``seconds`` (unless tracing alone) and, when tracing, one traced pass."""
    from spans import Tracer
    from workloads import PER_LAYER, WARM_PASSES, WORKLOADS

    wl = WORKLOADS[name](spark, seed, smoke)
    tracer = Tracer(spark, f"{name}-{seed}") if trace else None
    phases = {}
    t = time.monotonic()
    reset_peak_rss()
    wl.setup(tracer)
    setup_rss = peak_rss_mb()
    phases["setup"], t = time.monotonic() - t, time.monotonic()
    wl.warmup()
    phases["warmup"], t = time.monotonic() - t, time.monotonic()
    wl.checks()
    phases["checks"], t = time.monotonic() - t, time.monotonic()
    metrics, passes, cpu = {}, [], []
    if not trace or untraced_too:
        reset_peak_rss()  # the checks' own memory is not the driver's
        while not passes or time.monotonic() - t < seconds:
            c0 = tree_cpu_s()
            passes.append(wl.run_pass(WARM_PASSES + len(passes)))
            cpu.append(tree_cpu_s() - c0)
        phases["passes"], t = time.monotonic() - t, time.monotonic()
        metrics["setup_s"] = {"value": statistics.median(wl.setup_s), "unit": "s"}
        metrics["pass_cpu_s"] = {"value": statistics.median(cpu), "unit": "s"}
        metrics["driver_peak_rss_mb"] = {"value": max(setup_rss, peak_rss_mb()), "unit": "MB"}
    spans_of = {}
    if trace:
        layer = wl.traced_pass(0, tracer)
        layer.update(wl.setup_layer_metrics(tracer))
        pass_span = tracer.named("bench.pass")[-1]
        layer["bench.pass_traced_s"] = pass_span.wall_s
        layer["bench.trace_overhead_s"] = tracer.trace_s(pass_span) - pass_span.trace_s
        metrics.update({m: {"value": layer.get(m, 0), "unit": u} for m, u, _ in PER_LAYER})
        spans_of = {m: span for m, _, span in PER_LAYER}
        phases["traced"] = time.monotonic() - t
    return {"workload": wl, "tracer": tracer, "metrics": metrics, "spans_of": spans_of, "passes": passes, "cpu": cpu,
            "phases": phases}


def report(name: str, res: dict, info: dict) -> None:
    wl = res["workload"]
    p = f"perfbench {name}"
    for k, v in info.items():
        print(f"{p} {k} {v}")
    print(f"{p} graph " + " ".join(f"{k}={v}" for k, v in wl.graph_sizes().items()))
    print(f"{p} setups {len(wl.setup_s)} passes {len(res['passes'])}")
    print(f"{p} phases_s " + " ".join(f"{k}={v:.1f}" for k, v in res["phases"].items()))
    for what, vals in (("setup_s", wl.setup_s), ("pass_s", res["passes"]), ("pass_cpu_s", res["cpu"])):
        if vals:
            print(f"{p} {what} each " + " ".join(f"{x:.3f}" for x in vals))
    if res["passes"]:
        print(f"{p} pass_s {statistics.median(res['passes'])} s (median of {len(res['passes'])})")
    for m, d in res["metrics"].items():
        span = res["spans_of"].get(m)
        print(f"{p} {m} {d['value']} {d['unit']}" + (f" (span {span})" if span else ""))
    for m, unit in BREAKDOWN[name]:
        vals = wl.ops.values.get(m, [])
        if vals:
            print(f"{p} {m} {statistics.median(vals)} {unit} (median of {len(vals)})")
    if res["passes"] and res["tracer"] is not None:
        diff = res["metrics"]["bench.pass_traced_s"]["value"] - statistics.median(res["passes"])
        print(f"{p} traced_minus_untraced_pass_s {diff} s")
    ops = wl.ops
    print(f"{p} error_rate {ops.failed / max(ops.attempted, 1)} ({ops.failed}/{ops.attempted} ops failed)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code paths")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import avgdist_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench"
    (work / "traces").mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=work))
    # Python tempfiles, Spark scratch space and Python workers' imports
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    n = min(WIDTH, cpus())
    load_before = os.getloadavg()
    spark = start_spark(n, tmp)
    session_s = time.monotonic() - T_START
    try:
        results = {
            name: run_workload(
                spark, name, args.seed, args.seconds, bool(args.trace), args.smoke,
                untraced_too=args.workload == "all",
            )
            for name in names
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    load_after = os.getloadavg()

    out = {}
    for name, res in results.items():
        info = {
            "width": f"local[{n}] shuffle_partitions={n}",
            "session_s": session_s,
            "loadavg_before": " ".join(f"{x:.2f}" for x in load_before),
            "loadavg_after": " ".join(f"{x:.2f}" for x in load_after),
            "seed": args.seed,
            "smoke": args.smoke,
        }
        report(name, res, info)
        wl, tracer = res["workload"], res["tracer"]
        if tracer is not None:
            path = work / "traces" / f"{name}-seed{args.seed}.json"
            tracer.dump(
                str(path),
                {"workload": name, "seed": args.seed, **info, **wl.graph_sizes(), "metrics": res["metrics"]},
            )
            print(f"perfbench {name} spans {len(tracer.spans)} written to {path.relative_to(ROOT)}")
        out[name] = {
            "correct": wl.ops.failed == 0,
            "attempted": wl.ops.attempted,
            "failed": wl.ops.failed,
            "metrics": res["metrics"],
        }
    print(json.dumps(out[names[0]] if len(names) == 1 else out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
