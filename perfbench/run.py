"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mixed_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Every line before the last is a report
(``run {...}`` with the run's seed, sizes and versions, then one
``metric <name> = <value> <unit> (n=<samples>)`` line per metric); the last
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics named in ``BENCHMARK.json`` (``--trace 0``)
or its per-layer metrics (``--trace 1``). All files the run creates live
under ``.perfbench_runs/<run>/`` and are removed before it exits. Exits
non-zero without a result line when the package is missing or the run
breaks."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mixed_ingest", "crawl_dedup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal length of the measured loop; it sets the op counts, never a deadline")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0, help="1: per-layer traced run")
    p.add_argument("--toy", action="store_true", help="tiny sizes, for the benchmark's own smoke tests")
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def configure_env(run_root: str, cpus: int, event_log: str | None) -> None:
    """Point every scratch location of the JVM, Spark and Python at the run
    root, and size the local session. Must run before the JVM starts."""
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir=file:{os.path.join(run_root, 'warehouse')}",
    ]
    if event_log:
        os.makedirs(event_log)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file:{event_log}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    })
    tempfile.tempdir = None  # re-read TMPDIR


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it started
    (Python workers included) has exited."""
    from pyspark import SparkContext

    procs = tracing.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def versions(spark) -> dict:
    import numpy
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def run(args, run_root: str, spec: dict) -> tuple:
    cpus = cpu_count()
    event_log = os.path.join(run_root, "eventlog") if args.trace else None
    configure_env(run_root, cpus, event_log)
    sys.path.insert(1, ROOT)
    import workloads as wl

    load_at_start = os.getloadavg()
    with tracing.RssSampler() as rss:
        s = time.perf_counter()
        from duckdb_vss_spark.session import get_spark

        spark = get_spark("perfbench", shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - s
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracer.install()
        try:
            ctx = wl.Ctx(spark, args.seed, args.seconds, run_root, tracer)
            if args.workload == "mixed_ingest":
                out = wl.mixed_ingest(ctx, session_s, wl.TOY_VECTOR if args.toy else wl.VectorSizes())
            else:
                out = wl.crawl_dedup(ctx, session_s, wl.TOY_DEDUP if args.toy else wl.DedupSizes())
            layers = {n: 0.0 for n in wl.WORKLOAD_LAYER_METRICS} | out.layers
            if tracer:
                from duckdb_vss_spark.broadcasts import live_broadcast_count, live_persist_count

                layers.update(tracer.layer_metrics())
                layers["broadcasts.live"] = float(live_broadcast_count(spark.sparkContext))
                layers["broadcasts.live_persists"] = float(live_persist_count(spark.sparkContext))
            record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                      "nproc": cpus, "loadavg_at_start": [round(x, 2) for x in load_at_start],
                      **versions(spark), **out.record}
        finally:
            if tracer:
                tracer.uninstall()
            stop_spark(spark)
    out.lines.append(wl.line("peak_rss_mb", rss.peak_mb, "MB", 1))
    out.lines.append(wl.line("error_rate", out.failed / max(out.attempted, 1), "ratio", out.attempted))
    if tracer:
        groups = tracing.read_event_log(event_log)
        layers.update(tracing.spark_metrics(tracer.op_kind, groups, ctx.codegen))
        names = [m["name"] for m in spec["per_layer"]]
    else:
        layers = out.e2e
        names = [m["name"] for m in spec["end_to_end"]]
    missing = [n for n in names if n not in layers]
    if missing:
        raise RuntimeError(f"workload produced no value for {missing}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {n: {"value": float(layers[n]), "unit": units[n]} for n in names}
    return out, record, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "duckdb_vss_spark", "__init__.py")) or not os.path.isfile(spec_path):
        print(f"perfbench: no duckdb_vss_spark package and BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs_dir)
    try:
        out, record, metrics = run(args, run_root, spec)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass  # another run still uses it
    print("run " + json.dumps(record, sort_keys=True))
    for ln in out.lines:
        print(ln)
    if args.trace:
        for name, m in metrics.items():
            print(f"layer {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(out.correct), "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
