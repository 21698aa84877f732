"""Seeded end-to-end benchmark of the search engine.

Run from the repository root:

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``index`` (cold build, then a
closed-loop query mix; traced runs add an upsert with a read after the
write and a compaction) and ``headline`` (ad-hoc headline UDFs over
documents, no index). One driver process runs a closed loop with one
client on ``local[4]`` with a 2 GB driver heap.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
names the workload-specific metrics with their units. A traced run also
writes its spans to ``perfbench/_work/<workload>-<seed>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_ms": "ms",
             "peak_mem_mb": "MB"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("index", "headline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str):
    """local[4] Spark session whose scratch files stay under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is committed and touched up front, so peak RSS does not
    # depend on when the collector happened to grow it
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch")
    spark = (SparkSession.builder.master("local[4]")
             .appName("perfbench")
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.sql.catalogImplementation", "in-memory")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pg_ts_semantic_headline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from tracing import MemSampler, Tracer, process_tree
    from workloads import WORKLOADS, Run

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the engine from this checkout; temp files stay
    # inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    run = Run(args.seed, args.seconds, bool(args.trace), work)
    with MemSampler() as mem:
        t_start = time.perf_counter()
        spark = _session(work)
        tracer = Tracer(spark, enabled=run.trace)
        try:
            WORKLOADS[args.workload](spark, tracer, run, t_start)
        finally:
            if run.trace:
                tracer.write(os.path.join(work, "trace.json"))
            _stop(spark, process_tree(os.getpid())[1:])
            _clean(work)
    run.e2e["peak_mem_mb"] = mem.peak_mb
    if run.trace:
        loop_s = sum(r["wall_ms"] for r in tracer.ops) / 1000.0
        run.layers["trace.overhead_pct"] = 100.0 * tracer.tracer_s / max(
            loop_s, 1e-9)

    for e in run.errors[:20]:
        print(f"perfbench: WRONG {e}", file=sys.stderr)
    detail = {k: {"value": v, "unit": u} for k, (v, u) in run.detail.items()}
    detail["phase_s"] = {"value": run.phases.seconds, "unit": "s"}
    detail["failed_frac"] = {"value": run.failed / max(run.attempted, 1),
                             "unit": "ratio"}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": detail}))
    if run.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in sorted(run.layers.items())}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


def _stop(spark, pids: list) -> None:
    """Stop Spark, then wait until the JVM and its Python workers (``pids``,
    taken before the stop) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def _clean(work: str) -> None:
    """Delete the run's scratch files; only trace.json is kept."""
    for name in os.listdir(work):
        path = os.path.join(work, name)
        if name != "trace.json":
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    if not os.listdir(work):
        os.rmdir(work)


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    for suffix, unit in (("mb_per_s", "MB/s"), ("words_per_s", "words/s"),
                         ("_pct", "%"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s")):
        if leaf.endswith(suffix):
            return unit
    return "count" if leaf in ("jobs", "stages", "tasks") else "ratio"


if __name__ == "__main__":
    sys.exit(main())
