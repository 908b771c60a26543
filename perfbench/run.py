"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lake_analytics --seed 1 --seconds 12 --trace 0

Workloads: lake_analytics and ingest_backlog (see README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instruments the
layer boundaries and prints the per-layer metrics instead. Every path the
run touches lies under the repository root: the prepared lake in
``.perfbench/``, everything else in a temporary directory removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lake_analytics", "ingest_backlog")
DRIVER_MEM = "1g"


def pin_env(tmp: str) -> dict[str, str]:
    """Pin every environment variable the numbers depend on, before any JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    pinned = {
        "PYTHONPATH": ROOT,  # Python workers import the package by this path
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",  # no /tmp/hsperfdata_* files
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    for name in ("SPARK_GRAFT_AUDIT", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_PREWARM_SKIP",
                 "SPARK_GRAFT_PAR_DISCOVERY_THRESHOLD", "OMP_NUM_THREADS"):
        os.environ.pop(name, None)
    os.environ.update(pinned)
    time.tzset()
    os.makedirs(pinned["SPARK_LOCAL_DIRS"], exist_ok=True)
    return pinned


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, spark, spans, tmp: str, lake_dir: str | None) -> None:
        self.spark, self.spans, self.tmp, self.lake_dir = spark, spans, tmp, lake_dir
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.t_setup_done: float | None = None
        self.cpu_s = 0.0  # process-tree CPU of the timed phase
        self.excluded_s = 0.0  # set-up time that is not set-up (input generation)

    def log(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    def setup_done(self) -> None:
        from perfbench import proc

        self.t_setup_done = time.perf_counter()
        self.cpu_s = -proc.tree_cpu_s()

    def timed_done(self) -> None:
        from perfbench import proc

        self.cpu_s += proc.tree_cpu_s()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for needed in ("fineventstream_spark/session.py", "scripts/gen_sf.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} is not in this checkout", file=sys.stderr)
            return 2
    # import perfbench as a package from the root, not its modules as top-level names
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    try:
        env = pin_env(tmp)
        print(json.dumps({"env": env}), flush=True)
        result = _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _run(args, tmp: str) -> dict:
    from perfbench import probes, proc

    prep_s = 0.0
    lake_dir = prepared = None
    if args.workload == "lake_analytics":
        from perfbench import prepare

        t0 = time.perf_counter()
        prepared = prepare.ensure()
        prep_s = time.perf_counter() - t0
        lake_dir = prepare.LAKE_DIR

    spans = probes.Spans()
    with spans.span("session.start"):
        from fineventstream_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "1000"})
    ctx = Context(args, spark, spans, tmp, lake_dir)
    try:
        if args.workload == "lake_analytics":
            from perfbench import lake

            out = lake.run(ctx)
        else:
            from perfbench import ingest

            out = ingest.run(ctx)
        rss_mb = proc.tree_peak_rss_mb()
    finally:
        proc.stop_spark(spark)

    for name in ("session.start", "session.warm", "catalog.prewarm", "timed"):
        ctx.log(f"span {name}: {spans.total(name):.2f} s")
    metrics = dict(out["metrics"])
    metrics["setup_s"] = (ctx.t_setup_done - T_PROCESS - prep_s - ctx.excluded_s, "s")
    metrics["peak_rss_mb"] = (rss_mb, "MB")
    if args.trace:
        metrics.update({
            "session.start_s": (spans.total("session.start"), "s"),
            "session.warm_s": (spans.total("session.warm"), "s"),
            "catalog.derive_cold_s": (prepared["derive_cold_s"] if prepared else 0.0, "s"),
            "process.cpu_s": (ctx.cpu_s, "s"),
            "trace.throughput_per_s": metrics["throughput_per_s"],
        })
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": select(metrics, "per_layer" if args.trace else "end_to_end"),
    }


def select(measured: dict, kind: str) -> dict:
    """Exactly the metrics BENCHMARK.json lists under ``kind``. A layer the
    workload does not exercise reads 0 (e.g. state rows on lake_analytics)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)[kind]
    out = {}
    for m in listed:
        value, unit = measured.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: measured in {unit}, listed in {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
