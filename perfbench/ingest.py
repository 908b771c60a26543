"""``ingest_backlog``: the write side of the lake, closed loop.

It runs the package's quote pipeline on Kinesis-shaped envelope files:

    read_envelope_stream("file") -> decode_envelope -> filter_valid_quotes
    -> project_quote -> watermarked dedup on (symbol, quote_timestamp_unix)
    -> write_partitioned_stream (parquet lake, exactly-once file sink)

A pre-generated backlog drains in large micro-batches, back to back.
The seed places duplicates, malformed and invalid records and late events;
their counts never change.
"""

from __future__ import annotations

import base64
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import probes

WATERMARK_S = 10  # event-time delay of the dedup; state rows expire 2x this behind the newest
T0 = 1_760_000_000  # event-time origin (epoch seconds)
LATE_AGE_S = 3600  # late events are this much older than T0: always behind the watermark
DUP_SHARE, MALFORMED_SHARE, INVALID_SHARE, LATE_SHARE = 0.02, 0.01, 0.005, 0.005

SYMBOLS, SECS_PER_FILE = 500, 6  # 3,000 quotes per file
FILES_PER_S = 8  # backlog files per second of --seconds
MAX_FILES = 8  # files per micro-batch
WARM_BATCHES = 4  # micro-batches of the untimed warm-up drain


@dataclass
class Plan:
    """Envelope files and what the lake must hold after they land."""

    files: list[bytes]
    symbols: list[str]
    grid_seconds: int  # landed keys: every symbol x every second in [T0, T0 + grid_seconds)
    envelopes: int
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def expected_rows(self) -> int:
        return len(self.symbols) * self.grid_seconds


def _symbols(rng: np.random.Generator, n: int) -> list[str]:
    out: set[str] = set()
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    while len(out) < n:
        out.add("".join(letters[rng.integers(0, 26, rng.integers(3, 6))]))
    return sorted(out)


def _envelope(symbol: str, payload: str) -> str:
    data = base64.b64encode(payload.encode()).decode()
    return f'{{"partition_key":"{symbol}","data":"{data}"}}'


def _quote(symbol: str, t: int, c: float, pc: float) -> str:
    d = c - pc
    return (f'{{"c":{c:.2f},"d":{d:.2f},"dp":{100 * d / pc:.4f},"h":{c * 1.01:.2f},'
            f'"l":{c * 0.99:.2f},"o":{pc * 1.002:.2f},"pc":{pc:.2f},"t":{t},"symbol":"{symbol}"}}')


def make_plan(seed: int, n_files: int, symbols: int, secs_per_file: int,
              late_from_file: int) -> Plan:
    """Deterministic envelope files for ``seed``; record counts depend only on the sizes.
    Late events go to files from ``late_from_file`` on (none when that is past the end)."""
    rng = np.random.default_rng(seed)
    syms = _symbols(rng, symbols)
    prev_close = rng.uniform(20, 900, symbols)
    lines: list[list[str]] = [[] for _ in range(n_files)]
    grid: list[list[str]] = [[] for _ in range(n_files)]
    for f in range(n_files):
        for s in range(secs_per_file):
            t = T0 + f * secs_per_file + s
            price = prev_close * (1 + rng.normal(0, 0.01, symbols))
            for k, sym in enumerate(syms):
                grid[f].append(_envelope(sym, _quote(sym, t, price[k], prev_close[k])))
        lines[f].extend(grid[f])
    n_grid = n_files * secs_per_file * symbols
    counts = {name: round(share * n_grid) for name, share in (
        ("duplicates", DUP_SHARE), ("malformed", MALFORMED_SHARE),
        ("invalid", INVALID_SHARE), ("late", LATE_SHARE if late_from_file < n_files else 0))}
    for _ in range(counts["duplicates"]):  # a resend lands in the same or the next file
        f = int(rng.integers(0, n_files))
        original = grid[f][int(rng.integers(0, len(grid[f])))]
        lines[min(f + int(rng.integers(0, 2)), n_files - 1)].append(original)
    for i in range(counts["malformed"]):
        sym = syms[int(rng.integers(0, symbols))]
        bad = (f'{{"partition_key":"{sym}","data":"not*base64"}}' if i % 2 else
               _envelope(sym, f'{{"c":1.0,"t":{T0},"symbol":"{sym}"'))  # truncated JSON
        lines[int(rng.integers(0, n_files))].append(bad)
    t_after = T0 + n_files * secs_per_file
    for i in range(counts["invalid"]):  # no price: filter_valid_quotes drops it
        sym = syms[int(rng.integers(0, symbols))]
        payload = f'{{"c":null,"t":{t_after + i},"symbol":"{sym}"}}'
        lines[int(rng.integers(0, n_files))].append(_envelope(sym, payload))
    for i in range(counts["late"]):
        sym = syms[int(rng.integers(0, symbols))]
        payload = _quote(sym, T0 - LATE_AGE_S - i, 100.0, 99.0)
        lines[int(rng.integers(late_from_file, n_files))].append(_envelope(sym, payload))
    files = []
    for f in range(n_files):
        order = rng.permutation(len(lines[f]))
        files.append(("\n".join(lines[f][i] for i in order) + "\n").encode())
    envelopes = sum(len(x) for x in lines)
    return Plan(files, syms, n_files * secs_per_file, envelopes, counts)


def write_backlog(plan: Plan, directory: str) -> None:
    """All files at once, with strictly increasing mtimes so batches are deterministic."""
    os.makedirs(directory, exist_ok=True)
    base_ns = time.time_ns() - len(plan.files) * 1_000_000
    for i, data in enumerate(plan.files):
        path = os.path.join(directory, f"part-{i:05d}.jsonl")
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, ns=(base_ns + i * 1_000_000,) * 2)


def start_query(spark, in_dir: str, lake: str, ckpt: str):
    from fineventstream_spark.sources.connector import read_envelope_stream
    from fineventstream_spark.streaming.pipelines import (
        decode_envelope,
        filter_valid_quotes,
        project_quote,
    )
    from fineventstream_spark.streaming.sink import write_partitioned_stream

    options = {"path": in_dir, "maxFilesPerTrigger": str(MAX_FILES)}
    quotes = project_quote(filter_valid_quotes(decode_envelope(
        read_envelope_stream(spark, "file", options))))
    deduped = quotes.withWatermark(
        "quote_timestamp_utc", f"{WATERMARK_S} seconds"
    ).dropDuplicatesWithinWatermark(["symbol", "quote_timestamp_unix"])
    return write_partitioned_stream(deduped, lake, ckpt, trigger_seconds=0)


def file_commit_times(ckpt: str) -> dict[str, float]:
    """Input file name -> mtime of the commit of the batch that read it."""
    commits = {}
    commit_dir = os.path.join(ckpt, "commits")
    for name in os.listdir(commit_dir) if os.path.isdir(commit_dir) else ():
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(commit_dir, name)).st_mtime
    out = {}
    for entry in probes.log_entries(os.path.join(ckpt, "sources", "0")):
        batch = entry["batchId"]
        if batch in commits:
            out[os.path.basename(entry["path"])] = commits[batch]
    return out


def check_lake(spark, lake: str, plan: Plan, log) -> tuple[int, int]:
    """Failures found in the landed lake, and its row count: it must hold
    exactly the plan's distinct valid on-time quotes, each once, and
    nothing else."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(lake)
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("symbol", "quote_timestamp_unix").alias("keys"),
        F.min("quote_timestamp_unix").alias("t_min"),
        F.max("quote_timestamp_unix").alias("t_max"),
        F.sum(F.when(F.col("current_price").isNull(), 1).otherwise(0)).alias("no_price"),
        F.sum(F.when(F.col("symbol").isin(plan.symbols), 0).otherwise(1)).alias("bad_symbol"),
    ).collect()[0].asDict()
    want = {"rows": plan.expected_rows, "keys": plan.expected_rows, "t_min": T0,
            "t_max": T0 + plan.grid_seconds - 1, "no_price": 0, "bad_symbol": 0}
    if row != want:
        log(f"lake check: got {row}, want {want}")
        return 1, row["rows"]
    return 0, row["rows"]


def _progress_metrics(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in data)  # noqa: E731
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    custom = lambda k: sum(s.get("customMetrics", {}).get(k, 0) for s in state)  # noqa: E731
    return {
        "streaming.batches": (len(data), "count"),
        "streaming.trigger_ms_p50": (
            statistics.median(p["durationMs"]["triggerExecution"] for p in data) if data else 0.0, "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "sources.latest_offset_ms": (dur("latestOffset"), "ms"),
        "sources.get_batch_ms": (dur("getBatch"), "ms"),
        "sources.input_rows": (sum(p["numInputRows"] for p in data), "count"),
        "state.rows_total": (max((s["numRowsTotal"] for s in state), default=0), "count"),
        "state.memory_bytes": (max((s["memoryUsedBytes"] for s in state), default=0), "B"),
        "state.commit_ms": (sum(s.get("commitTimeMs", 0) for s in state), "ms"),
        "state.rows_dropped_by_watermark": (sum(s.get("numRowsDroppedByWatermark", 0) for s in state), "count"),
        "state.duplicates_dropped": (custom("numDroppedDuplicateRows"), "count"),
    }


def _pipeline_drops(spark, in_dir: str) -> dict:
    """Records each pipeline stage drops, counted by Spark on the same files in batch form."""
    from fineventstream_spark.schemas import ENVELOPE_SCHEMA
    from fineventstream_spark.streaming.pipelines import decode_envelope, filter_valid_quotes

    envelopes = spark.read.schema(ENVELOPE_SCHEMA).json(in_dir)
    decoded = decode_envelope(envelopes)
    n_env, n_dec, n_valid = envelopes.count(), decoded.count(), filter_valid_quotes(decoded).count()
    return {"pipelines.malformed_dropped": (n_env - n_dec, "count"),
            "pipelines.invalid_dropped": (n_dec - n_valid, "count")}


def _late_from(n_files: int) -> int:
    """First file that may carry late events. The dedup drops late rows by
    the watermark of the batch before last, so a late event must arrive at
    least two batches after the first one with data."""
    return max(n_files * 3 // 4, 2 * MAX_FILES + 1)


def _plan(seed: int, n_files: int) -> Plan:
    return make_plan(seed, n_files, SYMBOLS, SECS_PER_FILE, late_from_file=_late_from(n_files))


def run(ctx) -> dict:
    spark, spans = ctx.spark, ctx.spans
    root = os.path.join(ctx.tmp, "ingest")
    in_dir, lake, ckpt = (os.path.join(root, x) for x in ("in", "lake", "ckpt"))
    warm = os.path.join(root, "warm")
    with spans.span("generator.gen"):
        plan = _plan(ctx.seed, round(ctx.seconds * FILES_PER_S))
        write_backlog(plan, in_dir)
        write_backlog(_plan(ctx.seed + 1_000_003, WARM_BATCHES * MAX_FILES),
                      os.path.join(warm, "in"))
    ctx.excluded_s = spans.total("generator.gen")
    # an untimed warm-up drain through a query of its own: the batch time
    # still falls by about a third over the first few batches (JIT)
    with spans.span("session.warm"):
        q = start_query(spark, os.path.join(warm, "in"), os.path.join(warm, "lake"),
                        os.path.join(warm, "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    ctx.setup_done()

    counter = probes.Py4jCounter(spark.sparkContext._gateway._gateway_client) if ctx.trace else None
    with spans.span("timed"):
        t_start = time.time()
        with spans.span("construct"):
            calls0 = counter.calls if counter else 0
            q = start_query(spark, in_dir, lake, ckpt)
            construct_calls = (counter.calls - calls0) if counter else 0
        try:
            q.processAllAvailable()
            committed = file_commit_times(ckpt)
            progress = [json.loads(p.json) for p in q.recentProgress]
            run_id = str(q.runId)
        finally:
            q.stop()
    ctx.timed_done()
    if counter:
        counter.close()

    names = [f"part-{i:05d}.jsonl" for i in range(len(plan.files))]
    landing = [committed[n] - t_start for n in names if n in committed]
    failed = len(names) - len(landing)
    if failed:
        ctx.log(f"{failed} files not committed")
    wall = max(committed.values(), default=t_start) - t_start
    rows_in = sum(p["numInputRows"] for p in progress)
    lake_failed, rows_landed = check_lake(spark, lake, plan, ctx.log)
    failed += lake_failed
    ctx.log(f"{len(plan.files)} files, {plan.envelopes} envelopes, {rows_in} read "
            f"in {wall:.2f} s; landing p50/p90 {probes.quantile(landing or [0.0], 0.5):.3f}/"
            f"{probes.quantile(landing or [0.0], 0.9):.3f} s; trigger ms: "
            f"{[p['durationMs']['triggerExecution'] for p in progress if p['numInputRows']]}")
    # the median batch: the first batch of a drain still pays JIT compilation
    rate = statistics.median(p["numInputRows"] / p["durationMs"]["triggerExecution"] * 1e3
                             for p in progress if p["numInputRows"])
    metrics = {
        "throughput_per_s": (rate, "1/s"),
        "latency_p50_s": (statistics.median(landing) if landing else 0.0, "s"),
    }
    if ctx.trace:
        metrics.update(_progress_metrics(progress))
        metrics.update(_execute_metrics(spark, run_id))
        metrics["execute.wall_s"] = (wall, "s")
        metrics.update(_sink_metrics(lake, progress, rows_landed))
        metrics.update(_pipeline_drops(spark, in_dir))
        metrics["pipelines.useful_ratio"] = (rows_landed / plan.envelopes, "ratio")
        metrics["construct_s"] = (spans.total("construct"), "s")
        metrics["py4j_calls"] = (construct_calls, "count")
        metrics["generator.gen_s"] = (spans.total("generator.gen"), "s")
    # every file read, plus the lake check
    return {"attempted": len(plan.files) + 1, "failed": failed, "metrics": metrics}


def _execute_metrics(spark, run_id: str) -> dict:
    stats = probes.job_stats(spark, run_id)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_bytes": "B",
             "shuffle_write_records": "count", "input_bytes": "B", "spill_bytes": "B", "executor_run_s": "s",
             "executor_cpu_s": "s", "jvm_gc_s": "s"}
    out = {f"execute.{k}": (stats[k], u) for k, u in units.items()}
    out["execute.task_skew"] = (stats["task_max_s"] / stats["task_med_s"] if stats["task_med_s"] else 1.0, "ratio")
    return out


def _sink_metrics(lake: str, progress: list[dict], rows: int) -> dict:
    """``rows`` is the landed row count check_lake read (the file sink
    reports no output rows in its progress)."""
    files = probes.sink_files(lake)
    size = sum(f["size"] for f in files)
    batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
    return {
        "sink.files_written": (len(files), "count"),
        "sink.bytes_written": (size, "B"),
        "sink.bytes_per_row": (size / rows, "B"),
        "sink.files_per_batch": (len(files) / batches if batches else 0.0, "count"),
    }
