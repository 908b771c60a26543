#!/usr/bin/env python
"""Streaming-ring throughput/latency bench (r10 verdict #3).

The [R] ring has correctness, restart, and replay coverage but no
sustained-rate numbers — and ingest is the reference's entire purpose
(reference README.md:10-16: produce → Kinesis → process → S3 lake).
This harness drives the full quote path

    rate source → Kinesis-envelope synth (base64 JSON) → decode →
    validity filter → project → watermarked dedup → partitioned
    parquet sink (exactly-once file commit)

for a fixed wall-clock window per offered rate and records, from
``query.recentProgress`` (the engine's own per-batch telemetry):

- sustained rows/s (processedRowsPerSecond, trimmed mean) vs offered;
- per-batch trigger latency distribution (p50/p90/max);
- state-store rows over time — MUST plateau: the dedup keeps each
  (symbol, ts) key only until the 10 s watermark passes ts + 10 s, so a
  monotonically growing state is a leak (the bound is asserted here and
  regression-tested in tests/test_streaming_extra.py);
- backlog signal: offered > processed with rising batch durations means
  the rate is past capacity — the harness reports the highest offered
  rate that stayed caught-up as ``max_sustained_rows_per_sec``.

The envelope synth + decode runs entirely JVM-side (to_json/base64 on
the way in, unbase64/from_json on the way out), so the measured path is
the production path — no Python worker in the hot loop.

Usage:
    python scripts/stream_bench.py [--rates 50000,150000,400000]
        [--seconds 45] [--trigger 1]
Output: JSON to stdout + .localdata/stream_bench.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fineventstream_spark.session import get_spark
from fineventstream_spark.streaming.pipelines import (
    decode_envelope,
    filter_valid_quotes,
    project_quote,
)
from fineventstream_spark.streaming.sink import write_partitioned_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def synth_envelopes(rate_df):
    """rate rows → Kinesis-shaped envelopes: the payload is the reference
    producer's quote JSON (producer_stock_quotes.py:83-96 field set),
    base64-wrapped like the Kinesis record data the processor decodes.
    ~2% of rows are duplicates (value DIV 50 collides) so the dedup stage
    has real work; all expressions are codegen-able built-ins."""
    sym = F.concat(F.lit("SYM"), (F.col("value") % 64).cast("string"))
    price = 100.0 + (F.col("value") % 10_000) / 100.0
    payload = F.to_json(
        F.struct(
            price.alias("c"),
            (price - 100.0).alias("d"),
            F.lit(0.5).alias("dp"),
            (price + 1.0).alias("h"),
            (price - 1.0).alias("l"),
            price.alias("o"),
            price.alias("pc"),
            F.unix_timestamp("timestamp").alias("t"),
            sym.alias("symbol"),
        )
    )
    return rate_df.select(
        sym.alias("partition_key"), F.base64(payload.cast("binary")).alias("data")
    )


def quote_stream(spark, rate: int, partitions: int = 8):
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rate))
        .option("numPartitions", str(partitions))
        .load()
    )
    decoded = project_quote(filter_valid_quotes(decode_envelope(synth_envelopes(raw))))
    # the ingest stage of perfbench/ingest.py: a key expires once the
    # watermark passes its event time + 10 s, i.e. ~20 s after it was
    # seen, so state plateaus well inside a 45 s window
    return decoded.withWatermark(
        "quote_timestamp_utc", "10 seconds"
    ).dropDuplicatesWithinWatermark(["symbol", "quote_timestamp_unix"])


def run_rate(spark, rate: int, seconds: int, trigger: int, workdir: str,
             partitions: int = 8) -> dict:
    sink = os.path.join(workdir, f"lake_{rate}_{partitions}")
    ckpt = os.path.join(workdir, f"ckpt_{rate}_{partitions}")
    q = write_partitioned_stream(
        quote_stream(spark, rate, partitions), sink, ckpt, trigger_seconds=trigger
    )
    try:
        time.sleep(seconds)
    finally:
        q.stop()
        q.awaitTermination(30)
    prog = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in prog if p.get("numInputRows", 0) > 0]
    if not batches:
        return {"offered_rows_per_sec": rate, "batches": 0}
    lat = sorted(p["durationMs"]["triggerExecution"] for p in batches)
    proc = [p["processedRowsPerSecond"] for p in batches if p.get("processedRowsPerSecond")]
    state = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in batches
        if p.get("stateOperators")
    ]
    # steady-state = drop the first third (stream warm-up: shuffle/state
    # init, first file commits)
    steady = proc[len(proc) // 3:]
    # max(1, ...) guards the single-batch case (a rate far past capacity
    # with a short window): mean(()) raises StatisticsError and would kill
    # the sweep after the earlier rates' unsaved work
    half = max(1, len(batches) // 2)
    early_ms = statistics.mean(
        p["durationMs"]["triggerExecution"] for p in batches[:half]
    )
    late_ms = statistics.mean(
        p["durationMs"]["triggerExecution"] for p in batches[half:]
        # single batch: late == early, backlog_growing correctly False
    ) if batches[half:] else early_ms
    # state plateau: the last third must not set a NEW peak — i.e. the
    # max was reached before expiry kicked in. (The first cut compared
    # max(last_third) <= max(state), a tautology since last_third ⊆
    # state; a monotonically leaking store passed it.)
    last_third = state[-max(1, len(state) // 3):]
    head = state[: len(state) - len(last_third)]
    n_files = sum(
        1
        for dp, _, fs in os.walk(sink)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "offered_rows_per_sec": rate,
        "batches": len(batches),
        "input_rows_total": sum(p["numInputRows"] for p in batches),
        "sustained_rows_per_sec": round(statistics.mean(steady), 1) if steady else None,
        "trigger_ms_p50": lat[len(lat) // 2],
        "trigger_ms_p90": lat[int(len(lat) * 0.9)],
        "trigger_ms_max": lat[-1],
        "batch_ms_first_half_mean": round(early_ms, 1),
        "batch_ms_second_half_mean": round(late_ms, 1),
        "backlog_growing": late_ms > 1.5 * early_ms and late_ms > 1000.0 * trigger,
        "state_rows_max": max(state) if state else None,
        "state_rows_final": state[-1] if state else None,
        "state_plateaued": bool(head) and max(last_third) <= max(head),
        "sink_parquet_files": n_files,
        "caught_up": (not (late_ms > 1.5 * early_ms and late_ms > 1000.0 * trigger))
        and (statistics.mean(steady) >= 0.9 * rate if steady else False),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rates", default="50000,150000,400000")
    ap.add_argument("--seconds", type=int, default=45)
    ap.add_argument("--trigger", type=int, default=1)
    ap.add_argument("--partitions", type=int, default=8,
                    help="rate-source partitions = decode parallelism")
    a = ap.parse_args()

    spark = get_spark(app_name="stream-bench")
    workdir = tempfile.mkdtemp(prefix="stream_bench_")
    results = []
    try:
        for rate in (int(r) for r in a.rates.split(",")):
            print(f"# rate {rate}/s for {a.seconds}s ...", file=sys.stderr)
            r = run_rate(spark, rate, a.seconds, a.trigger, workdir,
                         partitions=a.partitions)
            results.append(r)
            print(json.dumps(r), file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    sustained = [r["offered_rows_per_sec"] for r in results if r.get("caught_up")]
    ev = {
        "trigger_seconds": a.trigger,
        "source_partitions": a.partitions,
        "window_seconds": a.seconds,
        "max_sustained_rows_per_sec": max(sustained) if sustained else None,
        "rates": results,
    }
    out = os.path.join(REPO, ".localdata", "stream_bench.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(ev, f, indent=2)
    print(json.dumps(ev, indent=2))


if __name__ == "__main__":
    main()
