"""Ring-[R] streaming semantics tests (SURVEY §5.3): file-source streaming
queries with memory sinks — watermark/dedup/window-close behavior that has
no DuckDB twin.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import tempfile
import time

import pytest

from pyspark.sql import functions as F

from fineventstream_spark.operators.plan_audit import kernel_counts
from fineventstream_spark.schemas import COMPANY_NEWS_SCHEMA, ENVELOPE_SCHEMA
from fineventstream_spark.streaming.pipelines import quote_pipeline_batch
from fineventstream_spark.streaming.sink import write_partitioned_stream
from fineventstream_spark.streaming.state import highwater_dedup


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="fes_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_jsonl(path: str, name: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(path, name))  # atomic: file sources need complete files


def _envelope(symbol: str, payload: dict) -> dict:
    data = base64.b64encode(json.dumps(payload).encode()).decode()
    return {"partition_key": symbol, "data": data}


def _mixed_envelopes() -> list[dict]:
    """One good quote, one without a price, one truncated JSON payload and
    one payload that is not base64."""
    good = _envelope("AAPL", {"c": 190.5, "d": 1.2, "dp": 0.6, "h": 191.0, "l": 188.0,
                              "o": 189.0, "pc": 189.3, "t": 1704067200, "symbol": "AAPL"})
    no_price = _envelope("MSFT", {"t": 1704067200, "symbol": "MSFT"})  # fails validity filter
    bad_json = {"partition_key": "NVDA", "data": base64.b64encode(b'{"c": 5').decode()}
    bad_b64 = {"partition_key": "META", "data": "!!!not-base64!!!"}
    return [good, no_price, bad_json, bad_b64]


def _decode_kernels(plan: str) -> dict:
    counts = kernel_counts(plan)
    return {k: counts[k] for k in ("from_json", "rlike", "unbase64")}


def test_quote_pipeline_streaming(spark, tmpdir):
    """Envelope decode → validate → project, running as a streaming query;
    malformed payloads are skipped exactly like the batch form."""
    src = os.path.join(tmpdir, "src")
    _write_jsonl(src, "batch1.jsonl", _mixed_envelopes())

    stream = spark.readStream.schema(ENVELOPE_SCHEMA).json(src)
    out = quote_pipeline_batch(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("quotes_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM quotes_out").collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["symbol"] == "AAPL"
    assert r["current_price"] == 190.5
    assert r["quote_timestamp_unix"] == 1704067200
    assert str(r["quote_timestamp_utc"]).startswith("2024-01-01")


def test_decode_envelope_runs_once_per_record(spark, tmpdir):
    """The batch quote path evaluates the base64 guard, unbase64 and
    from_json once per record: no filter above the decode may carry a copy
    of it. Only the non-base64 payload is dropped inside the decode; the
    truncated-JSON and price-less records reach the validity filter."""
    from fineventstream_spark.streaming.pipelines import decode_envelope, filter_valid_quotes

    src = os.path.join(tmpdir, "src")
    _write_jsonl(src, "batch1.jsonl", _mixed_envelopes())
    envelopes = spark.read.schema(ENVELOPE_SCHEMA).json(src)
    decoded = decode_envelope(envelopes)
    assert sorted(r.partition_key for r in decoded.collect()) == ["AAPL", "MSFT", "NVDA"]
    assert [r.partition_key for r in filter_valid_quotes(decoded).collect()] == ["AAPL"]

    out = quote_pipeline_batch(envelopes)
    assert [r.symbol for r in out.collect()] == ["AAPL"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _decode_kernels(plan) == {"from_json": 1, "rlike": 1, "unbase64": 1}, plan


def test_streaming_dedup_decodes_once_per_record(spark, tmpdir):
    """The same holds in the ingest query's micro-batches, with the
    watermark filter and dedup above the decode. The plan comes from the
    batch that carried data: the long trigger interval keeps the follow-up
    no-data batch (whose source is empty) from replacing it."""
    src = os.path.join(tmpdir, "src")
    _write_jsonl(src, "batch1.jsonl", _mixed_envelopes())
    deduped = (
        quote_pipeline_batch(spark.readStream.schema(ENVELOPE_SCHEMA).json(src))
        .withWatermark("quote_timestamp_utc", "10 seconds")
        .dropDuplicatesWithinWatermark(["symbol", "quote_timestamp_unix"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("quotes_dedup_once")
        .outputMode("append")
        .trigger(processingTime="1 hour")
        .start()
    )
    try:
        deadline = time.time() + 60
        while not any(p["numInputRows"] for p in q.recentProgress):
            assert time.time() < deadline, "no micro-batch carried data"
            time.sleep(0.2)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    assert "StreamingDeduplicateWithinWatermark" in plan, plan
    assert _decode_kernels(plan) == {"from_json": 1, "rlike": 1, "unbase64": 1}, plan
    assert [r.symbol for r in spark.sql("SELECT * FROM quotes_dedup_once").collect()] == ["AAPL"]


def _news_row(symbol: str, news_id: int, unix: int) -> dict:
    return {
        "symbol": symbol,
        "news_id": news_id,
        "article_published_unix": unix,
        "headline": f"h{news_id}",
        "summary": "s",
        "category": "company",
        "source": "src",
        "url": "u",
        "image_url": None,
    }


def test_highwater_dedup_exact_semantics(spark, tmpdir):
    """T2: id <= high-water mark dropped even if never seen; state advances
    per batch and survives across micro-batches (reference
    producer_company_news.py:122-141)."""
    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")

    schema = "symbol string, news_id long, article_published_unix long, headline string"
    _write_jsonl(src, "b1.jsonl", [
        _news_row("AAPL", 10, 1704067200),
        _news_row("AAPL", 12, 1704067260),
        _news_row("MSFT", 5, 1704067200),
    ])

    out_dir = os.path.join(tmpdir, "out")
    stream = spark.readStream.schema(schema).json(src)
    deduped = highwater_dedup(stream, schema)

    def run_once():
        # file sink (not memory): supports checkpoint recovery → the second
        # run restores the state store, proving the hwm survives restarts
        q = (
            deduped.writeStream.format("json")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {(r.symbol, r.news_id) for r in spark.read.schema(schema).json(out_dir).collect()}
    assert got == {("AAPL", 10), ("AAPL", 12), ("MSFT", 5)}

    # batch 2: duplicate (12), below-hwm-but-unseen (11 — must be DROPPED:
    # exact reference semantics), and genuinely new (13, MSFT 7)
    _write_jsonl(src, "b2.jsonl", [
        _news_row("AAPL", 12, 1704067260),
        _news_row("AAPL", 11, 1704067230),
        _news_row("AAPL", 13, 1704067300),
        _news_row("MSFT", 7, 1704067300),
    ])
    run_once()  # same checkpoint → state restored across "restart"
    got2 = {(r.symbol, r.news_id) for r in spark.read.schema(schema).json(out_dir).collect()}
    assert got2 == got | {("AAPL", 13), ("MSFT", 7)}, f"exact hwm semantics violated: {got2}"


def test_tumbling_window_with_watermark(spark, tmpdir):
    """T3/T4: watermarked tumbling window — the 2-day-lookback analog."""
    src = os.path.join(tmpdir, "src")
    rows = [
        {"ts": "2024-01-01 10:05:00", "symbol": "AAPL", "price": 10.0},
        {"ts": "2024-01-01 10:55:00", "symbol": "AAPL", "price": 20.0},
        {"ts": "2024-01-01 11:05:00", "symbol": "AAPL", "price": 30.0},
    ]
    _write_jsonl(src, "b1.jsonl", rows)
    stream = (
        spark.readStream.schema("ts timestamp, symbol string, price double").json(src)
        .withWatermark("ts", "2 days")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "symbol")
        .agg(F.count("*").alias("n"), F.max("price").alias("hi"))
        .select(F.col("w.start").alias("ws"), "symbol", "n", "hi")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("bars")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    bars = {str(r.ws): (r.n, r.hi) for r in spark.sql("SELECT * FROM bars").collect()}
    assert bars == {"2024-01-01 10:00:00": (2, 20.0), "2024-01-01 11:00:00": (1, 30.0)}


def test_partitioned_stream_sink_exactly_once(spark, tmpdir):
    """S7/S8: partitioned file sink with checkpoint — re-running the same
    source does not duplicate rows (exactly-once upgrade over the
    reference's at-least-once)."""
    src = os.path.join(tmpdir, "src")
    out = os.path.join(tmpdir, "lake")
    ckpt = os.path.join(tmpdir, "ckpt")
    _write_jsonl(src, "b1.jsonl", [{"symbol": "AAPL", "price": 1.0}, {"symbol": "MSFT", "price": 2.0}])

    stream = spark.readStream.schema("symbol string, price double").json(src)
    for _ in range(2):  # second run replays from checkpoint → no dupes
        q = write_partitioned_stream(stream, out, ckpt, fmt="json", trigger_seconds=1)
        # availableNow is set by trigger in sink? No — run briefly then stop
        q.processAllAvailable()
        q.stop()

    back = spark.read.json(out)
    assert back.count() == 2
    # hive partition dirs present
    years = [d for d in os.listdir(out) if d.startswith("year=")]
    assert years, f"no partition dirs in {os.listdir(out)}"


def test_checkpoints_use_filesystem_checkpoint_manager(spark, tmpdir):
    """The engine session writes checkpoints through FileSystem.rename, not
    FileContext (which forks a readlink process per rename without the
    native Hadoop library). Resolved the way a streaming query resolves its
    manager, so a PySpark upgrade that moves the class fails here by name."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(f"file:{tmpdir}")
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    resolved = manager.create(path, hadoop_conf).getClass().getName()
    assert resolved.endswith(".FileSystemBasedCheckpointFileManager"), resolved


def test_upsert_stream_latest_wins_and_replay_is_idempotent(spark):
    """Streaming MERGE sink: two micro-batch rounds with overlapping keys
    collapse to newest-version-per-key; re-running the stream over the
    same source with the same checkpoint applies nothing twice."""
    from fineventstream_spark.streaming.sink import (
        read_upsert_snapshot,
        upsert_stream,
    )

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        table = os.path.join(d, "table")
        ckpt = os.path.join(d, "ckpt")
        os.makedirs(src)

        def put(name, rows):
            with open(os.path.join(src, name), "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")

        def run():
            stream = spark.readStream.schema(
                "k long, v string, ver long"
            ).option("maxFilesPerTrigger", "1").json(src)
            q = upsert_stream(stream, table, ["k"], ["ver"], ckpt)
            q.awaitTermination(120)

        put("b1.jsonl", [{"k": 1, "v": "a1", "ver": 1}, {"k": 2, "v": "b1", "ver": 1}])
        put("b2.jsonl", [{"k": 1, "v": "a2", "ver": 2}, {"k": 3, "v": "c1", "ver": 1}])
        run()
        got = {r.k: (r.v, r.ver) for r in read_upsert_snapshot(spark, table).collect()}
        assert got == {1: ("a2", 2), 2: ("b1", 1), 3: ("c1", 1)}

        # replay: same checkpoint, no new files → snapshot version unchanged
        before = open(os.path.join(table, "_CURRENT")).read()
        run()
        assert open(os.path.join(table, "_CURRENT")).read() == before

        # out-of-order late update (older version) must NOT displace newer
        put("b3.jsonl", [{"k": 1, "v": "a0", "ver": 0}])
        run()
        got = {r.k: (r.v, r.ver) for r in read_upsert_snapshot(spark, table).collect()}
        assert got[1] == ("a2", 2)
