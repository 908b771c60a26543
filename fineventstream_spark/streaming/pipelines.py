"""The reference's two pipelines as pure DataFrame→DataFrame transforms.

Every function here is batch/stream agnostic: apply them to a static
DataFrame for the oracle-checked batch form, or to a ``readStream``
DataFrame inside a streaming query (tests do both). This is the SURVEY §7
design rule — "[R] transforms written as pure DataFrame→DataFrame fns so
they run identically under readStream/foreachBatch".

Pipeline shapes (SURVEY §3.1/§3.2):
  quotes: decode envelope → validity filter → project/rename → derive
          timestamps → partitioned sink
  news:   explode array → high-water dedup (state.py::highwater_dedup,
          which sorts each symbol's rows by id) → project → partitioned
          sink
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fineventstream_spark.schemas import RAW_QUOTE_SCHEMA


def decode_envelope(df: DataFrame, payload_schema=RAW_QUOTE_SCHEMA) -> DataFrame:
    """Kinesis-envelope decode: base64 → utf8 → JSON → typed struct.

    Payloads that are not valid base64 yield a null struct and are dropped
    here — the reference's skip-and-log semantics
    (processor_stock_quotes.py:41-44,56-60). A payload that decodes but is
    broken JSON parses PERMISSIVE into a struct of nulls and is dropped by
    the validity filter downstream. Invalid base64 is guarded by a
    validity regexp because ``unbase64`` raises under ANSI mode rather than
    returning null. ``try_to_binary(data, 'base64')`` is not a substitute:
    it accepts unpadded and space-separated text (``YWJ``, ``YWJjZA``,
    ``Y W J j``) that the guard rejects.

    The decode sits behind a generator (``inline`` over a one-element
    array) so it runs once per record. Written as a plain projection,
    Catalyst's predicate pushdown would inline the decode expression into
    every filter on its output — a null-record check and the validity
    filter's field checks — and evaluate the regexp guard, ``unbase64``
    and ``from_json`` once per pushed predicate. A filter over a
    generator's output cannot move below it; ``array_compact`` drops the
    null struct inside the generator. ``tests/test_streaming.py`` pins
    one call of each kernel per plan.
    """
    data = F.col("data")
    is_b64 = data.rlike("^[A-Za-z0-9+/\\r\\n]*={0,2}$") & (
        F.length(F.regexp_replace(data, "[\\r\\n]", "")) % 4 == 0
    )
    payload = F.when(is_b64, F.unbase64(data).cast("string"))
    rec = F.from_json(payload, payload_schema)
    return df.select("partition_key", F.inline(F.array_compact(F.array(rec))))


def filter_valid_quotes(df: DataFrame) -> DataFrame:
    """Validity filter: require price and timestamp present
    (producer_stock_quotes.py:65-70: ``'c' in data and 't' in data and
    data['c'] is not None``)."""
    return df.filter(F.col("c").isNotNull() & F.col("t").isNotNull())


def project_quote(df: DataFrame) -> DataFrame:
    """Terse→long rename + epoch→timestamp derivation + ingest stamp
    (producer_stock_quotes.py:83-111). try-semantics: a bad epoch yields
    null quote_timestamp_utc, not an error (:92-96)."""
    return df.select(
        F.col("symbol"),
        F.current_timestamp().alias("fetch_timestamp_utc"),
        F.col("t").alias("quote_timestamp_unix"),
        F.timestamp_seconds(F.col("t")).alias("quote_timestamp_utc"),
        F.col("c").alias("current_price"),
        F.col("d").alias("change"),
        F.col("dp").alias("percent_change"),
        F.col("h").alias("high_price_day"),
        F.col("l").alias("low_price_day"),
        F.col("o").alias("open_price_day"),
        F.col("pc").alias("previous_close_price"),
    )


def with_arrival_partitions(df: DataFrame, ts_col: Column | None = None) -> DataFrame:
    """Arrival-time partition columns year/month/day/hour
    (processor_stock_quotes.py:68-69 uses datetime.now — processing time)."""
    ts = ts_col if ts_col is not None else F.current_timestamp()
    return (
        df.withColumn("year", F.year(ts))
        .withColumn("month", F.month(ts))
        .withColumn("day", F.dayofmonth(ts))
        .withColumn("hour", F.hour(ts))
    )


def quote_pipeline_batch(envelopes: DataFrame) -> DataFrame:
    """Full quote path: decode → validate → project (SURVEY §3.1 stages 2-6)."""
    return project_quote(filter_valid_quotes(decode_envelope(envelopes)))
