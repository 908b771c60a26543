"""Partitioned lake sink (SURVEY §2.1 S7/S8) — batch and streaming.

The reference appends uniquely-named JSONL objects under
``processed/{topic}/year=/month=/day=/hour=`` with at-least-once retry
(S3 failure re-raises → whole-batch redelivery,
processor_stock_quotes.py:64-91). Spark's file-sink commit log upgrades
this to exactly-once: a restarted query never double-commits a batch.

Format note: JSONL kept for interchange parity with the reference; parquet
is the engine-native default (columnar scan, pushdown, stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from fineventstream_spark.streaming.pipelines import with_arrival_partitions

PARTITION_COLS = ("year", "month", "day", "hour")


def _normalize_checkpoint_tag(checkpoint_dir: str) -> str:
    """CWD-independent spelling of a checkpoint location for idempotence
    tags.

    Plain local paths get ``os.path.abspath`` (so ``ckpt`` and
    ``./ckpt/`` from the same directory share a tag namespace); anything
    carrying a URI scheme (``file:/x``, ``hdfs://host/x``, ``s3a://b/k``)
    is already absolute by construction and is passed through untouched —
    abspath would prepend the process CWD and strip double slashes,
    minting a different namespace per working directory (r13 advisor).
    """
    import os
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", checkpoint_dir):
        return checkpoint_dir.rstrip("/")
    return os.path.abspath(checkpoint_dir).rstrip("/")


def write_partitioned_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    trigger_seconds: int = 10,
) -> StreamingQuery:
    """Streaming append with checkpointed exactly-once commit.

    ``trigger_seconds`` mirrors the reference's 10 s Lambda batching window
    (terraform/lambda.tf:53).
    """
    return (
        with_arrival_partitions(df)
        .writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*PARTITION_COLS)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Collapse to one row per key — newest by ``order_cols`` (desc) wins.
    One shuffle on the key; per-key groups are a key's history, not the
    corpus, so the window never concentrates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_stream(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming MERGE/upsert sink: each micro-batch merges into a keyed
    snapshot table, newest version per key wins (the live form of
    q_upsert_latest's batch twin).

    A plain parquet directory cannot be read and overwritten in one job,
    so snapshots are versioned (``path/v=N``) with an atomic ``_CURRENT``
    pointer (write-tmp + rename) — the same commit shape a table format's
    transaction log provides; on a real deployment this foreachBatch body
    is one ``MERGE INTO`` against Delta/Iceberg. Exactly-once comes from
    the standard foreachBatch recipe: the pointer records the last applied
    (checkpoint, batchId), and a replayed batch (failure between write and
    checkpoint commit) is skipped instead of double-merged. Old versions
    stay until vacuumed (streaming/maintenance.py), so readers never see a
    half-written snapshot."""
    import json
    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        os.makedirs(path, exist_ok=True)
        pointer = os.path.join(path, "_CURRENT")
        state = {"version": -1, "checkpoint": checkpoint_dir, "last_batch": -1}
        if os.path.exists(pointer):
            with open(pointer) as f:
                state = json.load(f)
        if state["checkpoint"] == checkpoint_dir and batch_id <= state["last_batch"]:
            return  # replayed batch → idempotent no-op
        fresh = latest_per_key(batch_df, key_cols, order_cols)
        if state["version"] >= 0:
            base = spark.read.parquet(os.path.join(path, f"v={state['version']}"))
            merged = latest_per_key(
                base.unionByName(fresh), key_cols, order_cols
            )
        else:
            merged = fresh
        new_version = state["version"] + 1
        merged.write.mode("overwrite").parquet(os.path.join(path, f"v={new_version}"))
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"version": new_version, "checkpoint": checkpoint_dir,
                 "last_batch": batch_id},
                f,
            )
        os.replace(tmp, pointer)

    return (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_upsert_snapshot(spark, path: str) -> DataFrame:
    """Read the current snapshot behind the atomic pointer."""
    import json
    import os

    with open(os.path.join(path, "_CURRENT")) as f:
        state = json.load(f)
    return spark.read.parquet(os.path.join(path, f"v={state['version']}"))


def incremental_dedup_stream(
    df: DataFrame,
    store_path: str,
    text_col: str,
    id_col: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming incremental near-dedup: each micro-batch dedups against
    the persisted MinHash fingerprint store and folds its new
    representatives in — the LIVE form of q_llm_dedup_incremental, and
    the store-backed generalization of the reference's streaming
    high-water dedup (producer_company_news.py:128-141: only content past
    what the persisted state has seen does new work).

    Exactly-once without a transaction log, by ordering + idempotence:

    1. the batch's pair list is written ``mode("overwrite")`` into its
       own ``batch=<id>`` directory — a replay rewrites the identical
       content (the store is unchanged until step 2 commits, and every
       operator in the path is deterministic);
    2. the store append is TAGGED "<checkpoint>:<batch_id>" — the
       epoch store (operators/epoch_store.py) makes the append
       atomic, and a replayed batch whose tag already committed skips
       the whole body (its pairs directory already exists from the
       first attempt, byte-equivalent).

    A crash between 1 and 2 replays into case-1 recompute (same store
    state → same pairs); a crash after 2 replays into the tag no-op.

    CONTRACT PRECISION (r12 review): each batch's pair list is EXACTLY
    the from-scratch recompute against the store state at that batch.
    The union across batches equals the final-corpus recompute only
    while no LSH bucket crosses ``max_bucket`` between batches; a bucket
    that grows past the cap mid-stream keeps the pairs emitted while it
    was under — the union is a SUPERSET of the final-corpus recompute
    (bucket sizes only grow, so anything under the cap at the end was
    under it at every prefix). That path-dependence is inherent to
    capped incremental LSH and is the conservative direction for dedup
    (extra candidate pairs, never missed ones).
    """
    import os

    from fineventstream_spark.operators import epoch_store
    from fineventstream_spark.operators.dedup import (
        append_minhash_store,
        incremental_dedup_against_store,
        release_intermediates,
    )

    # Idempotence key: NORMALIZED checkpoint path + batch id. Spark's own
    # replay detection keys on the checkpoint contents, but our store tag
    # must match it string-for-string across restarts — a restart that
    # spells the same checkpoint differently (relative vs absolute,
    # trailing slash) would otherwise mint a fresh tag namespace and
    # double-append every replayed epoch (r12 advisor). abspath() only
    # applies to PLAIN LOCAL paths: a URI-form location ("file:/x",
    # "hdfs://host/x") is already CWD-independent, and abspath would
    # mangle it into "<cwd>/hdfs:/host/x" — a restart from a different
    # working directory would then mint a new namespace, the exact bug
    # normalization exists to prevent (r13 advisor).
    tag_prefix = _normalize_checkpoint_tag(checkpoint_dir)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"{tag_prefix}:{batch_id}"
        if epoch_store.committed(store_path, tag):
            return  # replayed, fully-committed batch
        pairs, new_sigs = incremental_dedup_against_store(
            spark,
            store_path,
            batch_df,
            text_col,
            id_col,
            threshold=threshold,
            return_new_sigs=True,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}")
        )
        append_minhash_store(new_sigs, store_path, tag=tag)
        release_intermediates(spark)

    return (
        df.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
