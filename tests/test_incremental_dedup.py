"""Incremental corpus dedup vs the persisted MinHash fingerprint store
(operators/dedup.py, r12): equivalence with the from-scratch recompute,
the append path, and the store's partition layout.

The equivalence assertions here are the collect()-level twin of
q_llm_dedup_incremental's hash-checked ``matches_recompute`` gate — these
run on ADVERSARIAL synthetic corpora (boilerplate past the bucket cap,
exact dups crossing the history/shard boundary, shard-internal dups,
near-dup mutations) that the fixture corpus may not exercise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fineventstream_spark.operators import dedup, epoch_store

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


def _mk_text(i: int, words: int = 20) -> str:
    return " ".join(VOCAB[(i * 7 + j * 3) % len(VOCAB)] for j in range(words))


def _corpus(spark):
    """200 docs: ids 0..179 history, 180..199 shard. Plants:
    - boilerplate: ids 0..59 all share ONE text (collapse + cap stress);
      shard ids 180,181 are copies of it (cross-boundary exact dups);
    - near dups: shard 182..185 are history texts 100..103 + one token;
    - shard-internal dups: 190 == 191 == 192 (a shard-only text);
    - the rest unique."""
    rows = []
    boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    for i in range(180):
        rows.append((i, boiler if i < 60 else _mk_text(i)))
    rows.append((180, boiler))
    rows.append((181, boiler))
    for k, src in enumerate(range(100, 104)):
        rows.append((182 + k, _mk_text(src) + " zzneardup"))
    shard_only = _mk_text(990)
    for i in (190, 191, 192):
        rows.append((i, shard_only))
    for i in (186, 187, 188, 189, 193, 194, 195, 196, 197, 198, 199):
        rows.append((i, _mk_text(i)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _from_scratch_restricted(docs, thr, threshold=0.5):
    from fineventstream_spark.queries.llm import _exact_collapse, _star_edges

    rep_corpus, members = _exact_collapse(docs)
    cands = (
        dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", F.lit("lsh").alias("kind"))
    )
    star = _star_edges(members, "est_jaccard", 1.0).select(
        "id_a", "id_b", "est_jaccard", F.lit("exact").alias("kind")
    )
    return (
        cands.unionByName(star)
        .filter((F.col("id_a") >= thr) | (F.col("id_b") >= thr))
    )


def _pairs(df):
    return sorted(
        (r.id_a, r.id_b, r.est_jaccard, r.kind)
        for r in df.select("id_a", "id_b", "est_jaccard", "kind").collect()
    )


def test_incremental_matches_recompute_synthetic(spark, tmp_path):
    docs = _corpus(spark)
    thr = 180
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < thr), "text", "doc_id", store
    )
    inc = dedup.incremental_dedup_against_store(
        spark, store, docs.filter(F.col("doc_id") >= thr), "text", "doc_id",
        threshold=0.5,
    )
    got = _pairs(inc)
    want = _pairs(_from_scratch_restricted(docs, thr))
    assert got == want
    # sanity on the plants themselves, not just self-consistency:
    exact_targets = {b for a, b, e, k in got if k == "exact"}
    assert {180, 181, 191, 192} <= exact_targets
    near_ids = {b for a, b, e, k in got if k == "lsh"} | {
        a for a, b, e, k in got if k == "lsh"
    }
    # ≥3 of 4 near plants surface (the 7-word-period _mk_text shingle
    # sets put one plant's signature estimate under the 0.5 threshold —
    # identically in both runs, which is what the equivalence asserts)
    assert len({182, 183, 184, 185} & near_ids) >= 3


def test_append_then_second_shard(spark, tmp_path):
    docs = _corpus(spark)
    thr1, thr2 = 180, 190
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < thr1), "text", "doc_id", store
    )
    shard1 = docs.filter((F.col("doc_id") >= thr1) & (F.col("doc_id") < thr2))
    _, new_sigs = dedup.incremental_dedup_against_store(
        spark, store, shard1, "text", "doc_id", threshold=0.5,
        return_new_sigs=True,
    )
    dedup.append_minhash_store(new_sigs, store)
    shard2 = docs.filter(F.col("doc_id") >= thr2)
    got = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard2, "text", "doc_id", threshold=0.5
        )
    )
    want = _pairs(_from_scratch_restricted(docs, thr2))
    assert got == want
    # the appended store now holds shard1's new reps: a shard2-internal
    # dup of a shard1 text would resolve against the STORE. 190/191/192
    # share a shard-only text introduced in... shard2 itself here, so
    # additionally check a shard1 rep is queryable via the COMMITTED view:
    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1]
    sigs = epoch_store.read(spark, store, meta, "sigs")
    assert sigs.filter(F.col("rep_id") >= thr1).count() > 0


def test_store_layout_partition_pruned(spark, tmp_path):
    docs = _corpus(spark)
    store = str(tmp_path / "store")
    dedup.build_minhash_store(docs, "text", "doc_id", store)
    epoch_root = os.path.join(store, "bands", "e=0")
    parts = [d for d in os.listdir(epoch_root) if d.startswith("bp=")]
    assert len(parts) > 1, "band table not directory-partitioned by bp"
    # a bp-filtered read of the committed view must prune at PARTITION
    # level (file skipping) — the mechanism the shard join's
    # (bp, band, bucket) key hands to DPP
    meta = epoch_store.load(store)
    plan = (
        epoch_store.read(spark, store, meta, "bands")
        .filter(F.col("bp") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(bp" in plan


def test_store_spec_guard(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        dedup.incremental_dedup_against_store(
            spark, str(tmp_path / "nope"), _corpus(spark), "text", "doc_id"
        )


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """The LIVE form: three micro-batches of shard docs stream through
    incremental_dedup_stream (foreachBatch: dedup vs store → write pairs
    → tagged epoch append). The UNION of per-batch pair lists must equal
    the from-scratch recompute restricted to shard-touching pairs — every
    pair's later side lands in some batch, its earlier side is already in
    the store by then (arrival order == id order). Equality holds here
    because no LSH bucket crosses max_bucket between batches (the
    boilerplate collapses to one rep); in general the union is a SUPERSET
    around cap crossings — see incremental_dedup_stream's contract note.
    Also pins the exactly-once machinery: one committed epoch per batch,
    and a replayed tag is a no-op."""
    import json

    from fineventstream_spark.streaming.sink import incremental_dedup_stream

    docs = _corpus(spark)
    thr = 180
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < thr), "text", "doc_id", store
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    shard_rows = sorted(
        ((r.doc_id, r.text) for r in docs.filter(F.col("doc_id") >= thr).collect())
    )
    chunks = [shard_rows[0:7], shard_rows[7:14], shard_rows[14:]]
    for i, chunk in enumerate(chunks):
        p = os.path.join(src, f"b{i}.jsonl")
        with open(p, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (1704100000 + i, 1704100000 + i))

    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = incremental_dedup_stream(
        stream, store, "text", "doc_id", out, ckpt, threshold=0.5
    )
    assert q.awaitTermination(300), "stream did not finish"

    got = _pairs(spark.read.parquet(out))
    want = _pairs(_from_scratch_restricted(docs, thr))
    assert got == want

    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1, 2, 3], meta["epochs"]
    assert len(meta["tags"]) == 3
    # replayed tag → no-op, store unchanged
    some_tag = next(iter(meta["tags"]))
    new_sigs = epoch_store.read(spark, store, meta, "sigs").limit(1)
    assert dedup.append_minhash_store(new_sigs, store, tag=some_tag) is False
    assert epoch_store.load(store)["epochs"] == [0, 1, 2, 3]


def test_null_text_is_non_content(spark, tmp_path):
    """NULL text is NON-CONTENT (r12 review): the from-scratch collapse's
    inner join on text silently drops NULL-text docs from dedup, and the
    store path excludes them explicitly — so NULL docs (history or shard)
    produce NO edges and cause no divergence, incrementally or from
    scratch. (The oracle's LEFT join keeps them countable in n_history /
    n_shard while never marking them duplicates.)"""
    rows = [(0, None), (1, _mk_text(1)), (2, _mk_text(2))] + [
        (i, _mk_text(i)) for i in range(3, 10)
    ] + [(10, None), (11, None), (12, _mk_text(12))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < 10), "text", "doc_id", store
    )
    got = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, docs.filter(F.col("doc_id") >= 10), "text", "doc_id",
            threshold=0.5,
        )
    )
    want = _pairs(_from_scratch_restricted(docs, 10))
    assert got == want
    null_ids = {0, 10, 11}
    assert not any(a in null_ids or b in null_ids for a, b, _, _ in got)
    # _mk_text collides mod 3 (i*7 mod 21), so 12 duplicates 3's text —
    # the non-null machinery still works in the same corpus
    assert (3, 12, 1.0, "exact") in got


def test_null_and_empty_text_do_not_cross_pair(spark, tmp_path):
    """r12 advisor: _exact_collapse's groupBy kept one NULL-text doc as a
    REP, and the minhash kernel maps NULL to the empty-shingle signature —
    identical to a genuinely-EMPTY text's — so a corpus containing both a
    NULL-text doc (shard) and an empty-text doc (history) emitted a
    from-scratch LSH pair the store path (explicit NULL filter at build
    and probe) never can, flipping the matches_recompute gate FALSE.
    Since the r13 fix the collapse filters text.isNotNull() explicitly:
    both sides agree, NULL never pairs, and empty texts still dedup
    against each other as ordinary (zero-shingle) content."""
    rows = [(0, ""), (2, _mk_text(2)), (3, _mk_text(4))] + [
        (10, ""), (11, None), (12, _mk_text(5))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < 10), "text", "doc_id", store
    )
    got = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, docs.filter(F.col("doc_id") >= 10), "text", "doc_id",
            threshold=0.5,
        )
    )
    want = _pairs(_from_scratch_restricted(docs, 10))
    assert got == want
    assert not any(a == 11 or b == 11 for a, b, _, _ in got), (
        "NULL-text doc must never appear in an edge"
    )
    # the empty-text pair IS content: exact star edge across the boundary
    assert (0, 10, 1.0, "exact") in got


def test_compaction_probe_equivalence_and_tags(spark, tmp_path):
    """r12 verdict #2: compact_minhash_store folds all committed epochs
    into one new base — probe results must be BIT-IDENTICAL pre/post
    (pure storage fold, no recompute), tags must survive (a replayed
    streaming batch stays a no-op after compaction), and the superseded
    epoch directories disappear."""
    docs = _corpus(spark)
    thr1, thr2 = 180, 190
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < thr1), "text", "doc_id", store
    )
    _, sigs1 = dedup.incremental_dedup_against_store(
        spark, store, docs.filter((F.col("doc_id") >= thr1) & (F.col("doc_id") < thr2)),
        "text", "doc_id", threshold=0.5, return_new_sigs=True,
    )
    assert dedup.append_minhash_store(sigs1, store, tag="day1")
    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1]

    shard2 = docs.filter(F.col("doc_id") >= thr2)
    before = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard2, "text", "doc_id", threshold=0.5
        )
    )
    assert dedup.compact_minhash_store(spark, store)
    meta2 = epoch_store.load(store)
    assert meta2["epochs"] == [2], meta2["epochs"]
    assert meta2["tags"] == {"day1": 1}, "tags must survive compaction"
    after = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard2, "text", "doc_id", threshold=0.5
        )
    )
    assert before == after
    # replayed tag still a no-op post-compaction
    assert dedup.append_minhash_store(sigs1.limit(1), store, tag="day1") is False
    # superseded epochs physically gone; single-epoch store is a no-op
    for sub in ("sigs", "bands"):
        eps = sorted(os.listdir(os.path.join(store, sub)))
        assert eps == ["e=2"], (sub, eps)
    assert dedup.compact_minhash_store(spark, store) is False


def test_torn_compaction_is_invisible(spark, tmp_path, monkeypatch):
    """A crash between the compacted-epoch write and the sidecar commit
    must leave the store fully serving the OLD manifest; the re-run
    overwrites the orphan and commits."""
    docs = _corpus(spark)
    store = str(tmp_path / "store")
    dedup.build_minhash_store(
        docs.filter(F.col("doc_id") < 180), "text", "doc_id", store
    )
    _, sigs1 = dedup.incremental_dedup_against_store(
        spark, store, docs.filter(F.col("doc_id") >= 180), "text", "doc_id",
        threshold=0.5, return_new_sigs=True,
    )
    assert dedup.append_minhash_store(sigs1, store)
    shard = docs.filter(F.col("doc_id") >= 180)
    before = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard, "text", "doc_id", threshold=0.5
        )
    )

    boom = RuntimeError("simulated crash before sidecar commit")

    def crashing_commit(path, meta):
        raise boom

    monkeypatch.setattr(epoch_store, "commit", crashing_commit)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        dedup.compact_minhash_store(spark, store)
    monkeypatch.undo()

    # orphan e=2 exists on disk but the manifest never saw it
    assert os.path.isdir(os.path.join(store, "sigs", "e=2"))
    meta = epoch_store.load(store)
    assert meta["epochs"] == [0, 1]
    mid = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard, "text", "doc_id", threshold=0.5
        )
    )
    assert mid == before
    # the re-run overwrites the orphan and commits cleanly
    assert dedup.compact_minhash_store(spark, store)
    assert epoch_store.load(store)["epochs"] == [2]
    assert _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard, "text", "doc_id", threshold=0.5
        )
    ) == before


def test_tombstone_retracts_content_and_compaction_erases(spark, tmp_path):
    """r13 (implementing the r12 verdict #8 design): tombstoning a rep
    retracts its CONTENT from the store — the probe treats the text as
    unseen, so a shard copy re-elects a new representative, exactly the
    from-scratch recompute on the corpus minus the content group. The
    next compaction physically erases the rep from sigs/bands and
    resets the tombstone list; probe results are unchanged by the
    erasure. Tagged tombstones replay as no-ops."""
    docs = _corpus(spark)
    thr = 180
    store = str(tmp_path / "store")
    history = docs.filter(F.col("doc_id") < thr)
    dedup.build_minhash_store(history, "text", "doc_id", store)
    shard = docs.filter(F.col("doc_id") >= thr)

    # retract the boilerplate content group (rep 0 covers ids 0..59)
    assert dedup.tombstone_minhash_store(
        spark.createDataFrame([(0,)], "rep_id long"), store, tag="takedown-1"
    )
    # replayed tag → no-op
    assert dedup.tombstone_minhash_store(
        spark.createDataFrame([(0,)], "rep_id long"), store, tag="takedown-1"
    ) is False
    meta = epoch_store.load(store)
    assert meta["tombstone_epochs"], meta
    assert epoch_store.read(spark, store, meta, "sigs").filter(
        F.col("rep_id") == 0
    ).count() == 0

    got = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard, "text", "doc_id", threshold=0.5
        )
    )
    # from-scratch on (history minus the retracted content group) ∪ shard
    want = _pairs(
        _from_scratch_restricted(
            docs.filter((F.col("doc_id") >= 60) | (F.col("doc_id") >= thr)), thr
        )
    )
    assert got == want
    # the shard's boilerplate copies now pair with EACH OTHER (180 is the
    # re-elected rep of the retracted content), never with stored id 0
    assert (180, 181, 1.0, "exact") in got
    assert not any(a == 0 or b == 0 for a, b, _, _ in got)

    # physical erasure at compaction
    assert dedup.compact_minhash_store(spark, store)
    meta2 = epoch_store.load(store)
    assert meta2["tombstone_epochs"] == []
    assert not os.path.isdir(os.path.join(store, "tombstones")) or not os.listdir(
        os.path.join(store, "tombstones")
    )
    assert epoch_store.read(spark, store, meta2, "sigs").filter(
        F.col("rep_id") == 0
    ).count() == 0
    after = _pairs(
        dedup.incremental_dedup_against_store(
            spark, store, shard, "text", "doc_id", threshold=0.5
        )
    )
    assert after == got


def test_checkpoint_tag_normalization_is_scheme_aware():
    """r13 advisor: abspath() on a URI-form checkpoint location mangles
    it into '<cwd>/hdfs:/h/x' — a restart from a different CWD would
    mint a new tag namespace and double-append replayed batches. URI
    schemes pass through untouched; plain local paths still get the
    relative/trailing-slash normalization."""
    import os

    from fineventstream_spark.streaming.sink import _normalize_checkpoint_tag

    # URI forms are CWD-independent already — untouched (minus trailing /)
    assert _normalize_checkpoint_tag("hdfs://nn:8020/ckpt/") == "hdfs://nn:8020/ckpt"
    assert _normalize_checkpoint_tag("file:/tmp/ckpt") == "file:/tmp/ckpt"
    assert _normalize_checkpoint_tag("s3a://bucket/key") == "s3a://bucket/key"
    # plain paths: relative and dot spellings collapse to one absolute tag
    cwd = os.getcwd()
    assert _normalize_checkpoint_tag("ckpt") == os.path.join(cwd, "ckpt")
    assert _normalize_checkpoint_tag("./ckpt/") == os.path.join(cwd, "ckpt")
    assert _normalize_checkpoint_tag("/tmp/ckpt/") == "/tmp/ckpt"
