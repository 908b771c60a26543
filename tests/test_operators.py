"""Operator unit + property tests (SURVEY §5.4): as-of edges, dedup
idempotence, fingerprint/dedup consistency, IVF vs brute-force recall,
multimodal plumbing.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from fineventstream_spark.operators.asof import asof_join
from fineventstream_spark.operators.dedup import exact_dedup, minhash_lsh_candidates
from fineventstream_spark.operators.multimodal import (
    decode_media_features,
    synthesize_real_media,
)
from fineventstream_spark.operators.similarity import cosine_topk, ivf_topk
from fineventstream_spark.operators.text import doc_fingerprint


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01T10:00:00"), 100.0),
            (2, "A", _ts("2024-01-01T11:00:00"), 110.0),
            (3, "B", _ts("2024-01-01T10:30:00"), 200.0),
            (4, "C", _ts("2024-01-01T09:00:00"), 300.0),  # no right rows for C
        ],
        "id long, sym string, ts timestamp, val double",
    )
    right = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T09:59:00"), 1.0, 11),
            ("A", _ts("2024-01-01T10:00:00"), 2.0, 12),  # tie with left id=1
            ("A", _ts("2024-01-01T10:00:00"), 3.0, 13),  # same-ts: larger tiebreak wins
            ("A", _ts("2024-01-01T10:59:59"), 4.0, 14),
            ("B", _ts("2024-01-01T10:31:00"), 9.0, 15),  # after left B row → no match
        ],
        "sym string, ts timestamp, quote double, qid long",
    )
    return left, right


def test_asof_backward_inclusive_with_ties(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, on="sym", left_ts="ts", right_ts="ts",
        right_values=["quote"], right_tiebreak="qid",
    )
    got = {r.id: r.quote_asof for r in out.collect()}
    assert got[1] == 3.0  # tie at 10:00 → inclusive; qid=13 beats qid=12
    assert got[2] == 4.0  # latest before 11:00
    assert got[3] is None  # only right row for B is after left ts
    assert got[4] is None  # key with no right rows at all
    assert out.count() == left.count()  # as-of never duplicates left rows


def test_asof_empty_right(spark, asof_frames):
    left, _ = asof_frames
    empty = spark.createDataFrame([], "sym string, ts timestamp, quote double, qid long")
    out = asof_join(left, empty, on="sym", left_ts="ts", right_ts="ts",
                    right_values=["quote"], right_tiebreak="qid")
    assert out.count() == left.count()
    assert all(r.quote_asof is None for r in out.collect())


@pytest.mark.parametrize("branch", ["serial", "distributed"])
def test_asof_null_key_never_matches(spark, request, branch):
    """SQL equality never matches NULL: DuckDB's ``ASOF LEFT JOIN … ON
    l.k = r.k`` gives the NULL-key left row a NULL value, even when a
    NULL-key right row precedes it. The distributed branch is the
    low-cardinality struct-max fill on the at-scale side of its gate."""
    if branch == "distributed":
        request.getfixturevalue("at_scale")
    left = spark.createDataFrame([("a", 10), (None, 10)], "k string, lt long")
    right = spark.createDataFrame(
        [("a", 5, 1.0), (None, 5, 2.0)], "k string, rt long, v double"
    )
    out = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt", right_values=["v"],
        low_cardinality_keys=branch == "distributed",
    )
    assert {r.k: r.v_asof for r in out.collect()} == {"a": 1.0, None: None}


def test_exact_dedup_deterministic_keeper(spark):
    df = spark.createDataFrame(
        [(5, "x"), (3, "x"), (9, "x"), (1, "y")], "doc_id long, text string"
    )
    out = exact_dedup(df, "text", "doc_id")
    got = {r.text: r.doc_id for r in out.collect()}
    assert got == {"x": 3, "y": 1}  # min id wins, always


def test_dedup_idempotence(spark, sf_dir):
    """Property: f(f(x)) == f(x) for exact dedup."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    once = exact_dedup(docs, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    assert once.count() == twice.count()
    assert once.subtract(twice).count() == 0


def test_fingerprint_consistent_with_exact_dedup(spark, sf_dir):
    """Distinct fingerprints == distinct texts (no false merges on the
    fixture corpus; collisions are 1/2^31-scale)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_texts = docs.select("text").distinct().count()
    n_fp = docs.select(doc_fingerprint(F.col("text")).alias("fp")).distinct().count()
    assert n_fp == n_texts


def test_minhash_finds_exact_dupes(spark, sf_dir):
    """Exact duplicate texts must appear as LSH candidates with est≈1."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dupes = (
        docs.groupBy("text").agg(F.count("*").alias("n"), F.min("doc_id").alias("a"),
                                 F.max("doc_id").alias("b"))
        .filter(F.col("n") >= 2)
    )
    n_dupe_groups = dupes.count()
    if n_dupe_groups == 0:
        pytest.skip("fixture has no exact dupes at this sf")
    cands = minhash_lsh_candidates(docs, "text", "doc_id")
    perfect = cands.filter(F.col("est_jaccard") >= 0.999)
    expected = {(r.a, r.b) for r in dupes.collect()}
    found = {(r.id_a, r.id_b) for r in perfect.collect()}
    missing = expected - found
    assert not missing, f"exact dupes missed by LSH: {missing}"


def test_released_on_exit_unpersists_only_its_own_scope(spark, sf_dir, monkeypatch):
    """Leaving a scope unpersists every frame persist_tracked() persisted
    inside it (the whole minhash_lsh_candidates family), and nothing
    persisted in an enclosing scope or in another thread's scope."""
    import threading

    from fineventstream_spark.operators import dedup

    inner: list = []
    real = dedup.persist_tracked

    def spy(df):
        inner.append(df)
        return real(df)

    other_persisted, other_may_exit = threading.Event(), threading.Event()
    other: list = []

    def other_thread():
        with dedup.released_on_exit():
            other.append(dedup.persist_tracked(spark.range(7)))
            other_persisted.set()
            other_may_exit.wait(60)

    th = threading.Thread(target=other_thread)
    th.start()
    try:
        assert other_persisted.wait(60)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
        with dedup.released_on_exit():
            outer = dedup.persist_tracked(spark.range(5))
            with dedup.released_on_exit():
                monkeypatch.setattr(dedup, "persist_tracked", spy)
                cands = minhash_lsh_candidates(docs, "text", "doc_id")
                cands.count()
                assert inner and all(df.storageLevel.useMemory for df in inner)
            assert not any(df.storageLevel.useMemory for df in inner)
            assert outer.storageLevel.useMemory, "inner scope released the outer"
            assert other[0].storageLevel.useMemory, "scope released another thread's"
        assert not outer.storageLevel.useMemory
    finally:
        other_may_exit.set()
        th.join(60)
    assert not th.is_alive()
    assert not other[0].storageLevel.useMemory


def test_released_on_exit_releases_when_the_body_raises(spark):
    from fineventstream_spark.operators import dedup

    with pytest.raises(RuntimeError, match="boom"):
        with dedup.released_on_exit():
            df = dedup.persist_tracked(spark.range(5))
            assert df.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not df.storageLevel.useMemory


def _dataframes_held(obj, seen: set) -> int:
    """DataFrames reachable from ``obj`` through containers and context
    variables (the current context's value)."""
    import contextvars

    from pyspark.sql import DataFrame

    if id(obj) in seen:
        return 0
    seen.add(id(obj))
    if isinstance(obj, DataFrame):
        return 1
    if isinstance(obj, contextvars.ContextVar):
        return _dataframes_held(obj.get(None), seen)
    if isinstance(obj, dict):
        obj = [*obj.keys(), *obj.values()]
    if isinstance(obj, (list, tuple, set, frozenset)):
        return sum(_dataframes_held(x, seen) for x in obj)
    return 0


def test_unscoped_dedup_runs_leave_no_reference(spark, sf_dir):
    """Harnesses free caches with clearCache() and open no scope; the
    dedup module must then hold none of the frames it persisted, or every
    run's plans stay live on the driver."""
    from fineventstream_spark.operators import dedup
    from fineventstream_spark.registry import all_queries

    query = all_queries()["q_llm_dedup_near"]
    for _ in range(3):
        query.fn(spark, sf_dir).collect()
        spark.catalog.clearCache()
    assert _dataframes_held(list(vars(dedup).values()), set()) == 0


def test_bucketed_spec_is_part_of_derivative_identity(sf_dir, monkeypatch):
    """A bucket-spec change (count or key) must REGENERATE the derivative,
    never re-register old files under new CLUSTERED BY metadata (r6
    advisor: Spark trusts catalog bucketing blindly, so a spec/file
    mismatch silently returns wrong rows). Spec therefore lives in both
    the directory name and the session-catalog table name."""
    from fineventstream_spark.operators import bucketed

    def paths(key, columns=None):
        return bucketed._bucketed_paths(
            sf_dir, "orders", bucketed._bucket_spec(key, columns), "fp0"
        )

    p32, n32 = paths("o_orderkey")
    assert f"b{bucketed.N_BUCKETS}-o_orderkey" in p32
    monkeypatch.setattr(bucketed, "N_BUCKETS", bucketed.N_BUCKETS * 2)
    p64, n64 = paths("o_orderkey")
    assert p64 != p32 and n64 != n32, "bucket count not part of identity"
    pk, nk = paths("o_custkey")
    assert pk != p64 and nk != n64, "bucket key not part of identity"
    # covering projections (r8): the projected column set is part of the
    # identity too — a different column list is a different layout
    pp, np_ = paths("o_custkey", ("o_custkey", "o_totalprice"))
    assert pp != pk and np_ != nk, "projection columns not part of identity"
    pp2, _ = paths("o_custkey", ("o_custkey", "o_orderdate"))
    assert pp2 != pp, "distinct projections must not collide"


def test_prune_stale_is_scoped_to_one_layout_spec(tmp_path):
    """r8: a table legitimately holds several live layouts (lineitem by
    orderkey for Q5/Q9 AND the partkey covering projection). Pruning a
    superseded fingerprint of one spec must never delete the OTHER spec's
    live files (the pre-r8 prune matched any `<table>_bucketed-` sibling
    and would have). Fingerprints below are 12-hex like
    catalog.source_fingerprint produces — prune_stale_siblings requires the
    post-spec segment to be exactly one (r8 advisor)."""
    from fineventstream_spark.catalog import prune_stale_siblings

    keep_other_spec = tmp_path / "lineitem_bucketed-b32-l_orderkey-aaaaaaaaaaaa"
    stale_same_spec = tmp_path / "lineitem_bucketed-b32-l_partkey-p01234567-0123456789ab"
    fresh = tmp_path / "lineitem_bucketed-b32-l_partkey-p01234567-ba9876543210"
    for d in (keep_other_spec, stale_same_spec, fresh):
        d.mkdir()
        (d / "_SUCCESS").touch()
    prune_stale_siblings(str(fresh))
    assert fresh.exists()
    assert keep_other_spec.exists(), "prune crossed layout specs"
    assert not stale_same_spec.exists(), "superseded fingerprint not pruned"


def test_prune_stale_plain_spec_spares_projected_siblings_on_same_key(tmp_path):
    """r8 advisor (medium): the plain spec 'b32-<key>' is a string PREFIX
    of every projected spec 'b32-<key>-p<hash>' on the same key, so a
    prefix-only match after rebuilding the plain layout would rmtree live
    covering projections. The exact-fingerprint boundary parse must spare
    them while still pruning the plain spec's own stale fingerprint."""
    from fineventstream_spark.catalog import prune_stale_siblings

    keep_projected = tmp_path / "lineitem_bucketed-b32-l_orderkey-pdeadbeef-cccccccccccc"
    stale_plain = tmp_path / "lineitem_bucketed-b32-l_orderkey-0123456789ab"
    fresh_plain = tmp_path / "lineitem_bucketed-b32-l_orderkey-ba9876543210"
    for d in (keep_projected, stale_plain, fresh_plain):
        d.mkdir()
        (d / "_SUCCESS").touch()
    prune_stale_siblings(str(fresh_plain))
    assert fresh_plain.exists()
    assert keep_projected.exists(), "plain-spec prune deleted a projected layout on the same key"
    assert not stale_plain.exists(), "superseded plain fingerprint not pruned"


def test_bucketed_layout_assertion_rejects_multi_file_buckets(tmp_path):
    """The trusted per-bucket sort (session.py outputOrdering pin) is only
    sound with one file per bucket; register-time verification must reject
    a dir where a bucket has two files or a file lacks a bucket id."""
    from fineventstream_spark.operators.bucketed import _assert_one_file_per_bucket

    d = tmp_path / "orders_bucketed-b32-o_orderkey-fp0"
    d.mkdir()
    (d / "_SUCCESS").touch()
    (d / "part-00000-aaaa_00003.c000.snappy.parquet").write_bytes(b"x")
    (d / "part-00001-bbbb_00007.c000.snappy.parquet").write_bytes(b"x")
    _assert_one_file_per_bucket(str(d), "orders")  # valid layout passes
    (d / "part-00002-cccc_00007.c000.snappy.parquet").write_bytes(b"x")
    with pytest.raises(AssertionError, match="multiple files"):
        _assert_one_file_per_bucket(str(d), "orders")
    (d / "part-00002-cccc_00007.c000.snappy.parquet").unlink()
    (d / "plain-unbucketed.parquet").write_bytes(b"x")
    with pytest.raises(AssertionError, match="no bucket-id suffix"):
        _assert_one_file_per_bucket(str(d), "orders")


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    """Docs with a one-word edit must surface as SimHash candidates with a
    small Hamming distance (planted ground truth — the fixture corpus alone
    proves nothing because it has no near-dups at threshold)."""
    from fineventstream_spark.operators.dedup import simhash_candidates

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40).collect()
    rows = [(r.doc_id, r.text) for r in base]
    planted = [(1_000_000 + r.doc_id, r.text + " zzyzx") for r in base[:5]]
    df = spark.createDataFrame(rows + planted, "doc_id long, text string")
    cands = {(r.id_a, r.id_b): r.hamming for r in simhash_candidates(df, "text", "doc_id").collect()}
    expected = {(r.doc_id, 1_000_000 + r.doc_id) for r in base[:5]}
    missing = expected - set(cands)
    assert not missing, f"planted near-dups missed by SimHash: {missing}"
    assert all(cands[p] <= 8 for p in expected), f"hamming too large: {[cands[p] for p in expected]}"


def test_simhash_fingerprint_collapse_bounds_pairs(spark):
    """200 identical-fingerprint (boilerplate) docs must yield LINEAR
    (min-id rep → member) Hamming-0 star edges — never the ~20k
    in-bucket clique, and never be silently dropped either (the pre-r11
    cap did exactly that: the near-plant oracle gate measured planted
    recall 0.48 at sf10 because hot prefix buckets took their Hamming-0
    pairs down with them). The identical trio collapses the same way."""
    from fineventstream_spark.operators.dedup import simhash_candidates

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate common header footer")
              for i in range(200)]
    trio = [(1000 + i, "a genuinely unique sentence about sparks and rivers")
            for i in range(3)]
    df = spark.createDataFrame(boiler + trio, "doc_id long, text string")
    pairs = simhash_candidates(df, "text", "doc_id").collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert set(found) == (
        {(0, i) for i in range(1, 200)} | {(1000, 1001), (1000, 1002)}
    ), f"expected linear star edges, got {len(found)} pairs"
    assert all(h == 0 for h in found.values())


def test_ngram_jaccard_verify_planted(spark):
    """Exact Jaccard on planted candidates: hand-computed overlap values."""
    from fineventstream_spark.operators.dedup import ngram_jaccard_verify

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_verify(cands, df, "text", "doc_id").collect()
    }
    # 3-shingles: doc1 {abc,bcd,cde} vs doc2 {abc,bcd,cdf} → 2/4; doc3 disjoint
    assert got == {(1, 2): 0.5, (1, 3): 0.0}


def test_embedding_near_dup_planted(spark, sf_dir):
    """Vector + tiny noise must surface as an embedding near-dup pair (the
    fixture corpus has no ≥0.9-cosine pairs, so only planting validates
    recall)."""
    import math

    from fineventstream_spark.operators.similarity import cosine_near_dup_pairs

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50).collect()
    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in base]
    planted = [
        (1_000_000 + r.vec_id,
         [float(x) + 0.001 * math.sin(j + r.vec_id) for j, x in enumerate(r.embedding)])
        for r in base[:5]
    ]
    df = spark.createDataFrame(rows + planted, "vec_id long, embedding array<float>")
    pairs = cosine_near_dup_pairs(df, "embedding", "vec_id", dim=64)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.vec_id, 1_000_000 + r.vec_id) for r in base[:5]}
    missing = expected - found
    assert not missing, f"planted embedding near-dups missed: {missing}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF top-10 must overlap heavily with exact brute force (same query)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    import math

    q = [round(math.sin(j + 1), 6) for j in range(64)]
    exact = [r[0] for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    centroids = [
        [float(x) for x in r[0]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    ]
    approx = [r[0] for r in ivf_topk(emb, "embedding", "vec_id", centroids, q, k=10, nprobe=8).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 3, f"IVF recall too low: {overlap}/10 (exact={exact}, ivf={approx})"


def test_multimodal_unknown_kind_raises(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1)
    media = synthesize_real_media(docs).withColumn("kind", F.lit("hologram"))
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        decode_media_features(media).collect()


def test_union_rowcount_conservation(spark, sf_dir):
    """Property: |A union all B| == |A| + |B|."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = orders.filter(F.col("o_totalprice") > 100)
    b = orders.filter(F.col("o_totalprice") <= 100)
    assert a.unionByName(b).count() == orders.count()


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 plus isolated pair (10,11): all chain members label 1."""
    from fineventstream_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keepers_unique_rows_keep_self(spark):
    from fineventstream_spark.operators.cluster import dedup_keepers

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    got = {r.doc_id: r.keeper_id for r in dedup_keepers(df, pairs, "doc_id").collect()}
    assert got == {1: 1, 2: 2, 3: 1}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_asof_join_matches_python_reference(spark, seed):
    """Property: asof_join == brute-force python as-of on random frames
    (random keys, duplicate timestamps, keys missing on either side)."""
    import random

    rng = random.Random(seed)
    keys = ["A", "B", "C", "D"]
    left = [
        (i, rng.choice(keys), dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randint(0, 500)))
        for i in range(80)
    ]
    right = [
        (100 + j, rng.choice(keys + ["E"]),
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randint(0, 500)),
         round(rng.uniform(0, 100), 2))
        for j in range(60)
    ]
    ldf = spark.createDataFrame(left, "lid long, k string, ts timestamp")
    rdf = spark.createDataFrame(right, "rid long, k string, ts timestamp, v double")

    got = {
        r.lid: r.v_asof
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts",
            right_values=["v"], right_tiebreak="rid",
        ).collect()
    }

    def brute(lid, k, ts):
        cands = [(rts, rid, v) for rid, rk, rts, v in right if rk == k and rts <= ts]
        if not cands:
            return None
        return max(cands)[2]  # latest ts, then largest rid (tiebreak)

    expected = {lid: brute(lid, k, ts) for lid, k, ts in left}
    assert got == expected


def test_asof_present_null_value_shadows_older(spark):
    """A right row whose value is genuinely NULL must win over an older
    non-null row (latest-at-or-before semantics), not be skipped."""
    left = spark.createDataFrame(
        [(1, "A", _ts("2024-01-01T12:00:00"))], "id long, sym string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:00:00"), 5.0, 1),
            ("A", _ts("2024-01-01T11:00:00"), None, 2),  # newer, NULL value
        ],
        "sym string, ts timestamp, quote double, qid long",
    )
    out = asof_join(
        left, right, on="sym", left_ts="ts", right_ts="ts",
        right_values=["quote"], right_tiebreak="qid",
    ).collect()
    assert len(out) == 1
    assert out[0].quote_asof is None  # NOT 5.0 — the NULL row is the latest


def test_exact_percentiles_match_builtin(spark, sf_dir):
    """Range-bucketed exact percentiles == Spark built-in percentile()."""
    from fineventstream_spark.operators.percentiles import exact_percentiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.p50, r.p90)
        for r in exact_percentiles(
            li, "l_returnflag", "l_extendedprice", [0.5, 0.9], n_buckets=7
        ).collect()
    }
    ref = {
        r.l_returnflag: (r.p50, r.p90)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        )
        .collect()
    }
    assert got == ref


def test_exact_percentiles_global_spec_matches_separate(spark, sf_dir):
    """r14 fusion: global_spec's fused whole-table percentiles must be
    bit-identical to a separate single-group call, and the per-group
    results must be bit-identical to the unfused call (the kll-rollup
    audit's equivalence contract)."""
    from fineventstream_spark.operators.percentiles import exact_percentiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fused_pg, fused_g = exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5], ["p50"],
        n_buckets=7,
        global_spec={"ps": [0.5, 0.9], "aliases": ["gp50", "gp90"], "decimals": 6},
    )
    plain_pg = exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5], ["p50"], n_buckets=7
    )
    sep_g = exact_percentiles(
        li.withColumn("__g", F.lit(1)), "__g", "l_extendedprice",
        [0.5, 0.9], ["gp50", "gp90"], decimals=6, n_buckets=7,
    ).drop("__g")
    assert {tuple(r) for r in fused_pg.collect()} == {
        tuple(r) for r in plain_pg.collect()
    }
    assert fused_g.collect() == sep_g.collect()
    # degenerate: empty input returns an empty (groups, global) pair
    e_pg, e_g = exact_percentiles(
        li.filter(F.lit(False)), "l_returnflag", "l_extendedprice", [0.5],
        ["p50"], global_spec={"ps": [0.5], "aliases": ["gp50"]},
    )
    assert e_pg.count() == 0 and e_g.count() == 0


def test_exact_percentiles_global_spec_joined_path(spark):
    """Above LITERAL_MAX_GROUPS the global runs as the separate
    recursion; values must still match the fused literal semantics."""
    from fineventstream_spark.operators import percentiles as P

    rows = [(f"g{i:04d}", float(i % 97) + j) for i in range(200) for j in (0.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    pg, g = P.exact_percentiles(
        df, "g", "v", [0.5], ["p50"], n_buckets=8,
        global_spec={"ps": [0.5], "aliases": ["gp50"]},
    )
    ref = df.agg(
        F.round(F.expr("percentile(v, 0.5)"), 4).alias("gp50")
    ).collect()
    assert g.collect() == ref
    assert pg.count() == 200


def test_spread_for_kernel_size_guard(spark, sf_dir, monkeypatch):
    """r15 (guide §2.1 — scale-adaptive partitioning): the pre-kernel
    spread repartition fires only while the backing scan is knowably
    under the ceiling. Small local scan → repartition present;
    ceiling forced to 1 byte (simulating a lake-scale scan) → the input
    comes back untouched, no shuffle; non-file-backed input (size
    unknowable) → untouched, the scale-safe default."""
    import os

    from fineventstream_spark.operators import sizing
    from fineventstream_spark.operators.sizing import spread_for_kernel

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    spread = spread_for_kernel(docs, "doc_id")
    assert "repartitionbyexpression" in spread._jdf.queryExecution().logical().toString().lower()

    monkeypatch.setattr(sizing, "KERNEL_SPREAD_MAX_INPUT_BYTES", 1)
    assert spread_for_kernel(docs, "doc_id") is docs

    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert spread_for_kernel(mem, "doc_id") is mem


def test_exact_percentiles_extra_aggs_joined_path(spark):
    """r15 (advisor note): extra_aggs must be attached — not silently
    dropped — when the group cardinality exceeds LITERAL_MAX_GROUPS and
    the operator takes the _refine_joined path. Pins the join-back at
    percentiles.py (stats_agg.select(group, *extra_aggs)) with values
    cross-checked against a separate groupBy().agg()."""
    from fineventstream_spark.operators import percentiles as P

    n_groups = P.LITERAL_MAX_GROUPS + 20
    df = spark.range(n_groups * 7).select(
        (F.col("id") % n_groups).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    out = P.exact_percentiles(
        df, "g", "v", [0.5], ["p50"], n_buckets=8,
        extra_aggs={"n": F.count(F.lit(1)), "sd": F.round(F.stddev("v"), 6)},
    )
    assert {"g", "p50", "n", "sd"} <= set(out.columns)
    got = {r.g: (r.n, r.sd) for r in out.collect()}
    ref = {
        r.g: (r.n, r.sd)
        for r in df.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.stddev("v"), 6).alias("sd"))
        .collect()
    }
    assert got == ref


def test_exact_percentiles_single_value_group(spark):
    """Degenerate group (all values equal → zero-width bucket range)."""
    from fineventstream_spark.operators.percentiles import exact_percentiles

    df = spark.createDataFrame(
        [("a", 7.0)] * 5 + [("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    got = {r.g: r.p50 for r in exact_percentiles(df, "g", "v", [0.5]).collect()}
    assert got == {"a": 7.0, "b": 1.5}


def test_exact_percentiles_joined_fallback_path(spark):
    """Above LITERAL_MAX_GROUPS the broadcast-join path runs; results must
    match the built-in percentile() exactly, same as the literal path."""
    from fineventstream_spark.operators.percentiles import (
        LITERAL_MAX_GROUPS,
        exact_percentiles,
    )

    n_groups = LITERAL_MAX_GROUPS + 10
    df = (
        spark.range(n_groups * 9)
        .select(
            (F.col("id") % n_groups).cast("string").alias("g"),
            (F.xxhash64("id") % 1000).cast("double").alias("v"),
        )
    )
    got = {r.g: r.p50 for r in exact_percentiles(df, "g", "v", [0.5]).collect()}
    ref = {
        r.g: r.p50
        for r in df.groupBy("g")
        .agg(F.round(F.expr("percentile(v, 0.5)"), 4).alias("p50"))
        .collect()
    }
    assert got == ref


def test_exact_percentiles_high_cardinality_groups_stay_distributed(spark):
    """~10^5 groups: the joined path must (a) be exact and (b) never
    materialize a per-group structure on the driver — the only collect in
    the operator is the LITERAL_MAX_GROUPS+1 cardinality probe (r5 verdict:
    the old full-stats collect was a driver OOM at high group cardinality).
    (b) is pinned structurally: _refine_joined's source contains no
    .collect() / .toPandas() / createDataFrame (driver-side data)."""
    import inspect

    from fineventstream_spark.operators import percentiles as P

    src = inspect.getsource(P._refine_joined)
    for banned in (".collect(", ".toPandas(", "createDataFrame("):
        assert banned not in src, f"_refine_joined materializes on the driver: {banned}"

    n_groups = 100_000
    df = spark.range(n_groups * 7).select(
        (F.col("id") % n_groups).alias("g"),
        (F.xxhash64("id") % 10_000).cast("double").alias("v"),
    )
    got = P.exact_percentiles(df, "g", "v", [0.5, 0.9], n_buckets=8)
    ref = df.groupBy("g").agg(
        F.round(F.expr("percentile(v, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(v, 0.9)"), 4).alias("p90"),
    )
    assert got.count() == n_groups
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    """A chain far beyond the doubling horizon must RAISE, not return
    non-minimal labels — otherwise a sub-gate long-chain graph could
    silently differ between the driver union-find and distributed routes
    (r13 advisor). (Forces the DISTRIBUTED route: the union-find fast
    path is unconditionally exact, so the horizon only exists past the
    size gate.)"""
    import pytest

    from fineventstream_spark.operators import cluster

    monkeypatch.setattr(cluster, "CC_LOCAL_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster.connected_components(chain, max_iterations=2).collect()


def test_connected_components_long_chain_converges_by_doubling(spark, monkeypatch):
    """Pointer doubling: a 200-node path (diameter 199) must collapse to
    ONE component within the default iteration cap — the verdict-flagged
    failure mode for transitive LSH chains. (Forces the distributed
    route; the local fast path is covered by the route-equivalence test.)"""
    import warnings

    from fineventstream_spark.operators import cluster

    monkeypatch.setattr(cluster, "CC_LOCAL_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comps = cluster.connected_components(chain).collect()
    assert not any("did not converge" in str(x.message) for x in w)
    assert {r.component for r in comps} == {0}
    assert len(comps) == 200


def test_connected_components_route_equivalence(spark, monkeypatch):
    """r13 size-selection: the driver union-find fast path and the
    distributed pointer-doubling loop must return the IDENTICAL
    (id, min-reachable-id) mapping on chains, cliques, self-loops and
    isolated pairs — the gate is a physical-strategy choice only."""
    from fineventstream_spark.operators import cluster

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 7), (20, 21), (21, 20), (5, 4)],
        "id_a long, id_b long",
    )
    local = {(r.id, r.component) for r in cluster.connected_components(pairs).collect()}
    monkeypatch.setattr(cluster, "CC_LOCAL_MAX_EDGES", 0)
    dist = {(r.id, r.component) for r in cluster.connected_components(pairs).collect()}
    assert local == dist
    assert dict(local) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                           7: 7, 20: 20, 21: 20}


def test_expect_row_split_and_rule_names(spark):
    """expect(): clean/violation split with per-row failed-rule names."""
    from fineventstream_spark.operators.quality import (
        expect,
        in_range,
        in_set,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "A", -5.0),   # out of range
            (2, "B", 20.0),   # duplicate id
            (3, "Z", None),   # bad status + null value
        ],
        "id long, status string, amount double",
    )
    rules = [
        not_null("amount"),
        in_range("amount", 0.0, 100.0),
        in_set("status", ("A", "B")),
        unique("id"),
    ]
    clean, viol = expect(df, rules)
    assert [r.id for r in clean.collect()] == [1]
    got = {
        (r.id, r.status): set(r.violated_rules) for r in viol.collect()
    }
    assert got[(2, "A")] == {"amount_in_range", "id_unique"}
    assert got[(2, "B")] == {"id_unique"}
    assert got[(3, "Z")] == {"amount_not_null", "status_in_set"}
    # NULL passes in_range (three-valued logic): not flagged as range viol
    assert "amount_in_range" not in got[(3, "Z")]


def test_expectation_summary_counts(spark):
    from fineventstream_spark.operators.quality import (
        expectation_summary,
        in_range,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (2, 200.0), (3, 5.0)], "id long, amount double"
    )
    rules = [not_null("amount"), in_range("amount", 0.0, 100.0), unique("id")]
    got = {r.rule: r.n_viol for r in expectation_summary(df, rules).collect()}
    assert got == {"amount_not_null": 1, "amount_in_range": 1, "id_unique": 1}


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salted join must be result-identical to the plain join."""
    from fineventstream_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], "o_orderstatus string, label string"
    )
    plain = orders.join(dim, "o_orderstatus", "inner").select("o_orderkey", "label")
    salted = salted_join(orders, dim, "o_orderstatus", n_salts=8).select("o_orderkey", "label")
    assert plain.count() == salted.count()
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0


def test_kmeans_inertia_decreases(spark, sf_dir):
    """Lloyd's algorithm must not increase inertia with more iterations."""
    from fineventstream_spark.operators.kmeans import kmeans_fit, kmeans_inertia

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1, a1 = kmeans_fit(emb, "embedding", "vec_id", k=4, iterations=1)
    c5, a5 = kmeans_fit(emb, "embedding", "vec_id", k=4, iterations=5)
    j1 = kmeans_inertia(emb, "embedding", c1)
    j5 = kmeans_inertia(emb, "embedding", c5)
    assert j5 <= j1 + 1e-9, f"inertia rose: {j1} -> {j5}"
    assert a5.count() == emb.count()


def test_kmeans_assignments_match_returned_centroids(spark, sf_dir):
    """(centroids, assignments) must be mutually consistent: re-assigning
    with the returned centroids reproduces the returned assignments."""
    from fineventstream_spark.operators.kmeans import kmeans_fit
    from fineventstream_spark.operators.similarity import nearest_centroid_udf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    centroids, assigned = kmeans_fit(emb, "embedding", "vec_id", k=4, iterations=2)
    reassigned = emb.select(
        "vec_id", nearest_centroid_udf(centroids)(F.col("embedding")).alias("cluster")
    )
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    ref = {r.vec_id: r.cluster for r in reassigned.collect()}
    assert got == ref


@pytest.mark.parametrize("seed", [0, 1])
def test_global_rank_matches_brute_force(spark, seed):
    import random

    from pyspark.sql import Window

    from fineventstream_spark.operators.rank import global_rank

    rng = random.Random(seed)
    rows = [
        (i, rng.choice([None, rng.uniform(-5, 5), 1.0]))  # nulls + heavy ties
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    order = [F.col("v").desc_nulls_last(), F.col("id").asc()]

    got = global_rank(df, bucket_key=-F.col("v"), order_cols=order,
                      null_bucket="last", n_buckets=7)
    brute = df.withColumn("pos", F.row_number().over(Window.orderBy(*order)).cast("bigint"))
    assert sorted(got.select("id", "v", "pos").collect()) == sorted(
        brute.select("id", "v", "pos").collect()
    )


def test_global_rank_single_value(spark):
    from fineventstream_spark.operators.rank import global_rank

    df = spark.createDataFrame([(i, 42.0) for i in range(10)], "id long, v double")
    out = global_rank(df, bucket_key=F.col("v"), order_cols=[F.col("v").asc(), F.col("id").asc()])
    assert [r.pos for r in out.orderBy("id").collect()] == list(range(1, 11))


def test_hll_sketch_rollup_accuracy_and_mergeability(spark, sf_dir):
    """Weekly estimates from unioned daily sketches must (a) land within
    HLL error of the exact weekly distinct counts and (b) equal sketching
    the raw rows per week directly — the mergeability property the
    incremental-rollup pattern depends on. Reads the sketch half of
    q_agg_sketch_rollup (the query itself returns exact counts plus a
    tolerance boolean, not the raw estimate)."""
    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.queries.aggregates import _weekly_sketch_union

    events = Tables(spark, sf_dir).events
    got = {r.week: r.approx_users for r in _weekly_sketch_union(events).collect()}
    exact = {
        r.week: r.n
        for r in events.groupBy(
            F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for wk, est in got.items():
        assert abs(est - exact[wk]) <= max(3, 0.05 * exact[wk]), (wk, est, exact[wk])

    direct = {
        r.week: r.approx_users
        for r in events.groupBy(
            F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"))
        .collect()
    }
    assert got == direct, "sketch-union path diverges from direct sketching"


def test_edit_distance_finds_planted_near_dups(spark):
    """One-character edits (length-preserving) must surface through the
    length-blocked levenshtein verify — the fixture corpus alone proves
    nothing because it has no same-length near-dup pairs."""
    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.registry import all_queries
    import tempfile, os

    base = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cog"),  # dist 1 vs 1
        (3, "a completely unrelated sentence of equal len"),  # same length, far
        (4, "short text"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in base],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {
            (r.id_a, r.id_b): r.dist
            for r in all_queries()["q_llm_edit_distance"].fn(spark, d).collect()
        }
    assert out == {(1, 2): 1}, f"expected only the planted pair at dist 1, got {out}"


def test_near_dedup_pipeline_collapses_planted_cluster(spark, sf_dir):
    """Three planted copies of one document (two exact, one near — a
    one-word suffix) must collapse to a single keeper through the full
    minhash → jaccard-verify → components pipeline; unrelated docs keep
    themselves. Reads the keeper map of q_llm_near_dedup_pipeline (the
    query itself returns a hash-green summary row)."""
    from fineventstream_spark.queries.llm import _near_dedup_keepers

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30).collect()
    rows = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base]
    seed = rows[0]
    planted = [
        (2_000_001, seed[1], seed[2], seed[3], seed[4]),           # exact copy
        (2_000_002, seed[1] + " appended", seed[2], seed[3], seed[4]),  # near copy
    ]
    docs = spark.createDataFrame(
        rows + planted,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r.keeper_id for r in _near_dedup_keepers(docs).collect()}
    assert out[seed[0]] == seed[0]
    assert out[2_000_001] == seed[0], "exact copy not clustered to the seed"
    assert out[2_000_002] == seed[0], "near copy not clustered to the seed"

    # No FALSE merges: every non-planted doc that got a foreign keeper
    # must be a genuine near-dup of it — checked with an independent
    # pure-Python 3-gram Jaccard (the fixture corpus does contain real
    # near-dup pairs, which the pipeline is right to merge).
    texts = {r[0]: r[1] for r in rows}

    def shingles(s):
        w = s.split(" ")
        return {tuple(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    for k, v in out.items():
        if k in (2_000_001, 2_000_002) or k == v:
            continue
        a, b = shingles(texts[k]), shingles(texts[v])
        j = len(a & b) / len(a | b)
        assert j >= 0.8, f"false merge: {k} -> {v} (true jaccard {j:.3f})"


def test_near_dedup_pipeline_self_check_recall(spark, sf_dir):
    """The pipeline's planted-duplicate audit (hash-green since r11): the
    summary row must show every in-query exact-copy plant (doc_id % 97)
    recovered end-to-end and zero planted leakage."""
    from fineventstream_spark.registry import all_queries

    rows = all_queries()["q_llm_near_dedup_pipeline"].fn(spark, sf_dir).collect()
    assert len(rows) == 1, "the query is a single summary row"
    r = rows[0]
    assert r.planted_pairs > 0, "fixture corpus should yield planted pairs"
    assert r.recall_ok, "planted exact duplicates not recovered"
    assert r.no_planted_leak, r


def test_knn_ivf_self_check_recall(spark, sf_dir):
    """IVF probe audit: recall@10 vs the in-plan brute-force answer is
    reported on every row and must clear 0.5 at nprobe=4/16 on the
    fixture embeddings (observed 1.0 for clustered data)."""
    from fineventstream_spark.registry import all_queries

    rows = all_queries()["q_llm_knn_ivf"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    recalls = {r.recall_at_10 for r in rows}
    assert len(recalls) == 1, "audit column must be constant"
    assert recalls.pop() >= 0.5


def test_ivf_index_prunes_partitions_and_recalls(spark, sf_dir, tmp_path):
    """Persisted IVF: queries must read only the probed hive partitions
    (PartitionFilters on ivf_bucket — file-level pruning, the 100 TB
    win) and still recall most of the brute-force top-10."""
    import math

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )

    emb = Tables(spark, sf_dir).embeddings
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, "embedding", "vec_id", idx, n_lists=8, iterations=3)

    query = [round(math.sin(j + 1), 6) for j in range(64)]
    got = query_ivf_index(spark, idx, "embedding", "vec_id", query, k=10, nprobe=3)

    plan = spark._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "ivf_bucket" in plan.split(
        "PartitionFilters"
    )[1][:300], f"probe did not prune partitions:\n{plan}"

    approx = {r.vec_id for r in got.collect()}
    brute = {r.vec_id for r in cosine_topk(emb, "embedding", "vec_id", query, k=10).collect()}
    assert len(approx & brute) >= 6, f"recall too low: {len(approx & brute)}/10"


# ---------------------------------------------------------------- rollup


def _rollup_rows(df):
    return {
        tuple(r[k] for k in ("event_type", "p_count", "p_sum", "p_min", "p_max"))
        for r in df.collect()
    }


def test_rollup_merge_is_associative_and_commutative(spark, sf_dir):
    """merge(merge(a,b),c) == merge(a,b,c) == merge(c,a,b): ingests may
    fold deltas in any order or re-merge dailies into monthlies."""
    from fineventstream_spark.operators.rollup import merge_rollups, partial_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    thirds = [
        partial_rollup(ev.filter(F.dayofmonth("ts") % 3 == i), ["event_type"], "value")
        for i in range(3)
    ]
    nested = merge_rollups([merge_rollups(thirds[:2], ["event_type"]), thirds[2]],
                           ["event_type"])
    flat = merge_rollups(thirds, ["event_type"])
    rotated = merge_rollups([thirds[2], thirds[0], thirds[1]], ["event_type"])
    a, b, c = _rollup_rows(nested), _rollup_rows(flat), _rollup_rows(rotated)
    # float sums: compare counts/min/max exactly, sums to 6 dp
    def canon(rows):
        return {(t, n, round(s, 6), round(lo, 6), round(hi, 6)) for t, n, s, lo, hi in rows}
    assert canon(a) == canon(b) == canon(c)


def test_rollup_merge_matches_from_scratch(spark, sf_dir):
    """The maintained rollup must be indistinguishable from a full
    recompute — the invariant that lets 100 TB ingests never rescan."""
    from fineventstream_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = F.lit("2024-01-15").cast("timestamp")
    merged = finalize_rollup(
        merge_rollups(
            [
                partial_rollup(ev.filter(F.col("ts") < split), ["event_type"], "value"),
                partial_rollup(ev.filter(F.col("ts") >= split), ["event_type"], "value"),
            ],
            ["event_type"],
        ),
        ["event_type"],
    )
    scratch = finalize_rollup(
        partial_rollup(ev, ["event_type"], "value"), ["event_type"]
    )
    m = {r["event_type"]: (r["n"], r["total"], r["vmin"], r["vmax"], r["vavg"])
         for r in merged.collect()}
    s = {r["event_type"]: (r["n"], r["total"], r["vmin"], r["vmax"], r["vavg"])
         for r in scratch.collect()}
    assert m == s


# ---------------------------------------------------------------- rolling


def _on_both_branches(monkeypatch, build):
    """``build()`` on the serial branch, then with the serial window off;
    asserts each really took its branch (only the distributed one
    buckets)."""
    from fineventstream_spark.operators import rolling

    serial = build()
    monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_INPUT_BYTES", 0)
    dist = build()
    for df, bucketed in ((serial, False), (dist, True)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert ("__bkt" in plan) == bucketed, plan
    return serial, dist


@pytest.mark.parametrize("frame_rows", [1, 100, 137, 5000])
def test_trailing_sums_matches_plain_window(spark, tmp_path, monkeypatch, frame_rows):
    """Prefix differences must equal the plain sliding window exactly, on
    both branches, at every frame width — a one-row frame, frames that
    start mid-key, and a frame wider than any key (nothing to subtract).
    One key is NULL: PARTITION BY groups its rows like any other key's."""
    from pyspark.sql import Window

    from fineventstream_spark.operators.rolling import with_trailing_sums

    spark.range(3_000).select(
        F.when(F.col("id") % 3 > 0, F.col("id") % 3).alias("k"),
        F.col("id").alias("seq"),
        F.round(F.sin(F.col("id").cast("double")) * 10_000).cast("long").alias("v"),
    ).write.parquet(str(tmp_path / "src"))
    df = spark.read.parquet(str(tmp_path / "src"))  # file-backed: serial by default
    f = frame_rows
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(-(f - 1), 0)
    want = df.select(
        "k", "seq",
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    e = {(r.k, r.seq): (r.s1, r.s2, r.n) for r in want.collect()}
    for got in _on_both_branches(
        monkeypatch,
        lambda: with_trailing_sums(
            df.withColumn("v2", F.col("v") * F.col("v")),
            ["k"], ["seq"], f, {"s1": "v", "s2": "v2"}, n_col="n",
        ),
    ):
        assert {(r.k, r.seq): (r.s1, r.s2, r.n) for r in got.collect()} == e


def test_trailing_sums_null_key_at_scale(at_scale, spark):
    """At scale the (key, row number) lookup is a sort-merge join: a NULL
    key's rows must find their earlier prefix there too, and get the frame
    difference, not the whole running sum."""
    from pyspark.sql import Window

    from fineventstream_spark.operators.rolling import with_trailing_sums

    df = spark.range(600).select(
        F.when(F.col("id") % 2 == 0, F.lit("a")).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") % 7 - 3).alias("v"),
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(-9, 0)
    want = df.select("k", "seq", F.sum("v").over(w).alias("s"), F.count("*").over(w).alias("n"))
    got = with_trailing_sums(df, ["k"], ["seq"], 10, {"s": "v"}, n_col="n")
    assert "SortMergeJoin" in got._jdf.queryExecution().executedPlan().toString()
    e = {(r.k, r.seq): (r.s, r.n) for r in want.collect()}
    assert {(r.k, r.seq): (r.s, r.n) for r in got.collect()} == e
    assert sum(k is None for k, _ in e) == 300


def test_rolling_zscore_null_values_match_plain_window(spark, sf_dir, tmp_path, monkeypatch):
    """NULL values: the z-score's mean and stddev skip them, as AVG and
    STDDEV_SAMP do, while the >=30 warm-up gate counts rows, as COUNT(*)
    does. Every fixture has 0 NULLs, so the oracle cannot see this."""
    from pyspark.sql import Window

    from fineventstream_spark.catalog import load_table
    from fineventstream_spark.registry import all_queries

    # a fifth of the values, plus every value of one type for its first
    # two weeks, so some frames hold fewer than two non-null values
    dropped = (F.col("event_id") % 5 == 0) | (
        (F.col("event_type") == "view") & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    )
    load_table(spark, sf_dir, "events").withColumn(
        "value", F.when(~dropped, F.col("value"))
    ).write.parquet(str(tmp_path / "events.parquet"))
    lake = str(tmp_path)
    w = Window.partitionBy("event_type").orderBy(F.unix_micros("ts"), "event_id")
    w = w.rowsBetween(-99, 0)
    want = load_table(spark, lake, "events").select(
        "event_id", "value",
        ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias("z"),
        F.count("*").over(w).alias("n"),
    ).filter(F.col("n") >= 30)
    e = {r.event_id: r.z for r in want.collect()}
    assert want.filter(F.col("value").isNotNull() & F.col("z").isNull()).count() > 0

    q = all_queries()["q_event_rolling_zscore"].fn
    for got in _on_both_branches(monkeypatch, lambda: q(spark, lake)):
        g = {r.event_id: r.z for r in got.collect()}
        assert g.keys() == e.keys()
        bad = [(i, g[i], e[i]) for i in e if (g[i] is None) != (e[i] is None)
               or (g[i] is not None and abs(g[i] - e[i]) > 1e-4)]
        assert not bad, bad[:5]


# ---------------------------------------------------------------- real codecs


def test_bmp_roundtrip_planted_geometry():
    """encode_bmp produces a spec-conformant 24-bit BMP (magic, header,
    row padding) that decode_bmp reads back exactly — including widths
    whose 3-byte rows need 4-byte padding."""
    from fineventstream_spark.operators.multimodal import decode_bmp, encode_bmp

    for w, h in [(1, 1), (4, 3), (7, 5), (16, 9), (13, 2)]:
        payload = encode_bmp(w, h, seed=w * 100 + h)
        gw, gh, lum = decode_bmp(payload)
        assert (gw, gh) == (w, h)
        assert 0.0 <= lum <= 1.0
        # deterministic: same seed, same bytes
        assert payload == encode_bmp(w, h, seed=w * 100 + h)


def test_wav_roundtrip_planted_rate():
    from fineventstream_spark.operators.multimodal import decode_wav, encode_wav

    for sr, n in [(8000, 64), (22050, 100), (44100, 1)]:
        payload = encode_wav(sr, n, seed=7)
        gsr, gn, rms = decode_wav(payload)
        assert (gsr, gn) == (sr, n)
        assert 0.0 <= rms <= 1.0


def test_bmp_decode_rejects_garbage():
    import pytest as _pytest

    from fineventstream_spark.operators.multimodal import decode_bmp

    with _pytest.raises(ValueError):
        decode_bmp(b"not a bitmap at all, definitely")
    with _pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 20)  # truncated header


def test_y4m_roundtrip_planted_geometry():
    from fineventstream_spark.operators.multimodal import decode_y4m, encode_y4m

    for w, h, n, num, den in [(4, 2, 1, 30, 1), (16, 10, 7, 24, 1), (6, 6, 3, 30000, 1001)]:
        payload = encode_y4m(w, h, n, fps_num=num, fps_den=den, seed=w + h)
        gw, gh, gn, fps, lum = decode_y4m(payload)
        assert (gw, gh, gn) == (w, h, n)
        assert fps == round(num / den, 4)
        assert 0.0 <= lum <= 1.0
        # deterministic: same args, same bytes
        assert payload == encode_y4m(w, h, n, fps_num=num, fps_den=den, seed=w + h)


def test_y4m_decode_rejects_garbage():
    import pytest as _pytest

    from fineventstream_spark.operators.multimodal import decode_y4m, encode_y4m

    with _pytest.raises(ValueError):
        decode_y4m(b"definitely not yuv4mpeg2 content")
    good = encode_y4m(4, 2, 2, seed=1)
    with _pytest.raises(ValueError):
        decode_y4m(good[:-5])  # truncated final frame
    with _pytest.raises(ValueError):
        decode_y4m(good.replace(b"C420jpeg", b"C444xxxx", 1))  # unsupported chroma
    with _pytest.raises(ValueError):
        encode_y4m(5, 2, 1)  # odd width cannot be 4:2:0


def test_y4m_frame_sampling_exact_slices(spark):
    """sample_video_frames must return the BYTE-EXACT planar data of the
    true source frames it claims: compare each sampled payload against the
    slice the encoder produced for that frame index."""
    from fineventstream_spark.operators.multimodal import (
        _y4m_frame_offsets,
        encode_y4m,
        sample_video_frames,
    )

    vids = {i: encode_y4m(4 + 2 * i, 4, 5 + i, seed=i) for i in range(3)}
    df = spark.createDataFrame(
        [(i, "video", b) for i, b in vids.items()], "media_id long, kind string, payload binary"
    )
    got = sample_video_frames(df, k=3).collect()
    # 3 videos × 3 distinct evenly-spaced frames each
    assert len(got) == 9
    for r in got:
        src = vids[r.media_id]
        _, _, _, frame_size, offsets = _y4m_frame_offsets(src)
        assert r.n_src_frames == len(offsets)
        expect = src[offsets[r.frame_idx] : offsets[r.frame_idx] + frame_size]
        assert bytes(r.payload) == expect, (r.media_id, r.frame_idx)


def test_real_media_decode_distributed(spark, sf_dir):
    """The full Spark path: synthesize real BMP/WAV/Y4M payloads →
    mapInPandas decode → every planted width/height/rate/frame-count
    recovered (planted_ok semantics of q_mm_features, asserted directly
    here)."""
    from fineventstream_spark.operators.multimodal import (
        decode_media_features,
        synthesize_real_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    feats = decode_media_features(synthesize_real_media(docs)).collect()
    assert len(feats) == 60
    kinds = {r.kind for r in feats}
    assert kinds == {"image", "audio", "video"}
    for r in feats:
        i = r.media_id
        if r.kind == "image":
            assert (r.width, r.height) == (4 + i % 13, 3 + i % 7), i
            assert r.sample_rate is None and r.n_frames is None
        elif r.kind == "audio":
            assert r.sample_rate == [8000, 16000, 22050, 44100][i % 4], i
            assert r.n_samples == 64 + i % 64
            assert r.width is None and r.n_frames is None
        else:
            assert (r.width, r.height) == (2 * (2 + i % 8), 2 * (1 + i % 5)), i
            assert r.n_frames == 3 + i % 6
            assert r.fps == [24, 25, 30, 60][i % 4]
            assert r.sample_rate is None


def test_kll_quantile_rollup_error_bounds(spark, sf_dir):
    """KLL sketch medians must sit within the sketch's proven rank-error
    envelope of the exact percentiles — per group AND after the global
    merge (k=200 default → ~1.7% rank error; on this distribution that is
    well under the 2% VALUE-error gate). The query hash-certifies the
    gates as booleans (r11 oracle conversion)."""
    from fineventstream_spark.registry import all_queries

    rows = all_queries()["q_agg_kll_quantile_rollup"].fn(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.p50_within_tol, r
        assert r.global_within_tol, r
        assert r.exact_p50 > 0, r


def test_theta_overlap_exact_below_k(spark, sf_dir):
    """Theta sketches are EXACT below k=4096 retained entries (the
    small-sf fixtures' daily user sets), so the intersection estimate
    must equal the exact day-pair overlap there; above k (sf1 daily
    sets are ~10-15k users) the estimate must sit inside the sketch's
    ~3% relative-error envelope. Union >= intersection always. The
    query hash-certifies the tolerance gates (r11 oracle conversion);
    the exact-below-k property is checked by joining its per-day
    estimate pairs to its exact counts."""
    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.queries.aggregates import _theta_day_pairs
    from fineventstream_spark.registry import all_queries

    fn = all_queries()["q_event_theta_overlap"].fn
    audited = {r.day: r for r in fn(spark, sf_dir).collect()}
    assert len(audited) >= 1
    for r in audited.values():
        assert r.returning_within_tol, r
        assert r.reach_within_tol, r
        assert r.exact_reach >= r.exact_returning, r

    day = F.date_trunc("day", "ts").cast("date")
    est = {
        r.day: r
        for r in _theta_day_pairs(Tables(spark, sf_dir).events, day).collect()
    }
    assert set(est) == set(audited)
    for d, p in est.items():
        a = audited[d]
        assert p.est_reach >= p.est_returning, p
        if a.exact_returning < 4096 and p.est_reach < 4096:
            assert p.est_returning == a.exact_returning, (d, p, a)
        else:
            assert (
                abs(p.est_returning - a.exact_returning)
                <= 0.03 * max(a.exact_returning, 1)
            ), (d, p, a)


def test_serial_window_ok_routes_on_hot_key(spark, tmp_path, monkeypatch):
    """r10 (r9 verdict ask #2): the serial-vs-distributed window selection
    must key on MAX-PARTITION size, not just total size — a
    skewed-but-small input (under the serial threshold, one hot key) used
    to take the serial path and funnel the hot key through one task. The
    hottest-key share probe routes it distributed; the same-sized even
    input stays serial; a budget <= 0 disables the probe (r9 behavior)."""
    from fineventstream_spark.operators import rolling
    from fineventstream_spark.operators.rolling import serial_window_ok

    def write(df, sub):
        p = str(tmp_path / sub)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    n = 300_000  # few MB on disk — well under the 64 MiB serial threshold
    even = write(
        spark.range(n).select((F.col("id") % 1000).alias("k"), F.col("id").alias("v")),
        "even",
    )
    hot = write(
        spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        ),
        "hot",
    )
    # tighten the per-partition budget so the ~MB fixture can trip it
    monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_PARTITION_BYTES", 256 << 10)
    assert serial_window_ok(even, ["k"]), "even small input must stay serial"
    assert not serial_window_ok(hot, ["k"]), "hot-keyed input must go distributed"
    # probe disabled → r9 total-bytes-only behavior
    monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_PARTITION_BYTES", 0)
    assert serial_window_ok(hot, ["k"])


def test_gap_detection_finds_planted_gaps(spark, tmp_path):
    """r10: q_event_gap_detection moved from a per-tick lag to the
    hour-bucket boundary form — but the shipped fixtures contain NO >2h
    gaps, so its differential row is vacuously green (empty == empty).
    This plants real gaps and compares against the serial per-tick lag
    reference: every planted gap found, nothing else, exact endpoints.
    The planted shapes cover the form's edge cases: a gap with the left
    tick mid-hour, a gap spanning exactly-empty buckets, a 1h59m
    near-miss that must NOT fire, and a tick exactly on an hour
    boundary."""
    import datetime

    from pyspark.sql import Window

    from fineventstream_spark.registry import all_queries

    base = datetime.datetime(2024, 1, 1)

    def ticks(sym, minutes):
        return [(sym, base + datetime.timedelta(minutes=m)) for m in minutes]

    rows = (
        # A: dense minutes 0-120, then a 3h gap from a MID-HOUR tick
        ticks("A", list(range(0, 121, 10)) + [121 + 180, 121 + 190])
        # B: a 1h59m gap — must NOT fire
        + ticks("B", [0, 119, 130])
        # C: left tick exactly on an hour boundary, 2h00m01s gap → fires
        + [("C", base), ("C", base + datetime.timedelta(hours=2, seconds=1))]
        # D: single tick — no pair, no gap
        + ticks("D", [5])
    )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp").select(
        "event_type",
        "ts",
        F.monotonically_increasing_id().alias("event_id"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
        F.lit(0).cast("long").alias("user_id"),
    )
    sf = str(tmp_path / "gapsf")
    import os

    os.makedirs(sf)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    got = sorted(
        map(tuple, all_queries()["q_event_gap_detection"].fn(spark, sf).collect())
    )
    # serial per-tick lag reference over the same files
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ref = (
        ev.withColumn("gap_start", F.lag("ts").over(w))
        .filter(
            F.col("gap_start").isNotNull()
            & (F.unix_micros("ts") - F.unix_micros("gap_start") > 2 * 3600 * 1_000_000)
        )
        .select(
            "event_type",
            "gap_start",
            F.col("ts").alias("gap_end"),
            F.expr("(unix_micros(ts) - unix_micros(gap_start)) DIV 60000000").alias(
                "gap_minutes"
            ),
        )
    )
    want = sorted(map(tuple, ref.collect()))
    assert got == want
    assert {r[0] for r in got} == {"A", "C"}, f"wrong symbols fired: {got}"


def test_win_frame_rows_paths_identical(spark, sf_dir, monkeypatch):
    """q_win_frame_rows' two physical forms (plain window vs hot/cold
    split with the bucketed single-pass hot branch) must return identical
    values — the integer-cents formulation makes both sums
    order-independent, so the skew router can switch freely without
    touching the oracle hash. A 1-byte per-partition budget makes EVERY
    key hot, forcing the whole input through the bucketed branch."""
    from fineventstream_spark.operators import rolling
    from fineventstream_spark.registry import all_queries

    q = all_queries()["q_win_frame_rows"].fn
    plain = sorted(map(tuple, q(spark, sf_dir).collect()))
    monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_PARTITION_BYTES", 1)
    split = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert plain == split


def _distributed_row_number(df, key_cols, order_cols):
    """0-based per-key row number as ``with_distributed_prefix``'s
    running count — the row index the trailing-sum join keys on."""
    from fineventstream_spark.operators.rolling import with_distributed_prefix

    return with_distributed_prefix(
        df.withColumn("__one", F.lit(1)), key_cols, order_cols,
        {"rn": ("sum", "__one")}, serial_below_bytes=0,
    ).select(*df.columns, (F.col("rn") - 1).alias("rn"))


def test_distributed_row_number_matches_serial_on_skew(spark):
    """The distributed running count must reproduce the serial per-key
    row_number exactly — including under heavy key skew (one key holds
    ~90% of rows) and multi-column ordering. Regression armor for the
    round-4 rewrite: a spark_partition_id-based scheme desynced under
    AQE (the same exchange coalesced differently per consumer branch);
    the value-bucket scheme must not."""
    from pyspark.sql import Window

    df = spark.range(20_000).select(
        F.when(F.col("id") % 10 == 0, F.col("id") % 3).otherwise(F.lit(99)).alias("k"),
        (F.col("id") * 7 % 9973).alias("t"),  # shuffled order values
        F.col("id").alias("tie"),
    )
    got = _distributed_row_number(df, ["k"], ["t", "tie"])
    w = Window.partitionBy("k").orderBy("t", "tie")
    want = df.withColumn("rn", F.row_number().over(w) - 1)
    g = {(r.k, r.t, r.tie): r.rn for r in got.collect()}
    e = {(r.k, r.t, r.tie): r.rn for r in want.collect()}
    assert g == e


def test_distributed_row_number_nonfinite_order_values(spark):
    """±Infinity / NaN in a double order column must neither poison the
    bucket arithmetic (inf width → null floor → every finite row silently
    collapsing into one bucket) nor break exactness: non-finite values are
    excluded from the min/max and pinned to the edge buckets matching
    Spark's ASC sort order (-inf first, NaN after +inf last). The running
    count must equal the serial row number AND finite rows must still
    spread over multiple buckets (the scalability contract the round-4
    form silently dropped)."""
    from pyspark.sql import Window

    from fineventstream_spark.operators.rolling import _with_order_bucket

    inf, nan = float("inf"), float("nan")
    rows = [(i % 4, float(i * 13 % 997), i) for i in range(4_000)]
    rows += [(0, -inf, 90001), (1, inf, 90002), (2, nan, 90003), (3, None, 90004),
             (0, inf, 90005), (1, -inf, 90006)]
    df = spark.createDataFrame(rows, "k int, t double, tie long")
    got = _distributed_row_number(df, ["k"], ["t", "tie"])
    w = Window.partitionBy("k").orderBy("t", "tie")
    want = df.withColumn("rn", F.row_number().over(w) - 1)
    key = lambda r: (r.k, str(r.t), r.tie)  # str(): NaN != NaN under ==
    assert {key(r): r.rn for r in got.collect()} == {
        key(r): r.rn for r in want.collect()
    }
    n_buckets = (
        _with_order_bucket(df, "t", 32).filter(~F.isnan("t") | F.col("t").isNull())
        .select("__bkt").distinct().count()
    )
    assert n_buckets > 8, f"finite rows collapsed into {n_buckets} buckets"

    # all-non-finite input: still exact, single degenerate bucket is fine
    df2 = spark.createDataFrame(
        [(0, inf, 1), (0, -inf, 2), (0, nan, 3), (0, None, 4)],
        "k int, t double, tie long",
    )
    got2 = _distributed_row_number(df2, ["k"], ["t", "tie"])
    want2 = df2.withColumn("rn", F.row_number().over(w) - 1)
    assert {key(r): r.rn for r in got2.collect()} == {
        key(r): r.rn for r in want2.collect()
    }


def test_shingle_hash_kernel_matches_hof_formulation(spark):
    """The fused blake2b shingle kernel must produce the same GROUPING
    semantics as a direct per-shingle evaluation: same shingle string →
    same hash, distinct shingles → distinct hashes (64-bit, so any
    collision in a fixture-scale corpus is a bug), and docs shorter than
    the shingle length yield no rows."""
    from fineventstream_spark.operators.dedup import text_to_shingle_hashes_udf

    texts = [
        "a b c d e f g h i j",          # 10 words -> 3 shingles of 8
        "a b c d e f g h",               # exactly one shingle
        "a b c",                          # too short -> none
        "",                               # empty -> none
        "a b c d e f g h i j",          # duplicate doc -> identical hashes
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    rows = (
        df.select("doc_id", F.explode(text_to_shingle_hashes_udf(8)("text")).alias("h"))
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.h)
    assert sorted(by_doc) == [0, 1, 4]
    assert len(by_doc[0]) == 3 and len(by_doc[1]) == 1
    assert by_doc[0] == by_doc[4], "identical docs must hash identically"
    # shingle 'a b c d e f g h' appears in docs 0, 1 and 4 - same value
    assert by_doc[1][0] == by_doc[0][0]
    assert len(set(by_doc[0])) == 3, "distinct shingles must not collide"


def test_lsh_pair_agreement_matches_signature_fraction(spark):
    """est_jaccard from the r5 JVM zip_with formulation must equal the
    exact fraction of agreeing signature positions (the r4 pandas kernel
    contract): planted exact copies agree at 1.0, unrelated word-soup
    docs agree near 0."""
    from fineventstream_spark.operators.dedup import minhash_lsh_candidates

    docs = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} " * 3) for i in range(6)]
    docs.append((100, docs[0][1]))  # exact copy of doc 0
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in minhash_lsh_candidates(df, "text", "doc_id").collect()}
    assert pairs[(0, 100)] == 1.0
    for (a, b), j in pairs.items():
        assert 0.0 <= j <= 1.0


def test_lsh_pair_formation_equals_bruteforce_reference(spark):
    """Property armor for the r5 pair-formation rewrite (bounded
    collect_list + JVM upper-triangle explode): the produced pair SET
    must equal a brute-force reference computed directly from the
    signature/bucket table — every unordered pair of distinct docs that
    shares at least one (band, bucket) whose occupancy is in
    (1, max_bucket], with est_jaccard = exact signature agreement. Runs
    over several seeded corpora with planted duplicate groups of varied
    multiplicity (including one group ABOVE the cap, which must vanish)."""
    import itertools
    import random as _random

    from fineventstream_spark.operators.dedup import (
        minhash_lsh_candidates,
        text_to_minhash_udf,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for seed in (7, 19):
        rng = _random.Random(seed)
        docs = []
        doc_id = 0
        # unique docs
        for _ in range(30):
            docs.append((doc_id, " ".join(rng.choices(words, k=12))))
            doc_id += 1
        # planted dup groups of size 2 and 3
        for gsize in (2, 3):
            text = " ".join(rng.choices(words, k=12))
            for _ in range(gsize):
                docs.append((doc_id, text)); doc_id += 1
        # one hot group ABOVE the cap → all its bucket entries dropped
        hot = " ".join(rng.choices(words, k=12))
        for _ in range(8):
            docs.append((doc_id, hot)); doc_id += 1
        df = spark.createDataFrame(docs, "doc_id long, text string")
        max_bucket = 5
        got = {
            (r.id_a, r.id_b): r.est_jaccard
            for r in minhash_lsh_candidates(
                df, "text", "doc_id", max_bucket=max_bucket
            ).collect()
        }
        # brute-force reference from the raw signature/bucket table
        sig_rows = df.select(
            "doc_id",
            text_to_minhash_udf(64, 3, 16)(F.col("text")).alias("sb"),
        ).collect()
        sigs = {r.doc_id: r.sb[:64] for r in sig_rows}
        buckets = {}
        for r in sig_rows:
            for band, bucket in enumerate(r.sb[64:]):
                buckets.setdefault((band, bucket), []).append(r.doc_id)
        want = {}
        for members in buckets.values():
            if 1 < len(members) <= max_bucket:
                for a, b in itertools.combinations(sorted(members), 2):
                    agree = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64.0
                    want[(a, b)] = round(agree, 4)
        assert got == want, (
            f"seed {seed}: pair sets differ "
            f"(extra={set(got) - set(want)}, missing={set(want) - set(got)})"
        )


def test_substring_dedup_matches_bruteforce_reference(spark):
    """The full substring-dedup aggregation (kernel shingling + min≠max
    window + doc rollup) must match a pure-python reference on corpora
    with shared passages, intra-doc repeated shingles (which must NOT
    count as cross-doc dups), and short docs (excluded)."""
    from fineventstream_spark.registry import all_queries  # noqa: F401 — registration
    import itertools

    w = "red blue green gold iron stone river cloud".split()
    shared = "one two three four five six seven eight"
    docs = [
        (0, shared + " nine ten"),                      # shares 8-gram with doc 1
        (1, shared + " eleven twelve"),
        (2, " ".join(w) + " " + " ".join(w)),           # intra-doc repeat only
        (3, "tiny doc"),                                # too short
        (4, " ".join(reversed(w)) + " unique tail words here"),
    ]
    # python reference
    def shingles(text):
        ws = text.split(" ")
        return [" ".join(ws[i:i+8]) for i in range(len(ws) - 7)]
    owners = {}
    for did, text in docs:
        for sh in shingles(text):
            owners.setdefault(sh, set()).add(did)
    want = {}
    for did, text in docs:
        shs = shingles(text)
        if not shs:
            continue
        ndup = sum(1 for sh in shs if len(owners[sh]) > 1)
        if ndup > 0:
            want[did] = (len(shs), ndup, round(ndup / len(shs), 4))

    import fineventstream_spark.queries.llm as llm_mod
    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.operators.dedup import text_to_shingle_hashes_udf
    from pyspark.sql import Window

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = df.select(
        "doc_id",
        F.explode(text_to_shingle_hashes_udf(8)(F.col("text"))).alias("sh_hash"),
    )
    hash_w = Window.partitionBy("sh_hash")
    marked = sh.withColumn(
        "dup",
        (F.min("doc_id").over(hash_w) != F.max("doc_id").over(hash_w)).cast("long"),
    )
    got = {
        r.doc_id: (r.n, r.nd, r.ratio)
        for r in marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("dup").alias("nd"),
            F.round(F.sum("dup") / F.count("*"), 4).alias("ratio"),
        )
        .filter(F.col("nd") > 0)
        .collect()
    }
    assert got == want


def test_mg_candidates_contain_all_planted_heavies(spark):
    """The no-false-negative guarantee: with capacity 2/phi, every key
    whose global share is >= phi must appear in the candidate union,
    regardless of how rows are partitioned — over a high-cardinality
    noise domain where a plain GROUP BY would shuffle every key."""
    from pyspark.sql import functions as F

    from fineventstream_spark.operators.frequent import mg_frequent_candidates

    # 100k noise rows over ~50k distinct keys + 5 planted heavies at ~2%
    # each (phi = 1% -> capacity 200 gives a 2x margin)
    noise = spark.range(100_000).select(
        (F.abs(F.xxhash64("id")) % 50_000 + 1_000_000).alias("k")
    )
    heavies = (
        spark.range(5 * 2_000)
        .select((F.col("id") % 5).alias("k"))
    )
    df = noise.union(heavies).repartition(16)  # planted rows spread everywhere
    cand = mg_frequent_candidates(df, "k", capacity=200)
    got = {r["__mg_key"] for r in cand.collect()}
    assert {0, 1, 2, 3, 4} <= got, f"planted heavies missing: { {0,1,2,3,4} - got }"
    # bounded output: at most partitions x capacity candidates
    assert len(got) <= 16 * 200


def test_mg_trim_keeps_deficit_bound(spark):
    """Property: per-partition undercount <= n_p/(capacity+1). Run the
    whole stream through ONE partition and compare MG survivors' implied
    threshold against exact counts: every key with exact count >
    n/(cap+1) must survive."""
    import random

    from pyspark.sql import functions as F

    from fineventstream_spark.operators.frequent import mg_frequent_candidates

    rng = random.Random(7)
    # zipf-ish: key i with multiplicity ~ 3000/(i+1)
    rows = [i for i in range(1, 400) for _ in range(3000 // i)] + [
        rng.randrange(10_000, 90_000) for _ in range(20_000)
    ]
    df = spark.createDataFrame([(v,) for v in rows], "k long").coalesce(1)
    n = len(rows)
    cap = 100
    cand = {r["__mg_key"] for r in mg_frequent_candidates(df, "k", capacity=cap).collect()}
    from collections import Counter

    exact = Counter(rows)
    must_survive = {k for k, c in exact.items() if c > n / (cap + 1)}
    assert must_survive <= cand, f"lost keys above the deficit bound: {must_survive - cand}"


def test_heavy_hitters_exact_verify_kills_false_positives(spark, sf_dir):
    """End-to-end: q_event_heavy_hitters output equals the plain exact
    GROUP BY/HAVING computed in Spark itself (the differential suite
    checks the DuckDB twin; this pins partition-independence by running
    the query at a hostile partitioning)."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.queries.events import q_event_heavy_hitters

    got = {
        (r["bucket"], r["n_events"])
        for r in q_event_heavy_hitters(spark, sf_dir).collect()
    }
    t = Tables(spark, sf_dir)
    b = t.events.where(F.col("value").isNotNull()).select(
        F.floor("value").cast("bigint").alias("bucket")
    )
    n = b.count()
    exact = {
        (r["bucket"], r["n"])
        for r in b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= n * 0.01)
        .collect()
    }
    assert got == exact


def test_heavy_hitters_route_equivalence(spark, sf_dir, monkeypatch):
    """r13 size-selection: the exact-groupBy route (small scans) and the
    Misra-Gries candidate route (large/unknowable scans) must return the
    IDENTICAL heavy-hitter set — the dispatch is a physical-strategy
    choice, never a semantics choice. Forced both ways by patching the
    threshold."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.operators import frequent
    from fineventstream_spark.operators.frequent import phi_heavy_hitters

    t = Tables(spark, sf_dir)
    b = t.events.where(F.col("value").isNotNull()).select(
        F.floor("value").cast("bigint").alias("bucket")
    )
    monkeypatch.setattr(frequent, "PHI_EXACT_MAX_INPUT_BYTES", 1 << 60)
    exact_route = {
        (r.bucket, r.n_events, r.n_total)
        for r in phi_heavy_hitters(b, "bucket", phi=0.01).collect()
    }
    monkeypatch.setattr(frequent, "PHI_EXACT_MAX_INPUT_BYTES", 0)
    mg_route = {
        (r.bucket, r.n_events, r.n_total)
        for r in phi_heavy_hitters(b, "bucket", phi=0.01).collect()
    }
    assert exact_route == mg_route and exact_route

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no-false-negative"):
        phi_heavy_hitters(b, "bucket", phi=0.01, capacity=100)


def test_count_min_estimate_upper_bounds_exact(spark, sf_dir):
    """CMS structural guarantee: every estimate >= the exact count (the
    min over d cells can only over-count — collisions add, never
    subtract). A violation means the probe hit the wrong cell, i.e. the
    Spark-side and sketch-side hash expressions diverged."""
    from fineventstream_spark.queries.aggregates import q_agg_count_min_freq

    rows = q_agg_count_min_freq(spark, sf_dir).collect()
    # capped at 20 probe keys; small fixtures have fewer distinct users
    assert 1 <= len(rows) <= 20
    for r in rows:
        assert r["est_n"] >= r["exact_n"], r
        assert r["rel_err"] >= 0.0, r


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """A-Res size bias sanity: the weighted sample's mean n_chars must
    exceed the corpus mean (inclusion probability grows with weight).
    Deterministic — the uniforms are md5-derived, so this can't flake."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.queries.pipeline import q_llm_sample_weighted

    sample = q_llm_sample_weighted(spark, sf_dir).collect()
    assert len(sample) == 100
    keys = [r["sample_key"] for r in sample]
    assert keys == sorted(keys) and all(k >= 0 for k in keys)
    t = Tables(spark, sf_dir)
    corpus_mean = t.documents.where(F.col("n_chars") > 0).agg(
        F.avg("n_chars")
    ).first()[0]
    sample_mean = sum(r["n_chars"] for r in sample) / len(sample)
    assert sample_mean > corpus_mean


def _prefix_fixture(spark):
    """Keyed series with nulls, duplicate order values, a NULL key and a
    0-opening key — the serial-window edge cases the distributed forms
    must match."""
    import random

    rng = random.Random(7)
    rows = []
    for k in ("a", "b", "c", None):
        for i in range(400):
            v = None if rng.random() < 0.1 else round(rng.uniform(-5, 100), 3)
            # duplicate order values every ~7 rows exercise tie handling
            o = i - (i % 7 == 0)
            rows.append((k, o, i, v))
    rows.append(("z", 0, 0, 0.0))  # single-row key
    return spark.createDataFrame(rows, "k string, o long, uid long, v double")


def test_distributed_prefix_matches_serial_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fineventstream_spark.operators.rolling import with_distributed_prefix

    df = _prefix_fixture(spark)
    got = with_distributed_prefix(
        df, ["k"], ["o", "uid"],
        {"run_max": ("max", "v"), "run_min": ("min", "v"), "run_sum": ("sum", "v")},
        n_buckets=7,
    )
    w = (
        Window.partitionBy("k")
        .orderBy("o", "uid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.select(
        "k", "uid",
        F.max("v").over(w).alias("run_max"),
        F.min("v").over(w).alias("run_min"),
        F.sum("v").over(w).alias("run_sum"),
    )
    g = {(r["k"], r["uid"]): (r["run_max"], r["run_min"],
                              None if r["run_sum"] is None else round(r["run_sum"], 6))
         for r in got.collect()}
    e = {(r["k"], r["uid"]): (r["run_max"], r["run_min"],
                              None if r["run_sum"] is None else round(r["run_sum"], 6))
         for r in want.collect()}
    assert g == e


def test_distributed_lag_matches_serial_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fineventstream_spark.operators.rolling import with_distributed_lag

    df = _prefix_fixture(spark)
    got = with_distributed_lag(df, ["k"], ["o", "uid"], {"prev_v": "v"}, n_buckets=7)
    w = Window.partitionBy("k").orderBy("o", "uid")
    want = df.select("k", "uid", F.lag("v").over(w).alias("prev_v"))
    g = {(r["k"], r["uid"]): r["prev_v"] for r in got.collect()}
    e = {(r["k"], r["uid"]): r["prev_v"] for r in want.collect()}
    assert g == e


def test_asof_distributed_fill_matches_serial(spark, tmp_path, monkeypatch):
    """The size-selected struct-max fill (forced via serial threshold 0)
    must reproduce the serial window fill exactly: backward-inclusive
    ties, present-but-NULL right values shadowing older rows, tolerance
    masking, and null before the first right row. The inputs are written
    to parquet so the serial run sees a knowable (tiny) scan size —
    in-memory relations have unknown size and default to distributed."""
    import random

    from fineventstream_spark.operators import rolling
    from fineventstream_spark.operators.asof import asof_join

    rng = random.Random(11)
    spark.createDataFrame(
        [(k, i * 10 + rng.randrange(10), i)
         for k in ("a", "b") for i in range(300)],
        "k string, lts long, lid long",
    ).select("k", F.timestamp_seconds("lts").alias("lts"), "lid").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "l"))
    spark.createDataFrame(
        [(k, i * 25 + rng.randrange(25),
          None if rng.random() < 0.15 else round(rng.uniform(0, 9), 3), i)
         for k in ("a", "b") for i in range(120)],
        "k string, rts long, v double, rid long",
    ).select("k", F.timestamp_seconds("rts").alias("rts"), "v", "rid").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "r"))
    left = spark.read.parquet(str(tmp_path / "l"))
    right = spark.read.parquet(str(tmp_path / "r"))

    def run(tol):
        out = asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_values=["v"], right_tiebreak="rid", tolerance=tol,
            low_cardinality_keys=True,
        )
        return {(r["k"], r["lid"]): r["v_asof"] for r in out.collect()}

    for tol in (None, "1 minute"):
        serial = run(tol)  # tiny file-backed input → serial window
        with monkeypatch.context() as m:
            m.setattr(rolling, "SERIAL_WINDOW_MAX_INPUT_BYTES", 0)
            dist = run(tol)  # forced distributed struct-max
        assert serial == dist, f"tolerance={tol}"


def test_gen_sf_zipf_skew_profile(tmp_path):
    """The --skew zipf:S fixture generator (r9 verdict ask: skew-robustness
    evidence needs actually-skewed data) must plant the documented hot-key
    profile deterministically: hottest orderkey and hottest user each own
    roughly 1/zeta(1.2) ~ 18% of their table, documents carry boilerplate
    groups, and schemas stay identical to the uniform fixture."""
    import collections
    import importlib.util
    import os

    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(os.path.dirname(__file__), "..", "scripts", "gen_sf.py")
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)

    skew_dir, uni_dir = str(tmp_path / "skew"), str(tmp_path / "uni")
    gen_sf.generate(0.003, skew_dir, seed=7, skew=1.2)
    gen_sf.generate(0.003, uni_dir, seed=7)

    li = pq.read_table(os.path.join(skew_dir, "lineitem.parquet"))
    uni_li = pq.read_table(os.path.join(uni_dir, "lineitem.parquet"))
    assert li.schema.equals(uni_li.schema), "skew variant changed the schema"
    keys = li.column("l_orderkey").to_numpy()
    top_share = collections.Counter(keys).most_common(1)[0][1] / len(keys)
    assert 0.08 < top_share < 0.40, f"hot orderkey share {top_share:.2%} out of band"

    ev = pq.read_table(os.path.join(skew_dir, "events.parquet"))
    users = ev.column("user_id").to_numpy()
    top_user = collections.Counter(users).most_common(1)[0][1] / len(users)
    assert 0.08 < top_user < 0.40, f"hot user share {top_user:.2%} out of band"

    texts = pq.read_table(os.path.join(skew_dir, "documents.parquet")).column("text").to_pylist()
    counter = collections.Counter(texts)
    biggest = counter.most_common(1)[0][1]
    assert biggest >= max(3, len(texts) // 30), "no boilerplate group planted"

    # the scattered small-group dup pairs must SURVIVE the boilerplate
    # overwrite (r9 advisor: the old (i, i+1) planting was destroyed by
    # the every-10th-doc template rewrite — all %500==0 bases are %10==0)
    templates = {t for t, n in counter.most_common(8) if n >= 3}
    scattered = [
        i
        for i in range(0, len(texts), 500)
        if i + 2 < len(texts)
        and texts[i + 2] == texts[i + 1]
        and texts[i + 1] not in templates
    ]
    assert scattered, "skewed fixture lost the planted scattered dup pairs"

    # determinism: same seed → same bytes-level content for the skewed keys
    skew_dir2 = str(tmp_path / "skew2")
    gen_sf.generate(0.003, skew_dir2, seed=7, skew=1.2)
    keys2 = pq.read_table(os.path.join(skew_dir2, "lineitem.parquet")).column(
        "l_orderkey"
    ).to_numpy()
    assert (keys == keys2).all()


def test_bucketed_derived_column_materialization(spark, sf_dir):
    """ensure_bucketed(derived=...) materializes a computed column at
    layout time (r9: the rev_units-in-layout lever). The scanned-back
    values must equal the on-the-fly expression, the layout must be a
    covering projection (only the requested + derived columns), and a
    formula change must produce a DIFFERENT spec (never re-register old
    files under a new formula)."""
    from fineventstream_spark.operators.bucketed import _bucket_spec, bucketed_table
    from fineventstream_spark.queries._money import REV_UNITS_SQL

    df = bucketed_table(
        spark, sf_dir, "lineitem",
        columns=("l_orderkey", "l_suppkey"),
        derived={"rev_units": REV_UNITS_SQL},
    )
    assert set(df.columns) == {"l_orderkey", "l_suppkey", "rev_units"}

    from fineventstream_spark.catalog import load_table

    expected = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_suppkey", f"{REV_UNITS_SQL} AS rev_units"
    )
    assert df.exceptAll(expected).count() == 0
    assert expected.exceptAll(df).count() == 0

    s1 = _bucket_spec("l_orderkey", ("l_orderkey",), {"x": "l_quantity * 2"})
    s2 = _bucket_spec("l_orderkey", ("l_orderkey",), {"x": "l_quantity * 3"})
    assert s1 != s2, "formula change must change the layout spec"
    assert _bucket_spec("l_orderkey", ("l_orderkey",)) != s1


def test_bucketed_derived_requires_projection(spark, sf_dir):
    from fineventstream_spark.operators.bucketed import ensure_bucketed

    with pytest.raises(ValueError, match="explicit column set"):
        ensure_bucketed(spark, sf_dir, "lineitem", derived={"x": "l_quantity"})
    with pytest.raises(ValueError, match="collide"):
        ensure_bucketed(
            spark, sf_dir, "lineitem",
            columns=("l_orderkey", "l_quantity"),
            derived={"l_quantity": "l_quantity * 2"},
        )


# name → the hash-checked gate booleans of the oracle-converted sketch
# queries. The r11 oracle conversions moved them to the boolean-gate
# shape: exact values + TRUE tolerance booleans (DuckDB-oracled).
CONVERTED_SKETCH_QUERIES = {
    "q_agg_approx_distinct": ("approx_within_tol",),
    "q_agg_sketch_rollup": ("approx_within_tol",),
    "q_agg_kll_quantile_rollup": ("p50_within_tol", "global_within_tol"),
    "q_event_theta_overlap": ("returning_within_tol", "reach_within_tol"),
    # near-dup family (r11): one-row oracled summary with the recall
    # booleans (recall_ok gates the collapse/star plumbing via exact
    # plants; near_recall_ok gates the LIVE signature→bucket (→verify)
    # path via mutated-text plants that cannot collapse)
    "q_llm_dedup_near": ("recall_ok", "near_recall_ok"),
    "q_llm_dedup_simhash": ("recall_ok", "near_recall_ok"),
    "q_llm_dedup_ngram_jaccard": ("recall_ok", "near_recall_ok"),
    "q_llm_dedup_embedding": ("recall_ok",),
    "q_llm_near_dedup_pipeline": ("recall_ok", "near_recall_ok", "no_planted_leak"),
}


@pytest.mark.parametrize("name", sorted(CONVERTED_SKETCH_QUERIES))
def test_sketch_audit_toggle_converted(name, spark, sf_dir):
    """The oracle-converted sketch queries carry their gate booleans, and
    every boolean is TRUE (the condition the DuckDB oracle
    hash-checks)."""
    from fineventstream_spark.registry import all_queries

    audit_cols = CONVERTED_SKETCH_QUERIES[name]
    audited = all_queries()[name].fn(spark, sf_dir)
    for c in audit_cols:
        assert c in audited.columns, f"{name}: missing audit column {c}"
    rows = audited.collect()
    assert rows
    for r in rows:
        for c in audit_cols:
            assert r[c] is True, (name, c, r)


def test_sketch_audit_toggle_topk(spark, sf_dir):
    """r12 (oracled since): the query returns the EXACT top-10 with
    hash-checked gate booleans, and both gates hold on every row."""
    from fineventstream_spark.registry import all_queries

    audited = all_queries()["q_agg_approx_topk_rollup"].fn(spark, sf_dir)
    assert {"cell", "exact_n", "est_found", "est_within_tol"} == set(
        audited.columns
    )
    arows = audited.collect()
    assert len(arows) == 10
    assert all(r.est_found and r.est_within_tol for r in arows)


def test_sketch_audit_toggle_count_min(spark, sf_dir):
    """The CMS keeps the md5-sliced cells (DuckDB-portable, value-hash
    oracled) and the exact audit columns; every estimate is a CMS upper
    bound on the true count."""
    from fineventstream_spark.registry import all_queries

    fn = all_queries()["q_agg_count_min_freq"].fn
    audited = {r.user_id: r for r in fn(spark, sf_dir).collect()}
    assert audited and all(
        r.est_n >= r.exact_n and r.rel_err >= 0 for r in audited.values()
    )


def test_bucketed_layout_self_reports_skew(spark, tmp_path, monkeypatch):
    """r9/r10: a bucketed layout whose hot key concentrates in one bucket
    must self-report (warning + bucket_skew_ratio on a ROW-COUNT basis —
    byte sizes understate skew because the hot bucket RLE-compresses its
    key column, r9 advisor) and persist the ratio (sidecar + per-sf
    registry) so bucketed_table can route away from the degenerate layout.
    Uniform keys must stay silent."""
    import os
    import warnings as _w

    from pyspark.sql import functions as F

    from fineventstream_spark.operators import bucketed as B

    from fineventstream_spark import catalog

    monkeypatch.setattr(catalog, "CACHE_ROOT", str(tmp_path / "cache"))
    sfdir = str(tmp_path / "sf")

    def build(df, sub):
        p = str(tmp_path / sub)
        df.repartition(8, "k").write.mode("overwrite").bucketBy(8, "k").sortBy("k").option(
            "path", p
        ).saveAsTable(f"t_skew_{sub}")
        return p

    uniform = build(
        spark.range(80_000).select((F.col("id") % 797).alias("k"), F.col("id").alias("v")),
        "uni",
    )
    # one key holds ~90% of rows → its bucket row count dwarfs the median
    skewed = build(
        spark.range(80_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 797).alias("k"),
            F.col("id").alias("v"),
        ),
        "hot",
    )
    assert B.bucket_skew_ratio(uniform) < B.SKEW_RATIO_THRESHOLD
    assert B.bucket_skew_ratio(skewed) >= B.SKEW_RATIO_THRESHOLD

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        B._measure_and_record_skew(uniform, sfdir, "t_uni", "k")
        assert not rec, "uniform layout must not warn"
        B._measure_and_record_skew(skewed, sfdir, "t_hot", "k")
        assert rec and "skew-degenerate" in str(rec[-1].message)

    # persisted on both planes: sidecar in the layout dir + the per-sf
    # registry the router consults (validated against the source data_fp)
    assert os.path.exists(os.path.join(skewed, B._SKEW_SIDECAR))
    assert B._registry_ratio(sfdir, "t_hot", "k") >= B.SKEW_RATIO_THRESHOLD
    assert B._registry_ratio(sfdir, "t_uni", "k") < B.SKEW_RATIO_THRESHOLD
    assert B._registry_ratio(sfdir, "t_absent", "k") is None
    spark.sql("DROP TABLE IF EXISTS t_skew_uni")
    spark.sql("DROP TABLE IF EXISTS t_skew_hot")


def _skewed_sf_fixture(tmp_path) -> str:
    """A copy of sf0.001 whose lineitem has one orderkey holding ~35% of
    rows (rewritten via pyarrow; mtime change → new data fingerprint →
    fresh layouts)."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sfskew")
    shutil.copytree("/root/testdata/sf0.001", sf)
    li = pq.read_table(f"{sf}/lineitem.parquet")
    keys = np.array(li.column("l_orderkey").to_pylist(), dtype=np.int64)
    hot = int(keys[0])
    keys[: len(keys) // 3] = hot  # ~1/3 of the fact on one key
    li = li.set_column(
        li.schema.get_field_index("l_orderkey"), "l_orderkey", pa.array(keys, pa.int64())
    )
    pq.write_table(li, f"{sf}/lineitem.parquet")
    return sf


def test_bucketed_table_routes_skew_degenerate_layout(spark, tmp_path):
    """r10: the write-time skew self-report becomes a per-call-site
    ROUTING KNOB. With route_skew=True (wide-enrichment consumers) on a
    skew-degenerate orderkey, bucketed_table returns the plain scan — the
    join plans with shuffle exchanges AQE can split — and the whole
    co-location group (orders too, even though orders itself is uniform:
    AQE's skew split needs BOTH children to be shuffle stages) routes
    together. The DEFAULT keeps the zero-exchange layout even on skewed
    data (measured 3× better for the aggregate-collapsing consumers that
    dominate the registry — BASELINE r10 A/B). On uniform data
    route_skew=True is a no-op."""
    import warnings as _w

    from fineventstream_spark.operators.bucketed import bucketed_table

    sf = _skewed_sf_fixture(tmp_path)

    def join_plan(**kw) -> str:
        with _w.catch_warnings():
            _w.simplefilter("ignore")  # the layout build self-reports, expected
            li = bucketed_table(spark, sf, "lineitem", **kw)
            od = bucketed_table(spark, sf, "orders", **kw)
        j = li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        return j._jdf.queryExecution().executedPlan().toString()

    routed = join_plan(route_skew=True)
    assert "Exchange" in routed, "opt-in routing must plan a shuffle on skew"
    default = join_plan()
    assert "Exchange" not in default, "default must keep the co-located SMJ"

    # uniform fixture: even opted-in routing leaves the zero-exchange plan
    li = bucketed_table(spark, "/root/testdata/sf0.001", "lineitem", route_skew=True)
    od = bucketed_table(spark, "/root/testdata/sf0.001", "orders", route_skew=True)
    j = li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey).select(
        "l_orderkey", "o_totalprice"
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "uniform layout must keep the bucketed SMJ"


def test_skew_routed_projection_matches_layout(spark, tmp_path):
    """The routed fallback must be SCHEMA- and VALUE-identical to the
    layout read: projection, derived expressions, and the pre-join dim
    columns are applied at query time instead of layout time."""
    import warnings as _w

    from fineventstream_spark.operators.bucketed import bucketed_table, q5_prejoin_spec

    sf = _skewed_sf_fixture(tmp_path)
    spec = q5_prejoin_spec()
    table = spec.pop("table")
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        routed = bucketed_table(spark, sf, table, **spec, route_skew=True)
        layout = bucketed_table(spark, sf, table, **spec, route_skew=False)
    assert routed.schema == layout.schema
    cols = routed.columns
    a = sorted(map(tuple, routed.collect()))
    b = sorted(map(tuple, layout.collect()))
    assert a == b, f"routed projection diverges from layout read on {cols}"


def test_prejoin_layout_regenerates_on_dim_change(spark, tmp_path):
    """r9: a pre-join projection denormalizes DIM data into the fact
    layout, so a changed dim must change the cache identity (new
    fingerprint → new derivative), never serve stale denormalized rows.
    The dim's data_fingerprint is folded into the layout fingerprint."""
    import shutil

    from fineventstream_spark.operators.bucketed import ensure_bucketed
    from fineventstream_spark.queries._money import REV_UNITS_SQL

    sf = str(tmp_path / "sfx")
    shutil.copytree("/root/testdata/sf0.001", sf)

    def build():
        return ensure_bucketed(
            spark, sf, "lineitem",
            columns=("l_orderkey", "s_nationkey"),
            derived={"rev_units": REV_UNITS_SQL},
            prejoin=("supplier", "l_suppkey", "s_suppkey", ("s_nationkey",)),
        )

    name1 = build()
    v1 = {r["s_nationkey"] for r in spark.table(name1).select("s_nationkey").distinct().collect()}

    # change the DIM only: every supplier moves to nation 99
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    from pyspark.sql import functions as F

    changed = supp.withColumn("s_nationkey", F.lit(99).cast(supp.schema["s_nationkey"].dataType))
    tmp_out = str(tmp_path / "supp_new.parquet")
    changed.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    import os as _os

    target = f"{sf}/supplier.parquet"
    if _os.path.isdir(target):
        shutil.rmtree(target)
    else:
        _os.remove(target)
    shutil.copytree(tmp_out, target)

    name2 = build()
    assert name2 != name1, "dim change did not change the layout identity"
    v2 = {r["s_nationkey"] for r in spark.table(name2).select("s_nationkey").distinct().collect()}
    assert v2 == {99}, f"stale denormalized dim values served: {sorted(v2)[:5]}"
    assert v1 != v2


def test_repartition_sorted_layout(spark, sf_dir):
    """q_repartition_sorted's CONTRACT is physical: all rows of a key live
    in one partition (hash repartition) and each partition is ts-ordered
    (sortWithinPartitions). The driver's order-insensitive value compare
    cannot see either property — its oracle (r10) checks content
    preservation only — so the layout is asserted here from the actual
    partition iterators."""
    from fineventstream_spark.registry import all_queries

    df = all_queries()["q_repartition_sorted"].fn(spark, sf_dir)

    def check(it):
        rows = list(it)
        # within-partition ts order
        ts = [r["ts"] for r in rows]
        assert ts == sorted(ts), "partition not sorted by ts"
        yield {"users": list({r["user_id"] for r in rows})}

    parts = df.rdd.mapPartitions(check).collect()
    # key co-location: no user_id appears in two partitions
    seen: set = set()
    for p in parts:
        us = set(p["users"])
        assert not (us & seen), f"user split across partitions: {sorted(us & seen)[:3]}"
        seen |= us


def test_near_gates_not_vacuous(spark, sf_dir):
    """The near_recall_ok gates are vacuously TRUE when the fixture
    plants no qualifying near source (r11 advisor: the DuckDB oracles
    hard-code TRUE, so the Spark side must not flip FALSE on a vacuous
    fixture). That makes non-vacuity a TEST property, pinned here: the
    driver fixture must yield >0 expected near edges for every gated
    family, otherwise the gate certifies nothing and the fixture (or
    the plant predicate) changed shape."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.queries.llm import (
        _MIN_NEAR_WORDS,
        _NEAR_OFFSET,
        _appended_token_mutation,
        _exact_collapse,
        _expected_near_edges,
        _permuted_words_mutation,
        _planted_corpora,
    )

    docs = Tables(spark, sf_dir).documents.select("doc_id", "text")

    # Jaccard families (MinHash-LSH / n-gram verify): >=16-word sources
    src, near_src, corpus = _planted_corpora(
        docs, _appended_token_mutation(), _MIN_NEAR_WORDS
    )
    _, members = _exact_collapse(corpus)
    n_jacc = _expected_near_edges(near_src, members).count()
    assert n_jacc > 0, "Jaccard near gate vacuous: no >=16-word %41 docs"

    # SimHash family: permutation must be a non-no-op for some plant
    src, near_src, corpus = _planted_corpora(docs, _permuted_words_mutation())
    _, members = _exact_collapse(corpus)
    n_sim = (
        members.filter(F.col("doc_id") >= _NEAR_OFFSET)
        .filter(F.col("rep_id") >= _NEAR_OFFSET)
        .count()
    )
    assert n_sim > 0, "SimHash near gate vacuous: every permutation collapsed"

    # end-to-end pipeline family: %97 plant predicate, same word floor
    n_pipe = docs.filter(
        (F.col("doc_id") % 97 == 0)
        & (F.size(F.split("text", " ")) >= _MIN_NEAR_WORDS)
    ).count()
    assert n_pipe > 0, "pipeline near gate vacuous: no >=16-word %97 docs"


def test_ivf_append_recall_prune_and_drift(spark, sf_dir, tmp_path):
    """r12 incremental ANN maintenance: (a) appending new vectors to the
    persisted index (assign-to-existing-centroids, no re-cluster) keeps
    recall@10 within tolerance of an index REBUILT from scratch on the
    same corpus; (b) queries on the appended index still prune at the
    partition level; (c) the recorded list-balance drift signal flips
    when appends concentrate on one list."""
    import math

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.operators.ann_index import (
        append_ivf_index,
        build_ivf_index,
        needs_recluster,
        query_ivf_index,
    )
    from fineventstream_spark.operators.similarity import cosine_topk

    emb = Tables(spark, sf_dir).embeddings
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    appended = str(tmp_path / "ivf_app")
    build_ivf_index(half, "embedding", "vec_id", appended, n_lists=8, iterations=3)
    assert not needs_recluster(appended)
    append_ivf_index(rest, "embedding", "vec_id", appended)

    rebuilt = str(tmp_path / "ivf_full")
    build_ivf_index(emb, "embedding", "vec_id", rebuilt, n_lists=8, iterations=3)

    query = [round(math.sin(j + 1), 6) for j in range(64)]
    got_app = query_ivf_index(
        spark, appended, "embedding", "vec_id", query, k=10, nprobe=3
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        got_app._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "ivf_bucket" in plan.split(
        "PartitionFilters"
    )[1][:300], "appended index no longer prunes partitions"

    brute = {
        r.vec_id
        for r in cosine_topk(emb, "embedding", "vec_id", query, k=10).collect()
    }
    rec_app = len({r.vec_id for r in got_app.collect()} & brute)
    rec_rebuild = len(
        {
            r.vec_id
            for r in query_ivf_index(
                spark, rebuilt, "embedding", "vec_id", query, k=10, nprobe=3
            ).collect()
        }
        & brute
    )
    # tolerance: append may trail the rebuild (its centroids never saw
    # the appended half) but must stay within 3 of it and useful overall
    assert rec_app >= max(rec_rebuild - 3, 5), (
        f"append recall {rec_app}/10 vs rebuilt {rec_rebuild}/10"
    )

    # (c) drift signal: append a pile of identical off-distribution
    # vectors — they all land in ONE list and skew max/mean
    hot = spark.range(5000).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.array(*[F.lit(9.9)] * 64).alias("embedding"),
    )
    meta = append_ivf_index(hot, "embedding", "vec_id", appended)
    assert needs_recluster(appended), (
        f"drift signal did not flip; counts={meta['list_counts']}"
    )


def test_retraction_audit_toggle(spark, sf_dir):
    """q_llm_dedup_retraction: the oracled summary with the hash-checked
    equivalence gate TRUE. The gate also rules out an edge naming the
    retracted rep: the recompute corpus drops the retracted text's
    history copies, rep included, so no recompute edge names it, and an
    equal pair multiset leaves none on the incremental side either."""
    from fineventstream_spark.registry import all_queries

    rows = all_queries()["q_llm_dedup_retraction"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0].matches_retracted_recompute is True
