"""U-family: UDF surface + LLM-data-pipeline operators (SURVEY §2.9 + the
100 TB training-data mandate): dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search (brute-force + IVF),
text analysis (lang-ID, quality, tokens, fingerprint), multimodal
plumbing.

Every query here has a DuckDB oracle. The near-dup family is hash-green
through the boolean-gate pattern (DuckDB-oracled planted counts + a
hash-checked recall_ok), and the multimodal decoders are value-oracled
since r12.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables, load_table
from fineventstream_spark.operators import dedup, multimodal, similarity, text
from fineventstream_spark.operators.sizing import spread_for_kernel
from fineventstream_spark.registry import register


# --------------------------------------------------------------------------
# UDF surface (U1/U2)
# --------------------------------------------------------------------------


@register(
    "q_udf_scalar",
    oracle="""
    SELECT event_id, ROUND((value - 50.0) / 25.0, 4) AS zscore
    FROM events
    """,
    tags=("U1",),
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow-batched). The oracle checks the
    arithmetic; the point here is the UDF plumbing itself."""

    @F.pandas_udf("double")
    def zscore(v: pd.Series) -> pd.Series:
        return ((v - 50.0) / 25.0).round(4)

    t = Tables(spark, sf_dir)
    return t.events.select("event_id", zscore("value").alias("zscore"))


@register(
    "q_udaf_grouped",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           ROUND(SUM(value), 4) AS total,
           ROUND(MAX(value) - MIN(value), 4) AS value_range
    FROM events
    GROUP BY user_id
    """,
    tags=("U2",),
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via groupBy().applyInPandas — one pandas frame per group.

    r15 (guide §4 — pass only the columns the function needs): the UDAF
    reads user_id and value, but applyInPandas ships EVERY column of the
    grouped frame through both the group shuffle and the Arrow boundary —
    ts/event_type/event_id were crossing for nothing (measured: 3.56 MB
    shuffled at sf0.1 → 1.27 MB after the projection). applyInPandas has
    no column pruning of its own (the UDF is a black box to Catalyst),
    so the projection must be explicit. Additionally the user_id-bucketed
    events layout satisfies FlatMapGroupsInPandas's required
    ClusteredDistribution(user_id), so even the narrowed shuffle
    disappears (A/B at sf10: 146 MB → 0, rows identical)."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n": [len(pdf)],
                "total": [round(pdf["value"].sum(), 4)],
                "value_range": [round(pdf["value"].max() - pdf["value"].min(), 4)],
            }
        )

    from fineventstream_spark.operators.bucketed import bucketed_table

    ev = bucketed_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandas(agg, "user_id long, n long, total double, value_range double")
    )


# --------------------------------------------------------------------------
# Dedup family (U4/U5 + mandate)
# --------------------------------------------------------------------------


@register(
    "q_llm_dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    tags=("U4",),
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, deterministic keeper (min id)."""
    t = Tables(spark, sf_dir)
    return t.documents.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


_PLANT_OFFSET = 100_000_000


def _planted_corpora(docs: DataFrame, mutation, near_words_min: int | None = None):
    """Audit corpora for the near-dup queries: every doc with
    ``doc_id % 41 == 0`` (~2.4%) plants an EXACT copy (id + 10^8 —
    certifies the collapse + star-edge plumbing via ``recall_ok``) and a
    NEAR copy (id + 2×10^8, ``mutation`` applied to the text — certifies
    the live signature→bucket(→verify) path via ``near_recall_ok``; the
    Jaccard families restrict near sources to ≥``near_words_min`` words
    so the mutated similarity clears every threshold with margin).
    Returns (src, near_src, corpus)."""
    src = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    near_src = src if near_words_min is None else src.filter(
        F.size(F.split("text", " ")) >= near_words_min
    )
    exact = src.select((F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text")
    corpus = (
        docs.select("doc_id", "text")
        .unionByName(exact)
        .unionByName(_near_plants(near_src, mutation))
    )
    return src, near_src, corpus


def _planted_recall_summary(
    pairs: DataFrame, expected: DataFrame, total: DataFrame
) -> DataFrame:
    """The hash-green result of a near-dup query: ONE summary row
    whose exact columns a DuckDB oracle reproduces from the base table —
    ``n_docs`` (corpus size) and ``planted_pairs`` (the deterministic
    plant predicate) — plus ``recall_ok``, a hash-checked boolean TRUE
    iff EVERY row of ``expected`` (the structurally-guaranteed (id_a,
    id_b) edge per planted copy) is present in ``pairs`` (the r11
    boolean-gate pattern: a recall regression, including a totally
    empty pair set, flips the boolean and FAILS the driver's hash
    compare — strictly stronger than the old rows-only
    ``planted_recall`` column only a human would read). Vacuously TRUE
    when the fixture planted nothing."""
    n_docs = total.agg(F.count("*").alias("n_docs"))
    # r14: expected-count and hit-count fused into ONE aggregation — the
    # expected subtree (a members join) used to run once per count. The
    # left join against the DEDUPED pair keys preserves expected's row
    # multiplicity, so count(__hit) == the old semi-join count.
    hits = (
        expected.join(
            pairs.select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("__hit", F.lit(1)),
            ["id_a", "id_b"],
            "left",
        )
    ).agg(
        F.count(F.lit(1)).alias("planted_pairs"),
        F.count("__hit").alias("__found"),
    )
    return (
        n_docs.crossJoin(F.broadcast(hits))
        .select(
            "n_docs",
            "planted_pairs",
            (F.col("__found") == F.col("planted_pairs")).alias("recall_ok"),
        )
    )


def _near_gate_ids(zero_pairs: DataFrame, expected_ids: DataFrame) -> DataFrame:
    """1-row (near_recall_ok boolean) for the SimHash family: every
    expected near-plant representative id appears as the member side of
    a Hamming-0 edge. The fingerprint-collapse inside simhash_candidates
    emits (fingerprint-group min → member) star edges, and the group min
    can be ANY same-fingerprint doc on a small-vocabulary corpus — so
    the gate checks the member id's presence, which is structural: the
    plant's source always shares its fingerprint with a smaller id.

    Vacuously TRUE when no qualifying near-plant source exists (r11
    advisor: the DuckDB oracle hard-codes TRUE, so a fixture whose %41
    docs all collapse under the mutation must not hash-mismatch) —
    non-vacuity on the real fixtures is asserted by
    ``tests/test_operators.py::test_near_gates_not_vacuous`` instead."""
    # fused count + hit-count (r14; see _planted_recall_summary)
    return expected_ids.join(
        zero_pairs.select(F.col("id_b").alias("vid"))
        .dropDuplicates(["vid"])
        .withColumn("__h", F.lit(1)),
        ["vid"],
        "left",
    ).agg(
        (F.count("__h") == F.count(F.lit(1))).alias("near_recall_ok")
    )


def _near_gate(bucket_pairs: DataFrame, near_expected: DataFrame) -> DataFrame:
    """1-row (near_recall_ok boolean): every expected near-duplicate edge
    is present in the BUCKET-PATH output (candidates/verified pairs, NOT
    the star edges — near plants have mutated text, never collapse, and
    therefore must survive the actual signature→bucket(→verify) path).
    This is the non-tautological half of the recall gate: the star-edge
    half (recall_ok) certifies the collapse plumbing, this half
    certifies the LSH machinery itself — reintroducing a recall-0 class
    of bug (r10's near-parallel hyperplanes) flips it and fails the
    driver's hash compare.

    Vacuously TRUE when the fixture plants no qualifying near source
    (all %41 docs below the word floor), matching the oracle's
    hard-coded TRUE and ``recall_ok``'s documented vacuous behavior
    (r11 advisor). Non-vacuity on the real fixtures is pinned by
    ``tests/test_operators.py::test_near_gates_not_vacuous``."""
    # fused count + hit-count (r14; see _planted_recall_summary)
    return near_expected.join(
        bucket_pairs.select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("__h", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    ).agg(
        (F.count("__h") == F.count(F.lit(1))).alias("near_recall_ok")
    )


def _exact_collapse(corpus: DataFrame):
    """Exact-collapse prepass for the near-dup candidate queries — the
    r10 pipeline pattern, generalized in r11 after the oracle gate's
    sf10 validation caught SimHash planted recall at 0.48: duplicated
    texts blow past the hot-bucket caps (a 16-bit SimHash prefix bucket
    over a duplicated corpus holds thousands of entries, and the cap
    rightly refuses the quadratic join), taking exact-copy pairs down
    with them. Collapsing identical texts to ONE representative (min
    id, partial-aggregated — no skew hazard) before signatures means
    boilerplate mega-buckets never form, and exact copies surface as
    linear (rep → member) STAR edges instead of quadratic in-bucket
    pairs. Returns (rep_corpus, members): candidates run on
    ``rep_corpus``; star edges and the recall gate derive from
    ``members``.

    NULL text is NON-CONTENT (the shared contract with the fingerprint
    store, operators/dedup.py): filtered EXPLICITLY here, not just
    dropped by the inner join below — before the r13 fix the groupBy
    kept one NULL-text doc as a rep in ``rep_corpus``, where the
    minhash kernel maps it to the empty-shingle signature (identical
    to a whitespace-only text), so a corpus containing both a NULL and
    an empty text could emit a from-scratch pair the store path (which
    filters NULL at build and probe) never can (r12 advisor)."""
    corpus = corpus.filter(F.col("text").isNotNull())
    # r14 (guide §2.3 — shuffle keys, not payloads; §2.4 — remove shuffles
    # outright). The r13 shape ran three text-carrying exchanges:
    # groupBy(text), the members join-back on text, and a corpus-side
    # semi-join to rebuild rep_corpus. Now the group key is the sha2-256
    # digest (text equality == sha equality is already the engine's
    # contract — the fingerprint store probes by text_sha), and the rep's
    # text rides the SAME aggregation as any_value: within a sha group
    # every text is identical, so any_value is value-deterministic.
    # Result: text crosses the wire once, partial-aggregated (one text
    # per group per map task — boilerplate mega-groups still cost one row
    # per task, the no-skew-hazard property the note above relies on);
    # the members join shuffles (doc_id, 32-byte sha) pairs only; the
    # semi-join is gone.
    # r15 (guide §2.3 narrower types): the group key is the 32-BYTE binary
    # digest (unhex of sha2's hex string), not the 64-char hex — halves the
    # key bytes in the groupBy exchange and the members join. Equality
    # semantics are unchanged (hex equality == binary equality).
    keyed = corpus.select(
        "doc_id", "text", F.unhex(F.sha2(F.col("text"), 256)).alias("__sha")
    )
    rep = keyed.groupBy("__sha").agg(
        F.min("doc_id").alias("rep_id"), F.any_value("text").alias("text")
    )
    members = keyed.select("doc_id", "__sha").join(rep.select("__sha", "rep_id"), "__sha").select(
        "doc_id", "rep_id"
    )
    rep_corpus = rep.select(F.col("rep_id").alias("doc_id"), "text")
    return rep_corpus, members


def _star_edges(members: DataFrame, metric_col: str, metric_exact) -> DataFrame:
    """(rep → member) edges for every exact copy, carrying the metric at
    its exact-duplicate value (Jaccard 1.0 / Hamming 0)."""
    return members.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.lit(metric_exact).alias(metric_col),
    )


def _expected_planted_edges(
    src: DataFrame, members: DataFrame, offset: int = _PLANT_OFFSET
) -> DataFrame:
    """The edge each planted copy is structurally guaranteed to produce
    under the collapse: (rep of the plant's text group, clone id). Using
    the REP, not the plant id, keeps the gate exact even when the plant
    source is itself a duplicate of an earlier doc (then the earlier doc
    is the representative the star edge points from)."""
    return (
        src.select("doc_id")
        .join(members, "doc_id")
        .select(
            F.col("rep_id").alias("id_a"),
            (F.col("doc_id") + offset).alias("id_b"),
        )
    )


_NEAR_OFFSET = 200_000_000


def _near_plants(src: DataFrame, mutated_text) -> DataFrame:
    """NEAR-duplicate plants (ids offset by 2×10^8): a mutated — not
    identical — text per plant source, so they never collapse and must
    surface through the real signature→bucket(→verify) path. Mutations
    per family: appended out-of-vocabulary token for the Jaccard
    pipelines (3-gram shingle Jaccard = (N-2)/(N-1) ≥ 0.93 at the
    ≥16-word source filter — far above every threshold), word-order
    PERMUTATION for SimHash (bag-of-words fingerprint → Hamming exactly
    0 at any scale)."""
    return src.select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        mutated_text.alias("text"),
    )


def _expected_near_edges(src: DataFrame, members: DataFrame) -> DataFrame:
    """DISTINCT (text-group rep, near-plant-group rep) edges the bucket
    path must recover. Pairs whose mutation was a no-op (a one-word doc
    reversed — reps equal, the plant collapsed) are excluded; those are
    the star-edge gate's territory."""
    orig = src.select("doc_id").join(members, "doc_id").select(
        "doc_id", F.col("rep_id").alias("id_a")
    )
    near = (
        members.filter(F.col("doc_id") >= _NEAR_OFFSET)
        .select(
            (F.col("doc_id") - _NEAR_OFFSET).alias("doc_id"),
            F.col("rep_id").alias("id_b"),
        )
    )
    return (
        orig.join(near, "doc_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_MIN_NEAR_WORDS = 16


def _appended_token_mutation():
    return F.concat(F.col("text"), F.lit(" zzneardup"))


def _permuted_words_mutation():
    return F.array_join(F.reverse(F.split(F.col("text"), " ")), " ")


_PLANTED_DOC_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id %% 41 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS planted_pairs,
           TRUE AS recall_ok,
           TRUE AS near_recall_ok
    FROM documents
    """.replace("%%", "%")


@register("q_llm_dedup_near", oracle=_PLANTED_DOC_ORACLE, tags=("U5",))
def q_llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (64 hashes, 16 bands) with
    estimated Jaccard ≥ 0.5, behind the exact-collapse prepass
    (identical texts → one representative + linear star edges, so
    boilerplate never forms a capped-out mega-bucket). Value-oracled
    since r11 (boolean-gate pattern): the query returns a one-row
    summary whose corpus size and planted-copy count the DuckDB oracle
    reproduces, plus ``recall_ok`` — TRUE iff every planted copy's
    structural (rep, clone) edge is present (an LSH/collapse regression
    or an empty pair set flips it and fails the hash compare)."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    src, near_src, corpus = _planted_corpora(
        docs, _appended_token_mutation(), _MIN_NEAR_WORDS
    )
    rep_corpus, members = _exact_collapse(corpus)
    cands = dedup.persist_tracked(
        dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard")
    )
    # members feeds the star edges and BOTH gate edge sets, each of which
    # is itself consumed twice (count + semi-join hit count) — without the
    # persist the collapse subtree re-runs ~5× per query (r14; narrow
    # (doc_id, rep_id) rows)
    members = dedup.persist_tracked(members)
    pairs = cands.unionByName(_star_edges(members, "est_jaccard", 1.0))
    return _planted_recall_summary(
        pairs, _expected_planted_edges(src, members), t.documents
    ).crossJoin(
        F.broadcast(_near_gate(cands, _expected_near_edges(near_src, members)))
    )


@register("q_llm_dedup_ngram_jaccard", oracle=_PLANTED_DOC_ORACLE, tags=("U5",))
def q_llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification over the LSH candidate set only
    (the scalable verify step — never all-pairs). Value-oracled since
    r11 (boolean-gate): ``recall_ok`` is TRUE iff every planted exact
    copy (Jaccard exactly 1.0) survived candidate generation AND the
    exact verify — a regression in either stage fails the hash compare.
    Runs behind the exact-collapse prepass: identical texts verify
    trivially (Jaccard 1.0 star edges), the expensive shingle-set verify
    runs on representative pairs only."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    src, near_src, corpus = _planted_corpora(
        docs, _appended_token_mutation(), _MIN_NEAR_WORDS
    )
    rep_corpus, members = _exact_collapse(corpus)
    cands = dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
    verified = dedup.persist_tracked(
        dedup.ngram_jaccard_verify(cands, rep_corpus, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )
    members = dedup.persist_tracked(members)  # see q_llm_dedup_near note
    pairs = verified.unionByName(_star_edges(members, "jaccard", 1.0))
    return _planted_recall_summary(
        pairs, _expected_planted_edges(src, members), t.documents
    ).crossJoin(
        F.broadcast(_near_gate(verified, _expected_near_edges(near_src, members)))
    )


@register("q_llm_dedup_simhash", oracle=_PLANTED_DOC_ORACLE, tags=("U5",))
def q_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, prefix-bucket candidates,
    Hamming distance ≤ 6, behind the exact-collapse prepass. The
    prepass is LOAD-BEARING here, not an optimization: this query's
    sf10 oracle validation (r11) measured planted recall 0.48 without
    it — a 31-word vocabulary collides fingerprints so heavily that
    16-bit prefix buckets blow past the hot-bucket cap and the cap
    (rightly refusing the quadratic join) dropped half the exact-copy
    pairs. Collapsed, exact copies are linear star edges the caps never
    see. Value-oracled (boolean-gate): ``recall_ok`` TRUE iff every
    planted copy's structural (rep, clone) edge is present."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    # near plant = word-order PERMUTATION: SimHash is a bag-of-words
    # fingerprint, so the permuted text hashes IDENTICALLY (Hamming 0 at
    # any scale) while the text differs — it cannot collapse and must
    # ride the live prefix-bucket path
    src, near_src, corpus = _planted_corpora(docs, _permuted_words_mutation())
    rep_corpus, members = _exact_collapse(corpus)
    cands = dedup.persist_tracked(
        dedup.simhash_candidates(rep_corpus, "text", "doc_id")
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )
    star = _star_edges(members, "hamming", 0).withColumn(
        "hamming", F.col("hamming").cast(dict(cands.dtypes)["hamming"])
    )
    members = dedup.persist_tracked(members)  # see q_llm_dedup_near note
    pairs = cands.unionByName(star)
    # near-rep ids whose mutation was NOT a no-op (one-word docs reverse
    # to themselves and collapse — the star gate's territory)
    near_rep_ids = (
        members.filter(F.col("doc_id") >= _NEAR_OFFSET)
        .select(F.col("rep_id").alias("vid"))
        .filter(F.col("vid") >= _NEAR_OFFSET)
        .distinct()
    )
    return _planted_recall_summary(
        pairs, _expected_planted_edges(src, members), t.documents
    ).crossJoin(
        F.broadcast(
            _near_gate_ids(cands.filter(F.col("hamming") == 0), near_rep_ids)
        )
    )


def _multiset_diff_count(a: DataFrame, b: DataFrame) -> DataFrame:
    """One-row frame ``__d`` = number of (id_a, id_b, est_jaccard, kind)
    rows whose multiset multiplicities differ between ``a`` and ``b`` —
    0 iff the pair multisets are equal. Spelled as groupBy-count + full
    join (semantically exceptAll-both-ways == empty) because Spark 4.1's
    exceptAll rewrite loses an attribute on persisted-union lineage:
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (r12)."""
    cols = ["id_a", "id_b", "est_jaccard", "kind"]
    ac = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__ni"))
    bc = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__nf"))
    return (
        ac.join(bc, cols, "full")
        .filter(
            F.coalesce(F.col("__ni"), F.lit(0))
            != F.coalesce(F.col("__nf"), F.lit(0))
        )
        .agg(F.count(F.lit(1)).alias("__d"))
    )


def _minhash_store_path(
    spark: SparkSession, sf_dir: str, thr: int, suffix: str = ""
) -> str:
    """Fingerprint-keyed cache path for the persisted MinHash store over
    the history split (doc_id < thr) — same derivative discipline as the
    bucketed layouts: source fingerprint in the dirname (a regenerated
    fixture rebuilds, never serves stale fingerprints), spec in the
    dirname (a parameter change rebuilds), stale siblings of the same
    spec pruned only after a successful build."""
    from fineventstream_spark.catalog import cache_path, source_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fp = source_fingerprint(docs, sf_dir, "documents")
    # v3 = the epoch-store layout (operators/epoch_store.py: _MANIFEST.json
    # with recorded reader schemas); stores of earlier specs are never read
    spec = f"mh64b16s3_bp{dedup._STORE_BUCKET_PARTS}_thr{thr}_v3{suffix}"
    return cache_path(sf_dir, f"minhash_store-{spec}", fp)


def _ensure_minhash_store(
    spark: SparkSession, sf_dir: str, history: DataFrame, thr: int,
    suffix: str = "",
) -> str:
    import os

    from fineventstream_spark.catalog import prune_stale_siblings
    from fineventstream_spark.operators import epoch_store

    path = _minhash_store_path(spark, sf_dir, thr, suffix)
    if not os.path.exists(os.path.join(path, epoch_store.MANIFEST)):
        dedup.build_minhash_store(history, "text", "doc_id", path)
        prune_stale_siblings(path)
    return path


# "has an earlier identical text" is computed against the per-text MIN id
# (LINEAR group-by + 1:1 join), never as a correlated EXISTS with an id
# inequality — on the zipf fixture (8 boilerplate templates × ~19k copies
# at sf30) that correlate explodes to billions of intermediate rows and
# OOMed the oracle process at 99 GB (r12, found by the sf30 gate sweep).
_INCR_DEDUP_ORACLE = """
    WITH thr AS (
      SELECT CAST(FLOOR(0.9 * (MAX(doc_id) + 1)) AS BIGINT) AS t FROM documents
    ),
    m AS (SELECT text, MIN(doc_id) AS min_id FROM documents GROUP BY text)
    SELECT CAST(SUM(CASE WHEN d.doc_id < thr.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_history,
           CAST(SUM(CASE WHEN d.doc_id >= thr.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shard,
           CAST(SUM(CASE WHEN d.doc_id >= thr.t AND d.doc_id > m.min_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shard_exact_dups,
           TRUE AS matches_recompute
    FROM documents d LEFT JOIN m ON d.text = m.text, thr
    """
# ^ LEFT join: a NULL-text doc keeps its row (counted in n_history /
#   n_shard) but its min_id is NULL so it is never a duplicate — exactly
#   the engine's semantics, where NULL text is non-content and excluded
#   from dedup (operators/dedup.py r12 note; _exact_collapse's inner
#   join does the same on the from-scratch side).


@register("q_llm_dedup_incremental", oracle=_INCR_DEDUP_ORACLE, tags=("U5",))
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus near-dedup against a persisted fingerprint store
    (r12 — the form of U5 a daily-ingest pipeline needs; the
    batch-corpus twin of the reference's streaming high-water dedup,
    producer_company_news.py:128-141). The newest 10% of documents by id
    plays the role of "today's shard"; the other 90% is the accumulated
    corpus whose MinHash store (operators/dedup.py: sigs + bp-partitioned
    band table, O(reps), text-free) persists under .cache/ exactly like
    the bucketed layouts. The shard dedups against the STORE — its own
    signature kernel plus a content-sha probe and a touched-buckets band
    join; history text is never rescanned.

    Value-oracled (the q_rollup_incremental equivalence pattern): the
    query returns split sizes and the exact shard-duplicate count
    (all three DuckDB-reproducible — the duplicate count via an EXISTS
    over earlier identical texts, which is precisely what the star edges
    assert), plus ``matches_recompute`` — a hash-checked boolean TRUE iff
    the incremental pair set EQUALS the from-scratch recompute on
    (history ∪ shard) restricted to shard-touching pairs, kind and
    est_jaccard included (exceptAll both ways == empty). Any drift in
    collapse semantics, cap arithmetic, store staleness, or signature
    determinism flips it."""
    import math

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    # bounded driver collect (verdict #9): one row / one long at any
    # scale — a per-query serialization point, never a memory risk
    max_id = docs.agg(F.max("doc_id")).first()[0]
    thr = int(math.floor(0.9 * (max_id + 1)))
    history = docs.filter(F.col("doc_id") < thr)
    shard = docs.filter(F.col("doc_id") >= thr)

    path = _ensure_minhash_store(spark, sf_dir, history, thr)
    inc = dedup.incremental_dedup_against_store(
        spark, path, shard, "text", "doc_id", threshold=0.5
    )
    inc = dedup.persist_tracked(inc.select("id_a", "id_b", "est_jaccard", "kind"))

    # from-scratch twin on the full corpus, restricted to shard-touching
    rep_corpus, members = _exact_collapse(docs)
    fs_cands = (
        dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard", F.lit("lsh").alias("kind"))
    )
    fs_star = _star_edges(members, "est_jaccard", 1.0).select(
        "id_a", "id_b", "est_jaccard", F.lit("exact").alias("kind")
    )
    fs = (
        fs_cands.unionByName(fs_star)
        .filter((F.col("id_a") >= thr) | (F.col("id_b") >= thr))
    )
    sym_diff = _multiset_diff_count(inc, fs)
    # one scan for both split sizes (r14, guide §1.2: don't run two jobs
    # where one pass answers both) — count(when) counts the non-null
    # branch, exactly the two filtered count(1)s it replaces
    counts = docs.agg(
        F.count(F.when(F.col("doc_id") < thr, F.lit(1))).alias("n_history"),
        F.count(F.when(F.col("doc_id") >= thr, F.lit(1))).alias("n_shard"),
    )
    n_dups = inc.filter(F.col("kind") == "exact").agg(
        F.count(F.lit(1)).alias("n_shard_exact_dups")
    )
    return (
        counts.crossJoin(F.broadcast(n_dups))
        .crossJoin(F.broadcast(sym_diff))
        .select(
            "n_history",
            "n_shard",
            "n_shard_exact_dups",
            (F.col("__d") == 0).alias("matches_recompute"),
        )
    )


_RETRACTION_ORACLE = """
    WITH thr AS (
      SELECT CAST(FLOOR(0.9 * (MAX(doc_id) + 1)) AS BIGINT) AS t FROM documents
    ),
    top AS (
      SELECT d.text, MIN(d.doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents d, thr
      WHERE d.doc_id < thr.t AND d.text IS NOT NULL
      GROUP BY d.text ORDER BY c DESC, rep ASC LIMIT 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents d, thr
            WHERE d.doc_id < thr.t) AS n_history,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents d, thr
            WHERE d.doc_id >= thr.t) AS n_shard,
           top.rep AS retracted_rep,
           top.c AS n_retracted,
           TRUE AS matches_retracted_recompute
    FROM top
    """


@register("q_llm_dedup_retraction", oracle=_RETRACTION_ORACLE, tags=("U5",))
def q_llm_dedup_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content RETRACTION against the persisted fingerprint store (r13,
    implementing the r12 verdict #8 lifecycle ask end-to-end): the most
    frequent history text — deterministically chosen (count desc, rep id
    asc), the boilerplate template on the zipf fixture, a planted dup
    pair on the uniform one — is withdrawn via
    ``tombstone_minhash_store`` (takedown/licensing semantics), and
    today's shard then dedups against the retracted store. The store is
    a SEPARATE cached derivative from q_llm_dedup_incremental's (spec
    suffix ``_retr``) so the tombstone never leaks into that query; the
    tombstone append is TAGGED, so re-runs are idempotent no-ops against
    the cached store.

    Value-oracled (boolean-gate pattern): the query returns the
    split sizes, the retracted rep id and its history group size (all
    DuckDB-reproducible), plus ``matches_retracted_recompute`` — a
    hash-checked boolean TRUE iff the post-retraction incremental pair
    set EQUALS the from-scratch recompute on the corpus WITHOUT the
    retracted content group (history copies removed; shard copies kept —
    they legitimately re-dedup among themselves under a re-elected
    representative), restricted to shard-touching pairs. Any leak of the
    tombstoned fingerprint (sha probe or band entry) manifests as an
    edge to the retracted rep and flips the gate. Non-vacuity is pinned
    by the synthetic retraction test
    (tests/test_incremental_dedup.py::test_tombstone_retracts_content_
    and_compaction_erases)."""
    import math

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    # bounded driver collect (verdict #9): one row / one long at any
    # scale — a per-query serialization point, never a memory risk
    max_id = docs.agg(F.max("doc_id")).first()[0]
    thr = int(math.floor(0.9 * (max_id + 1)))
    history = docs.filter(F.col("doc_id") < thr)
    shard = docs.filter(F.col("doc_id") >= thr)

    top = (
        history.filter(F.col("text").isNotNull())
        .groupBy("text")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("rep"))
        .limit(1)
        .first()  # bounded scalar: one (text, rep, count) row
    )
    retracted_text, retracted_rep, n_retracted = top["text"], top["rep"], top["c"]

    path = _ensure_minhash_store(spark, sf_dir, history, thr, suffix="_retr")
    dedup.tombstone_minhash_store(
        spark.createDataFrame([(retracted_rep,)], "rep_id long"),
        path,
        tag="retraction-v1",  # idempotent across re-runs of the cached store
    )
    inc = dedup.incremental_dedup_against_store(
        spark, path, shard, "text", "doc_id", threshold=0.5
    )
    inc = dedup.persist_tracked(inc.select("id_a", "id_b", "est_jaccard", "kind"))

    # from-scratch twin on the corpus WITHOUT the retracted content
    # group's HISTORY copies (NULL-text rows kept: non-content, dropped
    # by the collapse itself)
    reduced = docs.filter(
        (F.col("doc_id") >= thr)
        | F.col("text").isNull()
        | (F.col("text") != F.lit(retracted_text))
    )
    rep_corpus, members = _exact_collapse(reduced)
    fs_cands = (
        dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard", F.lit("lsh").alias("kind"))
    )
    fs_star = _star_edges(members, "est_jaccard", 1.0).select(
        "id_a", "id_b", "est_jaccard", F.lit("exact").alias("kind")
    )
    fs = (
        fs_cands.unionByName(fs_star)
        .filter((F.col("id_a") >= thr) | (F.col("id_b") >= thr))
    )
    sym_diff = _multiset_diff_count(inc, fs)
    # one scan for both split sizes (r14; same fusion as the incremental
    # query's assembly)
    counts = docs.agg(
        F.count(F.when(F.col("doc_id") < thr, F.lit(1))).alias("n_history"),
        F.count(F.when(F.col("doc_id") >= thr, F.lit(1))).alias("n_shard"),
    )
    return (
        counts.crossJoin(F.broadcast(sym_diff))
        .select(
            "n_history",
            "n_shard",
            F.lit(retracted_rep).cast("long").alias("retracted_rep"),
            F.lit(n_retracted).cast("long").alias("n_retracted"),
            (F.col("__d") == 0).alias("matches_retracted_recompute"),
        )
    )


@register(
    "q_llm_dedup_embedding",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN vec_id % 29 = 0
                          AND len(list_filter(embedding, x -> x <> 0)) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS planted_pairs,
           TRUE AS recall_ok
    FROM embeddings
    """,
    tags=("U5", "U6"),
)
def q_llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH buckets.

    Value-oracled since r11 (boolean-gate pattern): a deterministic ~3%
    of nonzero vectors is cloned into the corpus scaled by 1.001 (same
    direction → cosine exactly 1.0, ids offset by 10^8); the query
    returns a one-row summary whose corpus size and plant count the
    DuckDB oracle reproduces, plus ``recall_ok`` — TRUE iff the
    hyperplane-bucket → exact-cosine → threshold pipeline recovered
    EVERY planted (original, clone) pair. The r10 recall-0 bug (near-
    parallel sin-generated hyperplanes) would today fail the driver's
    hash compare instead of needing a human to read a recall column."""
    offset = 100_000_000
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    nonzero = F.exists("embedding", lambda x: x != 0)
    planted_src = emb.filter((F.col("vec_id") % 29 == 0) & nonzero)
    planted = planted_src.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = dedup.persist_tracked(
        similarity.cosine_near_dup_pairs(
            corpus, "embedding", "vec_id", dim=64, threshold=0.9
        )
    )
    expected = planted_src.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + offset).alias("id_b"),
    )
    return _planted_recall_summary(pairs, expected, emb)


# --------------------------------------------------------------------------
# Similarity search (U6)
# --------------------------------------------------------------------------


def _query_vec() -> list[float]:
    """Fixed 64-dim query vector (engine-independent constant — both the
    Spark query and the DuckDB oracle embed the identical literal)."""
    import math

    return [round(math.sin(j + 1), 6) for j in range(64)]


_QUERY_VEC_SQL = "[" + ", ".join(repr(x) for x in _query_vec()) + "]"


@register(
    "q_llm_knn_cosine",
    oracle=f"""
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST({_QUERY_VEC_SQL} AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("U6",),
)
def q_llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 vs a fixed query vector —
    JVM-side fold, TakeOrderedAndProject (no global sort)."""
    t = Tables(spark, sf_dir)
    return similarity.cosine_topk(t.embeddings, "embedding", "vec_id", _query_vec(), k=10)


@register(
    "q_llm_knn_ivf",
    oracle=f"""
    -- Exact SQL replay of the IVF pipeline (r11 oracle upgrade — was
    -- rows-only): "approximate" here means approximate vs the FULL scan,
    -- not nondeterministic. Centroids, probe set, assignment, in-bucket
    -- rerank and recall are all pure functions of the fixture, so DuckDB
    -- replays every step. Tie-breaks mirror the Spark side exactly:
    -- assignment = lowest centroid id on equal cosine (numpy argmax
    -- first-occurrence), probe = cosine DESC then centroid id (stable
    -- sort), top-k = ROUND(cos,6) DESC then vec_id.
    WITH q AS (SELECT CAST({_QUERY_VEC_SQL} AS DOUBLE[]) AS qv),
    cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 16
    ),
    probe AS (
      SELECT cid FROM cent, q
      ORDER BY list_cosine_similarity(cv, qv) DESC, cid ASC
      LIMIT 4
    ),
    assigned AS (
      SELECT vec_id, embedding, cid AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                            CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1
    ),
    approx AS (
      SELECT a.vec_id,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), q.qv), 6)
               AS cosine_sim
      FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe)
      ORDER BY cosine_sim DESC, a.vec_id ASC
      LIMIT 10
    ),
    exact AS (
      SELECT e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
               AS cosine_sim
      FROM embeddings e, q
      ORDER BY cosine_sim DESC, e.vec_id ASC
      LIMIT 10
    ),
    recall AS (
      SELECT CAST(COUNT(*) AS DOUBLE) / CAST(10.0 AS DOUBLE) AS recall_at_10
      FROM approx JOIN exact USING (vec_id)
    )
    SELECT a.vec_id, a.cosine_sim, r.recall_at_10
    FROM approx a CROSS JOIN recall r
    """,
    tags=("U6",),
)
def q_llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10 (16 centroids, nprobe=4): the scan
    touches ~nprobe/16 of the corpus. Value-oracled since r11: every IVF
    step is deterministic (fixed centroids = embeddings 0..15, stable
    tie-breaks), so the DuckDB twin replays centroid selection, probe
    choice, bucket assignment and the in-bucket rerank and must produce
    the identical 10 rows — including ``recall_at_10`` = |IVF top-10 ∩
    exact top-10| / 10, still computed in-plan against the brute-force
    answer. (At 100 TB the exact pass runs over a sampled query set as
    an offline audit, not per query; here the corpus is the sample.)"""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    centroid_rows = (
        emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r[0]] for r in centroid_rows]
    approx = similarity.ivf_topk(
        emb, "embedding", "vec_id", centroids, _query_vec(), k=10, nprobe=4
    )
    exact_ids = similarity.cosine_topk(
        emb, "embedding", "vec_id", _query_vec(), k=10
    ).select("vec_id")
    recall = (
        approx.join(exact_ids, "vec_id", "left_semi")
        .agg((F.count("*") / F.lit(10.0)).alias("recall_at_10"))
    )
    return approx.crossJoin(F.broadcast(recall))


# --------------------------------------------------------------------------
# Text analysis (U7 + mandate)
# --------------------------------------------------------------------------


@register(
    "q_llm_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_token
    FROM documents
    """,
    tags=("U7",),
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization stats (counts oracle-checked)."""
    t = Tables(spark, sf_dir)
    # count-only: segments == spaces + 1; avoids materializing the token
    # array per row (the dominant cost at sf1 — 1.7 s → string passes only)
    n_tok = text.ws_segment_count(F.col("text"))
    return t.documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.round(F.length("text").cast("double") / n_tok, 4).alias("chars_per_token"),
    )


@register(
    "q_llm_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
    tags=("U7",),
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (alpha runs / digit runs /
    single punctuation)."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).alias(
            "n_bpe_tokens"
        ),
        text.ws_segment_count(F.col("text")).cast("int").alias("n_ws_tokens"),
    )


@register(
    "q_llm_lang_id",
    # the argmax with earliest-language-wins-ties == the first language (in
    # en,de,es,fr order) whose marker score equals the maximum
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               regexp_matches(text, '[一-鿿]') AS cjk,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(['the','and','of','to','in'], x))) AS s_en,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(['el','la','los','que','de'], x))) AS s_es,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(['le','les','des','est','une'], x))) AS s_fr
        FROM documents
    ), predicted AS (
        SELECT lang,
               CASE WHEN cjk THEN 'zh'
                    WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                    WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                    WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM scored
    )
    SELECT lang, lang_pred, count(*) AS n
    FROM predicted GROUP BY lang, lang_pred
    """,
    tags=("U7",),
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang column (confusion counts)."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id", "lang", text.lang_id(F.col("text")).alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_llm_quality_score",
    oracle="""
    WITH parts AS (
        SELECT doc_id,
               length(text) AS n,
               string_split(lower(text), ' ') AS w,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        FROM documents
    ), derived AS (
        SELECT doc_id, n, n_punct,
               LEAST(CAST(n AS DOUBLE) / 500.0, 1.0) AS len_score,
               LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n, 1) * 5, 1.0) AS punct_penalty,
               CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / GREATEST(len(w), 1) AS mwl,
               CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','on'], x))) AS DOUBLE)
                   / GREATEST(len(w), 1) AS sw_ratio
        FROM parts
    )
    SELECT doc_id,
           ROUND(0.5*len_score + 0.3*(1 - punct_penalty)
                 + 0.2*(CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END), 4) AS quality,
           ROUND(sw_ratio, 4) AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n, 1), 4) AS punct_ratio
    FROM derived
    """,
    tags=("U7",),
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/word-shape composite in [0,1]."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        text.quality_score(F.col("text")).alias("quality"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        F.round(text.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
    )


@register(
    "q_llm_fingerprint",
    oracle=r"""
    -- NULL passthrough guard (r11 advisor): Spark's F.aggregate over a
    -- NULL word array yields NULL, but DuckDB's list_prepend(7, NULL)
    -- yields [7] → fingerprint 7 — a false mismatch on any null text.
    -- Dialect note kept with the oracle: RE2's \s excludes \x0b while
    -- Java's matches it; the fixture contract (single-space ASCII word
    -- soup, asserted in tests/test_fixture_contract) keeps the split
    -- identical on both engines.
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(string_split_regex(lower(text), '\s+'),
                 w -> CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT)
                      % 2147483647)),
             (acc, h) -> (acc * 33 + h) % 2147483647) END AS fingerprint
    FROM documents
    """,
    tags=("U7", "F10"),
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints; identical texts collide, and the
    distinct-fingerprint count matches the exact-dedup distinct-text count
    (asserted in tests). Value-oracled since r10: the word hash is an md5
    prefix both engines compute identically (operators/text.py
    doc_fingerprint), so DuckDB replays the exact fold."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id", text.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


# --------------------------------------------------------------------------
# Multimodal plumbing (U8)
# --------------------------------------------------------------------------


@register(
    "q_mm_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CASE WHEN doc_id % 3 = 0 THEN CAST(4 + doc_id % 13 AS INT)
                WHEN doc_id % 3 = 2 THEN CAST(2 * (2 + doc_id % 8) AS INT)
           END AS width,
           CASE WHEN doc_id % 3 = 0 THEN CAST(3 + doc_id % 7 AS INT)
                WHEN doc_id % 3 = 2 THEN CAST(2 * (1 + doc_id % 5) AS INT)
           END AS height,
           CASE WHEN doc_id % 3 = 1
                THEN ([8000, 16000, 22050, 44100])[CAST(doc_id % 4 AS INT) + 1]
           END AS sample_rate,
           CASE WHEN doc_id % 3 = 1 THEN CAST(64 + doc_id % 64 AS BIGINT)
           END AS n_samples,
           CASE WHEN doc_id % 3 = 2 THEN CAST(3 + doc_id % 6 AS INT)
           END AS n_frames,
           CASE WHEN doc_id % 3 = 2
                THEN CAST(([24, 25, 30, 60])[CAST(doc_id % 4 AS INT) + 1] AS DOUBLE)
           END AS fps,
           TRUE AS decode_ok
    FROM documents
    """,
    tags=("U8",),
)
def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → mapInPandas REAL decode (round 4): doc_id % 3
    picks the modality — actual 24-bit BMP images, 16-bit PCM WAVs, and
    YUV4MPEG2 raw videos (pure-python codecs, operators/multimodal.py) —
    width/height/mean-luminance, sample-rate/frame-count/RMS, and
    frame-count/fps are parsed from the bytes, not echoed from metadata.

    Value-oracled since r12 (was rows-only + a planted_ok fraction only a
    human would read): the query hash-checks every DECODED
    structural value — width/height/sample_rate/n_samples/n_frames/fps,
    NULL outside the row's modality — against the DuckDB twin computing
    the planted-geometry formulas (image w = 4 + id % 13, h = 3 + id % 7;
    audio rate ladder by id % 4, 64 + id % 64 samples; video
    w = 2*(2 + id % 8), h = 2*(1 + id % 5), 3 + id % 6 frames, fps ladder
    by id % 4), so a decode regression in any modality is a per-row hash
    mismatch. The payload-dependent signal stats DuckDB cannot reproduce
    (mean_lum, rms, n_bytes) certify through ``decode_ok``, a
    hash-checked boolean TRUE iff the row's stats are present and
    in-range for its modality (luminance in [0,255], rms ≥ 0, a payload
    longer than its codec header)."""
    t = Tables(spark, sf_dir)
    media = multimodal.synthesize_real_media(t.documents)
    feats = multimodal.decode_media_features(media)
    # mean_lum is NORMALIZED [0,1] (decode_bmp/decode_y4m divide by 255);
    # the bound is 1.0 so a dropped normalization — the scale-confusion
    # regression this gate exists to catch — flips decode_ok (r12 review:
    # an earlier <=255 bound certified nothing about the scale)
    lum_ok = (
        F.col("mean_lum").isNotNull()
        & (F.col("mean_lum") >= 0) & (F.col("mean_lum") <= 1.0)
    )
    stats_ok = (
        F.when(
            F.col("kind") == "image",
            lum_ok & (F.col("n_bytes") > 54),  # BMP header
        )
        .when(
            F.col("kind") == "audio",
            F.col("rms").isNotNull() & (F.col("rms") >= 0)
            & (F.col("n_bytes") > 44),  # WAV header
        )
        .otherwise(lum_ok & (F.col("n_bytes") > 10))  # Y4M stream header
    )
    return feats.select(
        "media_id", "kind", "width", "height", "sample_rate",
        "n_samples", "n_frames", "fps", stats_ok.alias("decode_ok"),
    )


@register(
    "q_mm_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((j * (3 + doc_id % 6)) // 3 AS INT) AS frame_idx,
           CAST(3 + doc_id % 6 AS INT) AS n_src_frames,
           CAST(2 * (2 + doc_id % 8) AS INT) AS width,
           CAST(2 * (1 + doc_id % 5) AS INT) AS height,
           CAST(2 * (2 + doc_id % 8) * 2 * (1 + doc_id % 5) * 3 / 2 AS BIGINT)
             AS n_bytes,
           TRUE AS frame_exact
    FROM documents, UNNEST([0, 1, 2]) AS t(j)
    WHERE doc_id % 3 = 2
    """,
    tags=("U8", "U3"),
)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (round 4): Y4M payloads → one scan over
    FRAME markers → 3 evenly-spaced source frames sliced byte-exactly per
    video via mapInPandas (row-expanding; unsampled frames never
    materialize).

    Value-oracled since r12 (was rows-only + a planted_ok fraction): the
    DuckDB twin replays the sampling arithmetic from the planted geometry
    — per planted video (3 + id % 6 source frames, all ≥ 3 so the k=3
    even-spacing rule ``j*n//3`` always yields 3 distinct indices) it
    emits the exact (frame_idx, n_src_frames, width, height) rows plus
    the 4:2:0 frame byte count w*h*3/2. Every one of those is a DECODED /
    MEASURED value on the Spark side (``n_bytes`` is the length of the
    actually-sliced payload), so a seek landing off a frame boundary, a
    miscounted FRAME marker, or a dropped video is a per-row hash
    mismatch. ``frame_exact`` additionally gates that the sliced bytes
    are exactly one planar frame (length matches the header geometry
    in-row)."""
    t = Tables(spark, sf_dir)
    media = multimodal.synthesize_real_media(t.documents).filter(
        F.col("kind") == "video"
    )
    frames = multimodal.sample_video_frames(media, k=3)
    return frames.select(
        "media_id", "frame_idx", "n_src_frames", "width", "height", "n_bytes",
        (
            F.col("n_bytes")
            == (F.col("width") * F.col("height") * 3 / 2).cast("long")
        ).alias("frame_exact"),
    )


# --------------------------------------------------------------------------
# Dedup clustering (pairs → components → canonical keeper)
# --------------------------------------------------------------------------


@register(
    "q_llm_dedup_cluster",
    # r14: the oracle runs GENERAL connected components (recursive-CTE
    # min-label propagation) over the IDENTICAL star-edge set the Spark
    # side feeds connected_components — not a window-min shortcut that
    # exploits the exact-dup group structure — so the matched bench pair
    # measures equivalent work in both directions (r13 verdict ask #1).
    # The WHERE label < dst prune keeps the fixpoint linear on star
    # graphs (members only ever receive the center's label); validated
    # result-identical to the old window-min form at sf0.01/sf10/zipf.
    oracle="""
    WITH RECURSIVE
    grp AS (
      SELECT text, MIN(doc_id) AS min_id
      FROM documents GROUP BY text HAVING COUNT(*) > 1
    ),
    edges AS (
      SELECT g.min_id AS id_a, d.doc_id AS id_b
      FROM grp g JOIN documents d ON d.text IS NOT DISTINCT FROM g.text
      WHERE d.doc_id <> g.min_id
    ),
    und AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION
      SELECT id_b AS src, id_a AS dst FROM edges
    ),
    labels(id, label) AS (
      SELECT src, src FROM und
      UNION
      SELECT und.dst, labels.label
      FROM labels JOIN und ON labels.id = und.src
      WHERE labels.label < und.dst
    ),
    comp AS (SELECT id, MIN(label) AS keeper FROM labels GROUP BY id)
    SELECT d.doc_id, COALESCE(c.keeper, d.doc_id) AS keeper_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
    tags=("U4", "U5"),
)
def q_llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster duplicate documents (connected components over dup-pair
    edges) and assign each row its cluster keeper. Edges here are exact-
    text matches so the result is oracle-checkable; the same operator
    consumes MinHash/SimHash candidate pairs unchanged
    (operators/cluster.py). Edge generation (r5): group sorted doc ids
    by sha2(text) — ONE partial-aggregated exchange keyed on 32 bytes,
    cryptographic so no collision verify is needed — and emit STAR edges
    (min id → each other id): linear in group size even when one
    boilerplate text repeats millions of times (a clique explode would
    be quadratic there), and star edges reach the identical components.
    The r4 form was a corpus self-join ON the raw text — a sort-merge
    over ~250-char string keys, measured 3-11 s at sf1 depending on
    session state vs sub-second for this shape.

    r13: connected_components is now SIZE-SELECTED — edge sets under the
    gate resolve by driver union-find instead of the iterative loop
    (sf10 solo: 2.97 s → 1.38 s; the 1,000-edge graph was paying ~2.3 s
    of per-iteration join stages + checkpoint/convergence jobs).
    r14: the matched pair is HONEST — the DuckDB oracle runs general
    recursive-CTE connected components over the identical star-edge set
    (not the old window-min shortcut), so both engines do equivalent
    work: edge generation + CC + cluster join-back."""
    from fineventstream_spark.operators.cluster import dedup_keepers

    t = Tables(spark, sf_dir)
    docs = t.documents
    pairs = exact_dup_star_edges(docs, "text", "doc_id")
    return dedup_keepers(docs, pairs, "doc_id").select("doc_id", "keeper_id")


def exact_dup_star_edges(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_a, id_b) star edges connecting each exact-duplicate group's
    minimum id to its other members — the q_llm_dedup_cluster edge
    generator, exposed so the plan test can audit the edge subtree
    (connected_components truncates lineage via localCheckpoint, so the
    final query plan no longer shows it)."""
    groups = (
        docs.groupBy(F.sha2(text_col, 256).alias("h"))
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return groups.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ids")),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), 1).alias("id_a"),
                    F.element_at(F.col("ids"), j).alias("id_b"),
                ),
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")


@register(
    "q_udtf_chunk",
    oracle="""
    SELECT d.doc_id,
           CAST(t.i AS INTEGER) AS chunk_idx,
           array_to_string(d.words[t.i*20+1 : t.i*20+20], ' ') AS chunk,
           CAST(LEAST(20, len(d.words) - t.i*20) AS INTEGER) AS n_words
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 100) d
    CROSS JOIN LATERAL unnest(range(CAST(ceil(len(d.words)/20.0) AS BIGINT))) AS t(i)
    """,
    tags=("U3",),
)
def q_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): chunk each document into fixed-size
    word windows — the row-expanding API surface beyond explode
    (Spark 3.5+ ``@udtf``). Used by training pipelines to split long
    documents into context-window-sized samples."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx int, chunk string, n_words int")
    class ChunkDoc:
        def eval(self, text: str, size: int):
            words = (text or "").split()
            for i in range(0, len(words), size):
                chunk = words[i : i + size]
                yield i // size, " ".join(chunk), len(chunk)

    t = Tables(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < 100)
    chunker = ChunkDoc
    return docs.lateralJoin(
        chunker(F.col("text").outer(), lit(20))
    ).select("doc_id", "chunk_idx", "chunk", "n_words")


@register(
    "q_llm_train_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(text), 1, 1) < 'd' THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
    tags=("U7",),
)
def q_llm_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/eval split (~81/19 at first hex
    digit < 'd') — reproducible across engines and runs, and exact dups
    always land in the same split (no train/eval leakage)."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.when(F.substring(F.md5("text"), 1, 1) < "d", "train")
        .otherwise("eval")
        .alias("split"),
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 5, dim: int = 64) -> str:
    """Unrolled Lloyd's-algorithm replay in DuckDB SQL (r11 oracle
    upgrade): the iteration count is FIXED, so "iterative" does not mean
    "not SQL-expressible" — each round is one assignment CTE (cosine
    argmax with the same lowest-centroid-id tie-break as the numpy
    kernel) plus one per-dim-mean CTE (empty clusters keep their
    centroid via the LEFT JOIN COALESCE, mirroring kmeans_fit). The
    final SELECT reproduces the query's exact output: cluster counts
    against the round-5 centroids and the Euclidean inertia gain from
    the deterministic init (first k vectors by id) to the fit."""
    sql = [
        f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dims AS (SELECT unnest(range(1, {dim + 1})) AS i),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
             e AS cv
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k}) t
    )"""
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        sql.append(
            f""",
    a{it} AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.cv) DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN {prev} c) t
      WHERE rn = 1
    ),
    m{it} AS (
      SELECT cid, list(m ORDER BY i) AS cv
      FROM (SELECT a.cid, d.i, AVG(a.e[d.i]) AS m
            FROM a{it} a CROSS JOIN dims d GROUP BY a.cid, d.i) t
      GROUP BY cid
    ),
    c{it} AS (
      SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN m{it} m USING (cid)
    )"""
        )
        prev = f"c{it}"
    sql.append(
        f""",
    afinal AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.cv) DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN {prev} c) t
      WHERE rn = 1
    ),
    i0 AS (SELECT AVG(d2) AS j FROM (
      SELECT MIN(list_distance(v.e, c.cv) ^ 2) AS d2
      FROM v CROSS JOIN c0 c GROUP BY v.vec_id) t),
    ifit AS (SELECT AVG(d2) AS j FROM (
      SELECT MIN(list_distance(v.e, c.cv) ^ 2) AS d2
      FROM v CROSS JOIN {prev} c GROUP BY v.vec_id) t)
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n,
           (SELECT CASE WHEN i0.j > 0 THEN ROUND((i0.j - ifit.j) / i0.j, 4)
                        ELSE 0.0 END
            FROM i0, ifit) AS inertia_gain
    FROM afinal GROUP BY cluster"""
    )
    return "".join(sql)


@register("q_llm_kmeans", oracle=_kmeans_oracle_sql(), tags=("U6",))
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over embeddings (5 Lloyd iterations, k=8):
    cluster cardinalities. Value-oracled since r11 (was rows-only): the
    iteration count is fixed and every step is deterministic (first-k
    init, cosine-argmax assignment with lowest-index tie-break, per-dim
    mean update), so the DuckDB twin unrolls the five rounds as CTEs
    and must land on identical cluster counts AND the identical
    4-dp inertia gain (_kmeans_oracle_sql).

    ``inertia_gain`` — the relative reduction in total within-cluster
    sum of squares from the deterministic initial centroids to the
    fitted ones — remains the quality audit: an internal metric on
    purpose, because the fixture's labels are barely separable
    (within-cluster spread ~5x the between-label centroid distance), so
    label purity would certify noise; inertia gain certifies that the
    Lloyd updates actually descend. A regression in the update math
    shows up as the gain collapsing toward 0 — and now also as a hash
    mismatch."""
    from fineventstream_spark.operators.kmeans import (
        initial_centroids,
        kmeans_fit,
        kmeans_inertia,
    )

    t = Tables(spark, sf_dir)
    init = initial_centroids(t.embeddings, "embedding", "vec_id", 8)
    centroids, assigned = kmeans_fit(
        t.embeddings, "embedding", "vec_id", k=8, iterations=5, init=init
    )
    i0 = kmeans_inertia(t.embeddings, "embedding", init)
    i1 = kmeans_inertia(t.embeddings, "embedding", centroids)
    gain = round((i0 - i1) / i0, 4) if i0 > 0 else 0.0
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .withColumn("inertia_gain", F.lit(gain))
    )


_ED_CHARS = "abcdefghijklmnopqrstuvwxyz "  # full letter alphabet + space


def _ed_count_cols() -> str:
    """CTE projection: one count column per alphabet character, computed
    once per DOC — inlining length(replace(...)) into the join condition
    made DuckDB evaluate the O(n) string scans per PAIR (~67B char ops
    at sf3, minutes of single-core grind caught by the r5 sf3 sweep)."""
    return ", ".join(
        f"(length(text) - length(replace(text, '{ch}', ''))) AS c{i}"
        for i, ch in enumerate(_ED_CHARS)
    )


def _ed_l1_cond() -> str:
    """SQL conjunct over the CTE's per-doc count columns: the character-
    multiset L1 lower bound — see q_llm_edit_distance."""
    l1 = " + ".join(f"abs(a.c{i} - b.c{i})" for i in range(len(_ED_CHARS)))
    return f"({l1}) <= 10"


@register(
    "q_llm_edit_distance",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id, text, min(n_chars) AS n_chars,
             {_ed_count_cols()}
      FROM documents
      GROUP BY text
    ),
    slim AS MATERIALIZED (
      SELECT doc_id, n_chars, {", ".join(f"c{i}" for i in range(len(_ED_CHARS)))}
      FROM d
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM slim a
      JOIN slim b
        ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
       AND {_ed_l1_cond()}
    )
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
    FROM pairs p
    JOIN d ta ON ta.doc_id = p.id_a
    JOIN d tb ON tb.doc_id = p.id_b
    WHERE levenshtein(ta.text, tb.text) <= 5
    """,
    tags=("U5", "F4"),
)
def q_llm_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verify with length blocking + the
    character-multiset L1 prune. Candidate pairs come from an equi-join
    on exact length (edit distance ≤ k implies length difference ≤ k —
    the classic blocking key). Length alone is WEAK blocking on a
    concentrated length distribution: at sf1 it admits ~3M pairs, and a
    full 250×250 DP per pair ground a single executor core for 30+
    minutes (caught by the r5 sf1 differential sweep — and DuckDB's
    unbanded C DP needed 74 s on the same pairs). Two exact refinements
    fix both engines without changing one output row:

    1. **L1 multiset prune** (join condition, whole-stage codegen): one
       edit changes any character's count by at most 1, so the count
       vectors' L1 distance satisfies lev ≥ L1/2 — dist ≤ 5 requires
       L1 ≤ 10 over the per-character counts (computed once per DOC via
       length-minus-translate; a SUBSET of the alphabet is still a valid
       lower bound, so unlisted characters cost recall nothing). On the
       word-soup fixture this collapses 809k length-blocked sf1 pairs to
       157 — the DP volume disappears on BOTH engines (the ORACLE
       carries the identical conjunct over a materialized per-doc CTE:
       8.4 s total in DuckDB at sf1, down from 74 s).
    2. **Banded DP**: ``levenshtein(ta, tb, 5)`` (Spark 3.5+ threshold
       form) runs the O(n·k) band — 23× less work than the full
       matrix — returning -1 past the threshold, exactly the rows the
       filter drops anyway.

    Plus a core-spread repartition on the probe side: the corpus scans
    as ONE task from a single parquet file and a broadcast join inherits
    that parallelism for its stream side — the third cause of the
    single-core grind.

    3. **Distinct-text collapse** (r10, forced by the boilerplate-skewed
       fixture): pairing RAW doc ids makes the OUTPUT itself quadratic
       when a text repeats — on `sf10zipf1.2`, 50k boilerplate docs
       share 8 templates, every intra-template pair has identical
       length, L1 = 0 and dist = 0, so ~1.7e8 result rows survive every
       prune and both engines grind for minutes producing rows nobody
       wants (exact duplicates are ``q_llm_dedup_exact``'s job). No plan
       fixes a quadratic output; the semantics changed instead: collapse
       to ONE representative per distinct text (min doc_id — matches the
       near-dedup pipeline's exact-collapse prepass) before pairing, so
       every output pair has dist ∈ [1, 5]. The oracle carries the
       identical GROUP BY text collapse, so hashes stay comparable. The
       collapse shuffles each text once — linear, and the same exchange
       the old length-repartition already paid."""
    t = Tables(spark, sf_dir)

    def counts(prefix: str):
        return [
            (F.length("text") - F.length(F.translate("text", ch, ""))).alias(
                f"{prefix}{i}"
            )
            for i, ch in enumerate(_ED_CHARS)
        ]

    # one representative per distinct text (min doc_id, mirrored in the
    # oracle's GROUP BY text) — identical texts are exact-dedup's
    # territory, and pairing them makes the OUTPUT quadratic on
    # boilerplate-heavy corpora
    # r14 (guide §2.4/§5): reps feeds FOUR consumers (both pair sides +
    # both text re-fetches) — as four plan subtrees the corpus was
    # scanned and the full-text groupBy exchange executed four times per
    # run; materialized once, the collapse shuffles each text once.
    reps = (
        t.documents.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.min("n_chars").alias("n_chars"))
        .localCheckpoint(eager=False)
    )

    # repartition BOTH sides: whichever one the planner picks as the
    # broadcast build, the OTHER is the probe whose parallelism equals
    # its partition count — and a single-file corpus scans as one task.
    # SLIM sides — ids + counts only: at sf10 the length blocking admits
    # ~2.5e8 candidate pairs (447 distinct lengths × ~1k docs each), and
    # dragging two ~300-byte texts through that probe is the dominant
    # cost on both engines. Texts are re-fetched for only the pairs that
    # survive the L1 prune (hundreds), classic late materialization.
    a = spread_for_kernel(reps, "doc_id").select(
        F.col("doc_id").alias("id_a"), F.col("n_chars").alias("na"),
        *counts("ca"),
    )
    b = spread_for_kernel(reps, "doc_id").select(
        F.col("doc_id").alias("id_b"), F.col("n_chars").alias("nb"),
        *counts("cb"),
    )
    l1 = None
    for i in range(len(_ED_CHARS)):
        term = F.abs(F.col(f"ca{i}") - F.col(f"cb{i}"))
        l1 = term if l1 is None else l1 + term
    cond = (
        (F.col("na") == F.col("nb"))
        & (F.col("id_a") < F.col("id_b"))
        & (l1 <= F.lit(10))
    )
    pairs = a.join(b, cond).select("id_a", "id_b")
    ta = reps.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    tb = reps.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    return (
        pairs.join(ta, "id_a").join(tb, "id_b")
        .withColumn("dist", F.levenshtein("ta", "tb", 5).cast("bigint"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def _near_dedup_keepers(corpus: DataFrame) -> DataFrame:
    """(doc_id, keeper_id) for every doc of ``corpus`` (doc_id, text):
    the near-dup pipeline of q_llm_near_dedup_pipeline — exact collapse,
    MinHash-LSH candidates, 3-gram Jaccard verify (≥ 0.8), connected
    components, cluster-minimum keeper."""
    from fineventstream_spark.operators.cluster import dedup_keepers

    # EXACT-COLLAPSE prepass (r10, from the skewed planted-recall audit):
    # identical texts — the boilerplate mass on a real crawl — collapse to
    # one representative (min doc_id per text) BEFORE shingling. A 6-18 k-
    # doc template group is a capped-out LSH mega-bucket no bounded cap can
    # admit (measured on sf10zipf1.2: raising max_bucket 50→1000 bought 5×
    # the candidate pairs and ZERO recall — the dropped pairs are all
    # intra-template), but it is ONE representative here, so the bucket
    # never forms; exact-dup members inherit their representative's cluster
    # at the end. Per-text min is partial-aggregated (no skew hazard), and
    # LSH input shrinks by the dup mass. Keeper ids are unchanged where the
    # old path found the pair: a representative is its text-group minimum,
    # so min-over-reps == min-over-members.
    # r14 (guide §2.3/§2.4 — the _exact_collapse rewrite applied inline;
    # this pipeline keeps NULL-text docs in its output, so it cannot call
    # the null-filtering helper): exchanges keyed on sha2(text) instead of
    # the text itself, the rep's text rides the aggregation as any_value
    # (value-deterministic within a sha group; sha2(NULL) IS NULL, so the
    # NULL-text docs form the same single group they did under
    # groupBy(text)), and the rep_corpus semi-join is gone.
    # r15: 32-byte binary digest key (see _exact_collapse) — unhex(NULL)
    # IS NULL, so the NULL-text single-group behavior is preserved.
    keyed = corpus.select(
        "doc_id", "text", F.unhex(F.sha2(F.col("text"), 256)).alias("__sha")
    )
    rep = keyed.groupBy("__sha").agg(
        F.min("doc_id").alias("rep_id"), F.any_value("text").alias("text")
    )
    members = keyed.select("doc_id", "__sha").join(
        rep.select("__sha", "rep_id"), "__sha"
    ).select("doc_id", "rep_id")
    rep_corpus = rep.select(F.col("rep_id").alias("doc_id"), "text")
    cands = dedup.minhash_lsh_candidates(rep_corpus, "text", "doc_id")
    verified = dedup.ngram_jaccard_verify(cands, rep_corpus, "text", "doc_id").filter(
        F.col("jaccard") >= 0.8
    )
    rep_keepers = dedup_keepers(
        rep_corpus, verified.select("id_a", "id_b"), "doc_id"
    ).select(F.col("doc_id").alias("rep_id"), "keeper_id")
    return members.join(rep_keepers, "rep_id").select("doc_id", "keeper_id")


@register(
    "q_llm_near_dedup_pipeline",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS planted_pairs,
           TRUE AS recall_ok,
           TRUE AS near_recall_ok,
           TRUE AS no_planted_leak
    FROM documents
    """,
    tags=("U5", "X1"),
)
def q_llm_near_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup ring composed end-to-end: MinHash-LSH candidates →
    exact n-gram Jaccard verify (≥ 0.8) → connected components →
    per-cluster keeper (``_near_dedup_keepers``). Approximate by design
    (LSH recall), so the result self-certifies: a deterministic ~1% of
    docs is cloned into the corpus (planted exact duplicates, ids offset
    by 10^8) and ``recall_ok`` is TRUE iff the full pipeline collapsed
    every planted pair into one cluster — a driver row that "ran" also
    proves signature→bucket→verify→cluster quality end-to-end. Planted
    ids are all larger than any real id, so cluster minima stay the real
    keepers. Scale shape: candidates only form inside capped LSH
    buckets, the verify runs only on candidate pairs, clustering
    iterates over the (tiny) verified edge set — the corpus is touched
    twice (shingle pass, final keeper join), never pairwise; the planted
    clones add 1% to the scan."""
    offset = 100_000_000
    t = Tables(spark, sf_dir)
    docs = t.documents
    # exact plants (%97, id+1e8) certify collapse→cluster→keeper;
    # NEAR plants (appended token, id+2e8, ≥16-word sources so the
    # 0.8 verify threshold clears with margin: 3-gram Jaccard
    # (N-2)/(N-1) ≥ 0.93) must ride the LIVE LSH→verify→CC path —
    # the non-tautological half of the gate
    plant_src = docs.filter(F.col("doc_id") % 97 == 0)
    near_src = plant_src.filter(
        F.size(F.split("text", " ")) >= _MIN_NEAR_WORDS
    ).select("doc_id", "text")
    planted = plant_src.withColumn("doc_id", F.col("doc_id") + offset)
    near = near_src.select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        _appended_token_mutation().alias("text"),
    )
    near_padded = near.select(
        "doc_id",
        "text",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in docs.schema.fields
            if f.name not in ("doc_id", "text")
        ],
    )
    corpus = docs.unionByName(planted).unionByName(near_padded)
    # the gates derive four frames from keepers (orig, clone, near,
    # leaks) — without the persist the whole kernel→LSH→verify→CC chain
    # re-ran per consumer (r14; narrow (doc_id, keeper_id) rows)
    keepers = dedup.persist_tracked(_near_dedup_keepers(corpus))
    # value-oracled since r11 (boolean-gate pattern): one summary row —
    # n_docs and planted_pairs reproduced by the DuckDB oracle from the
    # documents table, recall_ok TRUE iff every planted
    # (orig, clone) pair collapsed to ONE cluster end-to-end, and
    # no_planted_leak TRUE iff no planted id reached the keeper output.
    orig = keepers.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < offset)).select(
        F.col("doc_id").alias("pid"), F.col("keeper_id").alias("orig_keeper")
    )
    clone = keepers.filter(
        (F.col("doc_id") >= offset) & (F.col("doc_id") < _NEAR_OFFSET)
    ).select(
        (F.col("doc_id") - offset).alias("pid"), F.col("keeper_id").alias("clone_keeper")
    )
    near_k = keepers.filter(F.col("doc_id") >= _NEAR_OFFSET).select(
        (F.col("doc_id") - _NEAR_OFFSET).alias("pid"),
        F.col("keeper_id").alias("near_keeper"),
    )
    # one scan for both corpus counts (r14)
    counts = docs.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("doc_id") % 97 == 0, F.lit(1))).alias(
            "planted_pairs"
        ),
    )
    recalled = orig.join(clone, "pid").agg(
        F.coalesce(
            F.sum((F.col("orig_keeper") == F.col("clone_keeper")).cast("long")),
            F.lit(0),
        ).alias("__recalled")
    )
    # near gate: every ≥16-word plant source's NEAR copy (mutated text —
    # never collapses) must have ridden the live LSH→verify→CC path into
    # its source's cluster
    n_near = near_src.agg(F.count("*").alias("__n_near"))
    near_recalled = orig.join(near_k, "pid").agg(
        F.coalesce(
            F.sum((F.col("orig_keeper") == F.col("near_keeper")).cast("long")),
            F.lit(0),
        ).alias("__near_recalled")
    )
    # leak = a planted id as a real doc's keeper (impossible by
    # construction — cluster minima are real ids — which is exactly why
    # it's worth hash-checking)
    leaks = keepers.filter(
        (F.col("doc_id") < offset) & (F.col("keeper_id") >= offset)
    ).agg(F.count("*").alias("__leaks"))
    return (
        counts.crossJoin(F.broadcast(recalled))
        .crossJoin(F.broadcast(n_near))
        .crossJoin(F.broadcast(near_recalled))
        .crossJoin(F.broadcast(leaks))
        .select(
            "n_docs",
            "planted_pairs",
            (F.col("__recalled") == F.col("planted_pairs")).alias("recall_ok"),
            # vacuously TRUE when no >=16-word %97 source exists (oracle
            # hard-codes TRUE; non-vacuity pinned by
            # test_near_gates_not_vacuous — r11 advisor)
            (F.col("__near_recalled") == F.col("__n_near")).alias(
                "near_recall_ok"
            ),
            (F.col("__leaks") == 0).alias("no_planted_leak"),
        )
    )


@register(
    "q_llm_substring_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
      SELECT doc_id, array_to_string(ts[i : i+7], ' ') AS shingle
      FROM toks, UNNEST(range(1, len(ts) - 6)) AS t(i)
      WHERE len(ts) >= 8
    ), dup AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(d.shingle) AS BIGINT) AS n_dup_shingles,
           ROUND(COUNT(d.shingle) * 1.0 / COUNT(*), 4) AS dup_ratio
    FROM sh s LEFT JOIN dup d USING (shingle)
    GROUP BY s.doc_id
    HAVING COUNT(d.shingle) > 0
    ORDER BY dup_ratio DESC, doc_id
    LIMIT 50
    """,
    tags=("U5", "F8", "A1"),
)
def q_llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (the substring-level sibling of
    document-level MinHash): every 8-token shingle that appears in more
    than one document marks a cross-document duplicated passage; docs
    are ranked by the fraction of their shingles that are duplicated —
    the curation signal for boilerplate / mirrored spans that
    whole-document dedup cannot see. Spark side: shingling is ONE fused
    Arrow kernel (``dedup.text_to_shingle_hashes_udf`` — the r5 rewrite;
    the previous built-in-HOF formulation evaluated every shingle's
    slice+concat+hash in interpreted CodegenFallback mode, 2.8 s at sf1
    before any exchange even ran), and the shingle key is a 64-bit
    blake2b hash — 8 bytes instead of a ~50-byte string — through both
    fact-scale shuffles, which at 100 TB cuts shuffle bytes ~6x. The
    duplicate mark is a WINDOW over the shingle hash, not a groupBy +
    join-back: the join formulation shingles the fact TWICE and adds a
    third exchange plus a 10M-row sort-merge. The "shared by >1 distinct
    doc" predicate is ``min(doc_id) != max(doc_id)`` over that window —
    exact, and constant memory per aggregate even when a boilerplate
    shingle's partition holds the whole corpus (the r4
    ``size(collect_set(doc_id))`` form materialized the full per-shingle
    doc-id set on every row of a hot partition — an OOM/straggler hazard
    at 100 TB; min/max stream through the spillable window sorter
    instead). The oracle joins on the raw shingle string; a 64-bit hash
    collision would need ~2^32 distinct shingles to matter (birthday
    bound), far beyond any corpus's shingle count times this query's
    per-shingle cardinality. Top-50 with (dup_ratio DESC, doc_id) total
    order."""
    t = Tables(spark, sf_dir)
    # spread docs across all cores BEFORE the CPU-heavy kernel (lake files
    # can be one huge row group), same pattern as the MinHash kernel —
    # size-guarded since r15 (sizing.spread_for_kernel): at lake scale the
    # scan's own splits fill the cores and the text shuffle is skipped
    sh = (
        spread_for_kernel(t.documents.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode(dedup.text_to_shingle_hashes_udf(8)(F.col("text"))).alias(
                "sh_hash"
            ),
        )
    )
    hash_w = Window.partitionBy("sh_hash")
    marked = sh.withColumn(
        "dup",
        (F.min("doc_id").over(hash_w) != F.max("doc_id").over(hash_w)).cast("long"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("dup").alias("n_dup_shingles"),
            F.round(F.sum("dup") / F.count("*"), 4).alias("dup_ratio"),
        )
        .filter(F.col("n_dup_shingles") > 0)
        .orderBy(F.col("dup_ratio").desc(), F.col("doc_id"))
        .limit(50)
    )


@register(
    "q_llm_bigram_counts",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS ts FROM documents
    ), bg AS (
      SELECT ts[i] || ' ' || ts[i+1] AS bigram
      FROM toks, UNNEST(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 100
    """,
    tags=("U7", "F8", "A1"),
)
def q_llm_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (top 100): the raw material for
    collocation stats, tokenizer-merge candidates, and boilerplate
    phrase lists. Pure built-in HOFs (sequence → transform(element_at) →
    explode, all codegen); one fact-scale shuffle on the bigram, then
    TakeOrderedAndProject for the top-100 — no global sort. At 100 TB
    swap the full count for a count-min candidate pass exactly like the
    substring-dedup hash trick; here the exact count keeps the oracle
    strict. Total order: (n DESC, bigram)."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select(F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= 2
    )
    return (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts)-1),"
                    " i -> concat(element_at(ts, i), ' ', element_at(ts, i+1)))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


@register(
    "q_llm_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), tot AS (
      SELECT SUM(n) AS total FROM freq
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(f.n / tot.total)), 4) AS avg_logprob
    FROM toks t
    JOIN freq f USING (tok)
    CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY avg_logprob ASC, doc_id
    LIMIT 100
    """,
    tags=("U7", "A1", "F5"),
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring: each document's average token log-probability
    under the corpus's own unigram distribution — the cheap perplexity
    proxy used to flag gibberish/outlier documents before an expensive
    model-based filter (low avg logprob = rare-token-heavy). Plan: one
    token explode feeds BOTH the frequency table and the scoring join
    (the corpus is tokenized twice in this formulation — at 100 TB,
    materialize the exploded tokens once); the frequency table is
    vocabulary-sized and joins back per token, the total is a 1-row
    broadcast scalar, and the bottom-100 ends in partial heaps.
    Total order: (avg_logprob, doc_id)."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n") / F.col("total"))), 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy(F.col("avg_logprob").asc(), F.col("doc_id"))
        .limit(100)
    )
