"""Deduplication operators for large-scale training-data pipelines.

Four families, all deterministic (no eval-time RNG — hashes are seeded by
construction so re-runs and retried tasks agree):

- exact:        hash-groupBy on content (or sha256 for wide payloads)
- MinHash+LSH:  shingle → K minhashes → B bands → in-bucket candidates
- SimHash:      64-bit near-dup fingerprint, bucket by rotated prefixes
- n-gram Jaccard: exact verify on LSH candidate pairs only

Scale design (100 TB): every LSH candidate step here and in
``similarity.cosine_near_dup_pairs`` buckets to prune, caps oversized
buckets (degenerate content) before any list materializes, and forms
pairs only inside a bucket (:func:`bucket_pairs`), so the O(n²)
all-pairs compare never happens. Bucket entries are (bucket, id) rows,
tiny vs the corpus, and cross the wire once; payloads such as
signatures attach to the deduped pair list afterwards. Everything
downstream of the signature kernel is JVM built-ins.
"""

from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineventstream_spark.operators import epoch_store
from fineventstream_spark.operators.sizing import spread_for_kernel

# Large prime < 2^31 keeps rolling-hash arithmetic inside exact long range
# even under ANSI overflow checking.
_MOD = 2_147_483_647


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content value (the lowest id wins —
    deterministic, unlike dropDuplicates' partition-order winner)."""
    w = Window.partitionBy(content_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(words_col, n: int = 3):
    """Word n-gram shingle array from a words array column (JVM-side)."""
    return F.when(
        F.size(words_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words_col) - (n - 1)),
            lambda i: F.array_join(F.slice(words_col, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(words_col, " ")))


def _affine_params(k: int) -> tuple[int, int]:
    """Deterministic (a, b) for the k-th universal hash h_k(x) = (a·x+b) mod p.
    a odd and < 2^31 keeps a·x < 2^62 — no long overflow under ANSI mode."""
    a = (2654435761 * (k + 1) + 40503) % _MOD
    a |= 1
    b = (40503 * (k + 7) + 2654435761) % _MOD
    return a, b


def text_to_minhash_udf(num_hashes: int = 64, shingle_n: int = 3, bands: int = 0):
    """Fused tokenize→shingle→hash→MinHash(→LSH band buckets) kernel — one
    Arrow stage end to end.

    Why a pandas UDF and not ``transform``/``array_min`` built-ins: Spark's
    higher-order functions are CodegenFallback — every element evaluation is
    interpreted with boxed lambda variables. Measured on 5 k docs at K=64:
    the built-in formulation costs ~12 s (even a bare tokenize pass is
    seconds), while this fused kernel is sub-second: crc32 (C-speed,
    deterministic) for the single string-hash pass, then a (K × |shingles|)
    affine matrix + min in numpy. Fusing the band-bucket hashes in as well
    removes the last interpreted pass and an extra Python stage.
    Deterministic: fixed (a, b) per k, no eval-time RNG.

    Returns array<bigint>: the K signature values, followed by ``bands``
    band-bucket hashes when ``bands`` > 0.
    """
    import zlib

    A = np.array([_affine_params(k)[0] for k in range(num_hashes)], dtype=np.int64)
    B = np.array([_affine_params(k)[1] for k in range(num_hashes)], dtype=np.int64)
    rows_per_band = num_hashes // bands if bands else 0

    @F.pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").lower().split()
            if len(words) >= shingle_n:
                shs = {
                    " ".join(words[i : i + shingle_n])
                    for i in range(len(words) - shingle_n + 1)
                }
            else:
                shs = {" ".join(words)}
            x = np.fromiter((zlib.crc32(s.encode()) for s in shs), dtype=np.int64, count=len(shs))
            x %= _MOD
            # (K, S) affine transforms mod p, min over the shingle set
            sig = ((A[:, None] * x[None, :] + B[:, None]) % _MOD).min(axis=1)
            if bands:
                buckets = np.fromiter(
                    (
                        zlib.crc32(sig[b * rows_per_band : (b + 1) * rows_per_band].tobytes())
                        for b in range(bands)
                    ),
                    dtype=np.int64,
                    count=bands,
                )
                sig = np.concatenate([sig, buckets])
            out.append(sig)
        return pd.Series(out)

    return _sig


# --- persisted intermediates: released by the caller's scope ----------------
# The dedup operators persist() small intermediates that feed 2+ consumers
# (signature tables, candidate sets). The consuming action runs in the
# caller, so an operator cannot unpersist them itself without discarding
# the cache it just paid for. The caller owns their lifetime instead:
#
# - inside ``with released_on_exit():`` every persist_tracked() frame is
#   unpersisted when the block exits, raised or not. Scopes nest and are
#   per context (a contextvars.ContextVar), so leaving one never touches
#   a frame persisted in an enclosing scope or in another thread's scope.
#   The streaming dedup sink wraps each micro-batch in one.
# - outside a scope this module keeps no reference; the caller frees the
#   caches with the session (``spark.catalog.clearCache()``, as bench.py
#   and perfbench do between queries) or by stopping it.
_SCOPE: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "dedup_persist_scope", default=None
)


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist(), registered with the innermost active
    :func:`released_on_exit` scope, if there is one."""
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(df)
    return df.persist()


@contextlib.contextmanager
def released_on_exit() -> Iterator[None]:
    """Unpersist, on exit, exactly the frames persist_tracked() persisted
    inside this block."""
    persisted: list[DataFrame] = []
    token = _SCOPE.set(persisted)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in persisted:
            df.unpersist()


def _minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    bands: int,
    *carry: str,
) -> DataFrame:
    """(id_col, *carry, sig, buckets): the ``num_hashes`` MinHash values
    and ``bands`` band-bucket hashes of each row's text. The fixture and
    lake files can be a few unsplittable row groups and the kernel is the
    CPU-heavy step, so the rows are spread across the cores first while
    the input is knowably small (sizing.spread_for_kernel)."""
    sb = text_to_minhash_udf(num_hashes, shingle_n, bands)(F.col(text_col))
    return (
        spread_for_kernel(df, id_col)
        .select(id_col, *carry, sb.alias("__sb"))
        .select(
            id_col,
            *carry,
            F.slice("__sb", 1, num_hashes).alias("sig"),
            F.slice("__sb", num_hashes + 1, bands).alias("buckets"),
        )
    )


def _agreement(a, b, num_hashes: int):
    """Fraction of the ``num_hashes`` positions on which signatures ``a``
    and ``b`` agree, to 4 places: the MinHash estimate of the Jaccard
    similarity of their shingle sets."""
    same = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(same / F.lit(float(num_hashes)), 4)


def _with_agreement(pairs: DataFrame, sig: DataFrame, num_hashes: int) -> DataFrame:
    """(id_a, id_b, est_jaccard) for the (a, b) id pairs of
    :func:`bucket_pairs`, the signatures taken from ``sig`` (id, sig).

    Pairs form on ids alone and take their signatures only once deduped:
    the 512-byte signature would otherwise ride the bucket exchange once
    per band. The pair list is bucket-cap-bounded, so AQE broadcasts it
    and ``sig`` streams map-side; left un-hinted, a degenerate pair list
    falls back to a shuffle instead of an OOM."""
    return (
        pairs.join(sig.select(F.col("id").alias("a"), F.col("sig").alias("__sa")), "a")
        .join(sig.select(F.col("id").alias("b"), F.col("sig").alias("__sb")), "b")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            _agreement("__sa", "__sb", num_hashes).alias("est_jaccard"),
        )
    )


def _capped(entries: DataFrame, bucket_cols: list[str], max_bucket: int) -> DataFrame:
    """The rows of ``entries`` whose bucket holds 2..``max_bucket`` rows.

    The count is a map-side partial-aggregated groupBy, so a hot bucket
    costs one long per task; a window count would buffer and sort the
    whole hot partition before the filter. The join back is an un-hinted
    semi join: AQE broadcasts the kept-bucket list while it is small and
    shuffles otherwise. The list grows with the corpus, so a forced
    broadcast of it is a driver OOM on a dedup-heavy corpus."""
    keep = (
        entries.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
        .select(*bucket_cols)
    )
    return entries.join(keep, bucket_cols, "left_semi")


def bucket_pairs(entries: DataFrame, bucket_cols: list[str], entry="id") -> DataFrame:
    """The in-bucket pair kernel of every LSH candidate step: (a, b) for
    each two entries that share a bucket, with a < b, each pair once even
    when it shares several buckets.

    ``entries`` holds one row per (bucket, entry); ``bucket_cols`` name
    the bucket and ``entry`` is a column name or Column. Entries compare
    as values, so a struct entry orders by its first field (put a unique
    id there) and carries the rest into the pair.

    One sorted ``collect_list`` per bucket, then a JVM upper-triangle
    explode: the entries cross the wire once, where an a×b self-join on
    the bucket exchanges them once per side. Buckets of fewer than two
    entries are dropped before the explode: a one-entry list makes the
    triangle index past its end, which raises under ANSI. The list is
    materialized per bucket, so the caller caps bucket sizes first
    (:func:`_capped`)."""
    es = F.col("__es")
    pair = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.size(es) - 2),
                lambda i: F.transform(
                    F.sequence(i + 1, F.size(es) - 1),
                    lambda j: F.struct(
                        F.element_at(es, i + 1).alias("a"),
                        F.element_at(es, j + 1).alias("b"),
                    ),
                ),
            )
        )
    )
    return (
        entries.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(entry)).alias("__es"))
        .filter(F.size(es) >= 2)
        .select(pair.alias("__p"))
        .select("__p.a", "__p.b")
        .dropDuplicates(["a", "b"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-LSH banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated across
    bands. ``est_jaccard`` is the signature agreement fraction — an unbiased
    estimate of true Jaccard similarity of the shingle sets.

    Buckets larger than ``max_bucket`` are dropped (degenerate/boilerplate
    content): at 100 TB a single hot bucket would otherwise produce a
    quadratic pair explosion on one executor.

    Precondition: ``df[id_col]`` must be UNIQUE. Since the r15 split the
    candidate pairs are deduped BEFORE the signatures re-attach by
    joining back on id, so a duplicated id would re-multiply pairs there
    (the same holds for the shard-pair path of
    :func:`incremental_dedup_against_store`). Every caller passes a
    primary key; a defensive final ``dropDuplicates`` would add an
    exchange to pay for a contract violation, so the precondition is
    documented instead, as for ``similarity.cosine_near_dup_pairs``.
    """
    # signatures feed two consumers (the band entries and the sig
    # re-attach joins) — persist the small (id, sig) table instead of
    # re-running the kernel
    sig = persist_tracked(
        _minhash_signatures(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
            "id",
            "t",
            num_hashes,
            shingle_n,
            bands,
        )
    )
    band_entries = sig.select("id", F.posexplode("buckets").alias("band", "bucket"))
    pairs = bucket_pairs(
        _capped(band_entries, ["band", "bucket"], max_bucket), ["band", "bucket"]
    )
    return _with_agreement(pairs, sig, num_hashes)


def ngram_jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (never all-pairs).

    Joins the texts back by id (two hash joins on the small candidate set)
    and computes |A∩B| / |A∪B| over distinct shingles with built-ins.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    # the candidate plan is consumed three times (two id projections + the
    # final join); persist the small pair set instead of recomputing the
    # whole LSH pipeline per consumer (tracked: see released_on_exit)
    candidates = persist_tracked(candidates)
    # shingle only documents that appear in a candidate pair (semi join):
    # the verify set is orders of magnitude smaller than the corpus
    ids = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    needed = df.join(ids, df[id_col] == ids.id, "left_semi")
    # sh feeds BOTH pair sides below; unpersisted, the semi-join + shingle
    # subtree (and the caller's whole rep_corpus lineage — the exact-collapse
    # groupBy included) executes once per side (r14, guide §5: cache what is
    # reused; candidate-bounded rows, tracked: see released_on_exit)
    sh = persist_tracked(
        needed.select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(words, shingle_n)).alias("sh"),
        )
    )
    out = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a",
        "id_b",
        F.round(inter / union, 4).alias("jaccard"),
    )


def text_to_shingle_hashes_udf(shingle_n: int = 8):
    """Fused tokenize→shingle→64-bit-hash kernel (one Arrow stage):
    text → array of blake2b-64 hashes of its word ``shingle_n``-grams
    (< ``shingle_n`` words → empty array, so a plain ``explode`` drops
    the doc, matching a ``size >= n`` filter).

    Why a kernel and not ``transform(sequence, i -> xxhash64(concat_ws(
    slice(...))))``: Spark HOF lambdas are CodegenFallback — every
    shingle evaluates slice+concat+hash interpreted with boxed loop
    variables. Measured at sf1 (50k docs, 1.85M shingles): the HOF
    shingling alone costs 2.8 s BEFORE any exchange; this kernel does
    the identical work in C-speed blake2b under 0.3 s across workers.
    Deterministic (keyless blake2b), 64-bit so the birthday bound at
    corpus scale matches the xxhash64 argument in q_llm_substring_dedup.
    """
    from hashlib import blake2b

    @F.pandas_udf("array<bigint>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        u = 1 << 64
        h = 1 << 63
        for t in texts:
            words = (t or "").split(" ")
            m = len(words) - shingle_n + 1
            if m <= 0:
                out.append(np.array([], dtype=np.int64))
                continue
            out.append(
                np.fromiter(
                    (
                        (v - u) if (v := int.from_bytes(
                            blake2b(
                                " ".join(words[i : i + shingle_n]).encode(),
                                digest_size=8,
                            ).digest(),
                            "little",
                        )) >= h
                        else v
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
            )
        return pd.Series(out)

    return _sh


def text_to_simhash_udf():
    """Fused tokenize→hash→bit-vote SimHash kernel (one Arrow stage).

    Majority vote per bit over 64-bit token hashes (blake2b, deterministic).
    Same rationale as :func:`text_to_minhash_udf`: Spark HOFs are
    interpreted (a 64-pass bit fold costs ~ms per row interpreted vs ~µs
    vectorized), and fusing avoids extra Python stages.
    """
    from hashlib import blake2b

    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts

    @F.pandas_udf("bigint")
    def _sim(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            words = (t or "").lower().split()
            if not words:
                continue
            h = np.fromiter(
                (
                    int.from_bytes(blake2b(w.encode(), digest_size=8).digest(), "little")
                    for w in words
                ),
                dtype=np.uint64,
                count=len(words),
            )
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            v = int(weights[bits * 2 > h.size].sum(dtype=np.uint64))
            out[i] = v - (1 << 64) if v >= (1 << 63) else v
        return pd.Series(out)

    return _sim


def with_simhash64(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """Attach a 64-bit SimHash of the text. Spreads to all cores first
    when the input is knowably small (size-guarded, r15 — see
    sizing.spread_for_kernel): the kernel is CPU-bound and lake files may
    be unsplittable single row groups; at lake scale the spread shuffle
    is skipped."""
    return spread_for_kernel(df).withColumn(
        out_col, text_to_simhash_udf()(F.col(text_col))
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    prefix_bits: int = 16,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-dup candidates: equal SimHash prefix buckets (4 rotations so any
    pair within Hamming distance ~3 shares at least one bucket w.h.p.).

    Buckets larger than ``max_bucket`` are dropped, same as
    :func:`minhash_lsh_candidates`: boilerplate-heavy corpora collapse into
    one prefix bucket, and its uncapped pair list is a quadratic
    explosion on one executor.

    FINGERPRINT-COLLAPSE prepass (r11 — found by the near-plant oracle
    gate at sf10): on a small-vocabulary corpus DISTINCT texts collide
    onto few fingerprints, so prefix buckets blow past the cap even
    after any text-level dedup and Hamming-0 pairs get dropped with the
    bucket. Identical fingerprints ARE the strongest answer this
    operator can give (Hamming exactly 0), so they are emitted as
    linear (min-id rep → member) star edges instead of in-bucket
    cliques, and the prefix buckets see ONE entry per distinct
    fingerprint — bucket size is bounded by fingerprint diversity, not
    corpus size.

    OUTPUT CONTRACT under the collapse (r11 advisor): only the min-id
    representative of each fingerprint group enters the prefix buckets,
    so a Hamming 1–6 pair between a NON-representative member and a doc
    in another group is NOT emitted directly — it derives transitively
    through the member's Hamming-0 star edge to its rep (member ≡ rep at
    distance 0, so every rep-level pair applies to every member at the
    identical distance). Pairwise consumers that need member-level edges
    must expand rep-level pairs through the star edges; set-level
    consumers (dedup keep/drop, clustering) get the same connected
    components either way — ``dedup_cluster`` already unions both edge
    kinds before label propagation."""
    # (id, simhash) feeds the fingerprint collapse and the prefix buckets
    # — persist the 16-byte-per-doc table instead of re-running the
    # CPU-heavy kernel
    sh = persist_tracked(
        with_simhash64(df, text_col).select(F.col(id_col).alias("id"), "simhash")
    )
    fp_rep = sh.groupBy("simhash").agg(F.min("id").alias("__rep"))
    fp_star = (
        sh.join(fp_rep, "simhash")
        .filter(F.col("id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    sh = sh.join(
        fp_rep.select(F.col("__rep").alias("id")), "id", "left_semi"
    )
    rotations = [0, 16, 32, 48]
    bucketed = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rot"),
                        F.shiftrightunsigned(
                            # rotate left by r then take the top prefix_bits
                            F.shiftleft("simhash", r).bitwiseOR(
                                F.shiftrightunsigned("simhash", 64 - r) if r else F.lit(0).cast("long")
                            ),
                            64 - prefix_bits,
                        ).alias("bucket"),
                    )
                    for r in rotations
                ]
            )
        ).alias("rb"),
    ).select("id", "simhash", F.col("rb.rot").alias("rot"), F.col("rb.bucket").alias("bucket"))
    pairs = bucket_pairs(
        _capped(bucketed, ["rot", "bucket"], max_bucket),
        ["rot", "bucket"],
        F.struct("id", "simhash"),
    )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        hamming.cast("int").alias("hamming"),
    ).unionByName(fp_star)


# ---------------------------------------------------------------------------
# Incremental corpus dedup: persisted MinHash fingerprint store (r12)
#
# The production form of near-dedup a daily-ingest pipeline needs: dedup a
# new shard against the accumulated corpus WITHOUT rescanning it. The
# corpus's text never moves again — what persists is a fingerprint store,
# O(reps) and text-free, committed through operators/epoch_store.py:
#
#   sigs/   (rep_id, text_sha, sig array<bigint>)     content-addressed probe
#                                                      + est_jaccard lookup
#   bands/  (band, bucket, rep_id) PARTITIONED BY bp   the LSH index the
#           = pmod(bucket, 64), bucket-sorted files     shard joins against
#   _MANIFEST.json                                      epochs, tags, schemas
#                                                       + the hash spec
#
# Incremental cost is O(shard + matched buckets): the shard pays its own
# signature kernel, the store contributes only (a) a text_sha probe of the
# compact sigs table and (b) the band entries in buckets the shard actually
# touches (the (bp, band, bucket) join key lets dynamic partition pruning
# skip store partitions entirely for small shards, and the bucket-sorted
# files give parquet row-group skipping inside each partition). History
# docs' texts are never read, and the signature kernel never re-runs on
# them.
#
# This is the batch-corpus twin of the reference's streaming high-water
# dedup (src/producer/producer_company_news.py:128-141: only items past the
# persisted high-water mark are reprocessed); equivalence with the
# from-scratch recompute is the registered oracle of
# q_llm_dedup_incremental (queries/llm.py).
#
# DELETES (r12 verdict #8, implemented r13). sigs/bands hold only
# representatives, so deleting a plain member doc needs no store mutation
# (pair-log rows naming it belong to the caller's retention policy).
# Tombstoning a REP retracts its CONTENT: probes treat that text as
# unseen, so a shard copy becomes a new rep — the from-scratch recompute
# on the corpus minus the whole content group (takedown semantics).
# ---------------------------------------------------------------------------

_STORE_BUCKET_PARTS = 64


def _rep_signatures(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """Collapse to per-text representatives (min id — the exact-collapse
    rule every corpus dedup query uses) and compute their MinHash
    signatures + band buckets: (rep_id, text_sha, sig, buckets)."""
    rep = (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(text_col)
        .agg(F.min(id_col).alias("rep_id"))
        .withColumn("text_sha", F.sha2(F.col(text_col), 256))
    )
    return _minhash_signatures(
        rep, "rep_id", text_col, num_hashes, shingle_n, bands, "text_sha"
    )


def _exploded_bands(sigs: DataFrame, bucket_parts: int) -> DataFrame:
    """(rep_id, band, bucket, bp) — the band table rows for a signature
    frame. bp is the store's directory-partition key; it MUST come from
    the store's recorded spec, never the module constant (r12 review: a
    future constant change would otherwise write appended epochs with a
    different modulus than the probe computes, silently unmatched)."""
    return sigs.select(
        "rep_id", F.posexplode("buckets").alias("band", "bucket")
    ).withColumn("bp", F.pmod(F.col("bucket"), F.lit(bucket_parts)).cast("int"))


def _write_bands(
    bands_df: DataFrame, path: str, epoch: int, bucket_parts: int
) -> None:
    """Write band rows into one epoch of the bp-partitioned layout,
    bucket-sorted within files so parquet row-group min/max stats prune
    inside a partition."""
    (
        bands_df.repartition(bucket_parts, "bp")
        .sortWithinPartitions("bp", "band", "bucket")
        .write.mode("overwrite")
        .partitionBy("bp")
        .parquet(epoch_store.epoch_dir(path, "bands", epoch))
    )


# NULL text is NON-CONTENT: both the from-scratch collapse
# (queries/llm.py _exact_collapse, which since r13 filters
# text.isNotNull() explicitly — the r12 advisor found its groupBy kept
# one NULL-text doc as a REP, diverging from this path on corpora mixing
# NULL and empty texts) and the store path exclude them EXPLICITLY at
# build and probe, so the two sides share one stated semantics.


def build_minhash_store(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Build the persisted fingerprint store from the current corpus as
    epoch 0.

    One signature pass over the corpus reps, then the corpus text is
    never needed again: subsequent shards dedup against ``path`` via
    :func:`incremental_dedup_against_store` and fold in via
    :func:`append_minhash_store`."""
    spark = docs.sparkSession
    sigs = _rep_signatures(docs, text_col, id_col, num_hashes, bands, shingle_n)
    sigs_dir = epoch_store.epoch_dir(path, "sigs", 0)
    sigs.write.mode("overwrite").parquet(sigs_dir)
    # re-read rather than recompute: the Arrow kernel is the expensive
    # step, and reading back also guarantees sigs/ and bands/ agree
    sigs_r = spark.read.schema(sigs.schema).parquet(sigs_dir)
    band_rows = _exploded_bands(sigs_r, _STORE_BUCKET_PARTS)
    _write_bands(band_rows, path, 0, _STORE_BUCKET_PARTS)
    epoch_store.create(
        path,
        "rep_id",
        {"sigs": sigs.schema, "bands": band_rows.schema},
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        bucket_parts=_STORE_BUCKET_PARTS,
    )


def append_minhash_store(
    new_sigs: DataFrame, path: str, tag: str | None = None
) -> bool:
    """Fold a shard's NEW representatives (the ``new_sigs`` frame an
    incremental run returns) into the store as the next epoch. With
    ``tag`` set (e.g. "<checkpoint>:<batch_id>" from a streaming caller),
    a tag already committed is a no-op returning False. Returns True
    when the epoch committed."""

    def write(meta: dict, epoch: int) -> None:
        sigs = persist_tracked(new_sigs)
        sigs.write.mode("overwrite").parquet(epoch_store.epoch_dir(path, "sigs", epoch))
        parts = meta["bucket_parts"]
        _write_bands(_exploded_bands(sigs, parts), path, epoch, parts)

    return epoch_store.append(path, write, tag) is not None


def tombstone_minhash_store(
    rep_ids: DataFrame, path: str, id_col: str = "rep_id", tag: str | None = None
) -> bool:
    """Retract content from the store: a tombstone epoch naming the
    representative ids in ``rep_ids[id_col]`` (see the DELETES note
    above). From the commit on, probes of identical text get no sha hit
    and no band match; :func:`compact_minhash_store` erases the rows.
    A tagged replay is a no-op returning False."""
    return epoch_store.tombstone(rep_ids, path, id_col, tag)


def compact_minhash_store(spark: SparkSession, path: str) -> bool:
    """Fold every committed epoch into ONE new base epoch (r12 verdict
    #2). A daily-append store is at 365 epochs within a year, and every
    probe unions all of them — per-epoch parquet files multiply under
    each ``bp=`` partition until listing + tiny-file reads dominate the
    probe (the small-files regression the engine measured and fixed for
    the lake derivatives, BASELINE r11). No signature is recomputed: a
    pure storage fold, so probe results are bit-identical pre/post
    (pinned by test). Returns False when there was nothing to fold."""

    def rewrite(meta: dict, epoch: int) -> None:
        n_cores = spark.sparkContext.defaultParallelism
        sigs = epoch_store.read(spark, path, meta, "sigs")
        sigs.repartition(n_cores, "rep_id").write.mode("overwrite").parquet(
            epoch_store.epoch_dir(path, "sigs", epoch)
        )
        bands = epoch_store.read(spark, path, meta, "bands")
        _write_bands(bands, path, epoch, meta["bucket_parts"])

    return epoch_store.compact(path, rewrite)


def incremental_dedup_against_store(
    spark: SparkSession,
    path: str,
    shard: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float | None = None,
    max_bucket: int = 50,
    return_new_sigs: bool = False,
):
    """Dedup a new shard against the persisted fingerprint store.

    Returns (id_a, id_b, est_jaccard, kind) with kind ∈ ('exact','lsh'):
    every pair a from-scratch run on (store corpus ∪ shard) would emit
    that TOUCHES the shard — exact copies as linear star edges (store
    rep → shard doc, shard rep → later shard copy), near-dup candidates
    through the identical banded-LSH + joint-bucket-cap machinery. With
    ``return_new_sigs=True`` also returns the shard's new-representative
    signature frame, ready for :func:`append_minhash_store`.

    EQUIVALENCE CONTRACT (the q_llm_dedup_incremental oracle): output ==
    from-scratch pairs restricted to shard-touching, exactly, PROVIDED
    every store id < every shard id (arrival order aligned with id order
    — true for any monotone ingest key). The bucket cap is applied on the
    JOINT bucket size (stored entries + shard additions), so cap
    decisions match the from-scratch run bucket for bucket; est_jaccard
    comes from the same full signatures.

    Scale shape: O(shard) signature work; store access = one probe join
    of the compact sigs table (text_sha) + band entries of TOUCHED
    buckets only (partition-pruned via bp, row-group-pruned via the
    bucket sort). No step scans corpus text."""
    from fineventstream_spark.operators.sizing import maybe_broadcast

    spec = epoch_store.load(path)
    num_hashes = spec["num_hashes"]

    sigs = epoch_store.read(spark, path, spec, "sigs")

    # 1. exact copies of stored content: ONE content-addressed probe of
    # the compact sigs table (left join, persisted — the hit rows are the
    # star edges, the miss rows feed everything downstream; the store-side
    # twin of _exact_collapse)
    store_sha = sigs.select("rep_id", "text_sha")
    probe = persist_tracked(
        shard.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .withColumn("text_sha", F.sha2("t", 256))
        .join(store_sha, "text_sha", "left")
    )
    sha_star = probe.filter(F.col("rep_id").isNotNull()).select(
        F.col("rep_id").alias("id_a"),
        F.col("id").alias("id_b"),
        F.lit(1.0).alias("est_jaccard"),
        F.lit("exact").alias("kind"),
    )
    miss = probe.filter(F.col("rep_id").isNull()).select("id", "t", "text_sha")

    # 2. shard-internal exact collapse (min id per content, as
    # from-scratch — keyed on the sha so the shuffle carries 32-byte
    # digests, not document text)
    s_rep = miss.groupBy("text_sha").agg(F.min("id").alias("s_rep"))
    miss2 = miss.join(s_rep, "text_sha")
    internal_star = miss2.filter(F.col("id") != F.col("s_rep")).select(
        F.col("s_rep").alias("id_a"),
        F.col("id").alias("id_b"),
        F.lit(1.0).alias("est_jaccard"),
        F.lit("exact").alias("kind"),
    )
    new_reps = miss2.filter(F.col("id") == F.col("s_rep")).select(
        "id", "t", "text_sha"
    )

    # 3. signature kernel over the shard's NEW representatives only
    nsig = persist_tracked(
        _minhash_signatures(
            new_reps, "id", "t", num_hashes, spec["shingle_n"], spec["bands"], "text_sha"
        )
    )
    shard_bands = persist_tracked(
        nsig.select("id", F.posexplode("buckets").alias("band", "bucket"))
        .withColumn(
            "bp",
            F.pmod(F.col("bucket"), F.lit(spec["bucket_parts"])).cast("int"),
        )
    )

    # 4. store band entries in TOUCHED buckets only. The touched-bucket
    # list is shard-sized: size-guarded broadcast keeps the store's band
    # table from EVER crossing the wire (it streams map-side, partition-
    # pruned via bp and row-group-pruned via the bucket sort); a corpus-
    # scale shard falls back un-hinted and AQE picks from runtime stats.
    store_bands = epoch_store.read(spark, path, spec, "bands")
    touched = shard_bands.select("bp", "band", "bucket").distinct()
    matched = persist_tracked(
        store_bands.join(maybe_broadcast(touched), ["bp", "band", "bucket"])
    )

    # 5. joint-size cap: stored entries + shard additions, same rule the
    # from-scratch run applies to the full bucket. One union + one
    # partial-aggregated count replaces the earlier two-groupBy + left
    # join (r14, guide §2.4): every matched bucket is by construction
    # also a shard bucket (matched ⊆ touched), so counting rows of the
    # union over (band, bucket) IS stored + shard occupancy — no group
    # appears on one side only.
    # The n ≥ 2 half of the filter matches from-scratch's bsz > 1 and is
    # ALSO the cost bound: singleton buckets (the vast majority on a
    # mostly-unique corpus) never reach the sig-carrying pair machinery.
    # keep feeds three semi-joins (store-side cross, shard-side cross, and
    # the shard-pair bucket filter) — persist the tiny (band, bucket) list
    # (shard-bounded row count, same class as the other probe
    # intermediates)
    joint_cnt = (
        matched.select("band", "bucket")
        .unionByName(shard_bands.select("band", "bucket"))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__joint"))
    )
    keep = persist_tracked(
        joint_cnt.filter(
            (F.col("__joint") >= 2) & (F.col("__joint") <= max_bucket)
        ).select("band", "bucket")
    )

    # 6a. store × shard candidates (bounded: both sides ≤ max_bucket per
    # kept bucket); est_jaccard from the full signatures via two compact
    # lookups — O(matches), never O(store)
    cross = (
        matched.join(keep, ["band", "bucket"], "left_semi")
        .select("band", "bucket", "rep_id")
        .join(
            shard_bands.join(keep, ["band", "bucket"], "left_semi").select(
                "band", "bucket", "id"
            ),
            ["band", "bucket"],
        )
        .select("rep_id", "id")
        .dropDuplicates(["rep_id", "id"])
    )
    # est_jaccard from full signatures: the pair table is matches-sized —
    # size-guarded broadcast keeps the store's sig-array column from
    # shuffling (one column-pruned scan, streamed past the broadcast)
    cross = (
        sigs.select("rep_id", F.col("sig").alias("__sa"))
        .join(maybe_broadcast(cross), "rep_id")
        .join(nsig.select("id", F.col("sig").alias("__sb")), "id")
        .select(
            F.least("rep_id", "id").alias("id_a"),
            F.greatest("rep_id", "id").alias("id_b"),
            _agreement("__sa", "__sb", num_hashes).alias("est_jaccard"),
            F.lit("lsh").alias("kind"),
        )
    )

    # 6b. shard × shard candidates
    shard_pairs = _with_agreement(
        bucket_pairs(
            shard_bands.join(keep, ["band", "bucket"], "left_semi"), ["band", "bucket"]
        ),
        nsig,
        num_hashes,
    ).withColumn("kind", F.lit("lsh"))

    cands = cross.unionByName(shard_pairs)
    if threshold is not None:
        cands = cands.filter(F.col("est_jaccard") >= threshold)
    out = sha_star.unionByName(internal_star).unionByName(cands)
    if return_new_sigs:
        return out, nsig.select(
            F.col("id").alias("rep_id"), "text_sha", "sig", "buckets"
        )
    return out
