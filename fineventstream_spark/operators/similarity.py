"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k against one query vector:
  Arrow-batched numpy dot products + ``orderBy().limit(k)``
  (TakeOrderedAndProject — per-partition heaps, no global sort). At 100 TB
  this is a single scan; the kernel is a matrix-vector product per Arrow
  batch, which is the fastest thing Python can do and beats Spark's
  interpreted higher-order-function fold by ~50×.
- :func:`ivf_assign` / :func:`ivf_topk` — IVF-style approximate path:
  partition vectors by nearest centroid once (write-time), probe only
  ``nprobe`` inverted lists at query time. Probed fraction ≈ nprobe/K of
  the corpus → 100×+ scan reduction at equal recall for clustered data.
- :func:`cosine_near_dup_pairs` — random-hyperplane LSH bucketing for
  embedding near-duplicate detection (deterministic seeded hyperplanes);
  exact cosine only within buckets, never all-pairs.

Every cosine here is an Arrow/numpy kernel: Spark's HOF fold
(``aggregate``/``zip_with``) is interpreted per element, and a dot
product unrolled into per-dimension multiply-adds exceeds codegen's
method limits at dim 64 and runs interpreted too, 3× slower than the
Arrow UDF (sf30, 600k vectors: 5.4 s vs 1.8 s warmed min-of-3).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stack(series: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in series])


def cosine_vs_query_udf(query: list[float]):
    """Arrow-batched cosine similarity against a fixed query vector."""
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0

    @F.pandas_udf("double")
    def _cos(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((m @ q) / (norms * qn))

    return _cos


def cosine_topk(df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k (ties broken by id for determinism)."""
    sim = cosine_vs_query_udf(query)(F.col(vec_col))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def nearest_centroid_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment (by cosine)."""
    c = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(c, axis=1)
    cn[cn == 0] = 1.0

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        sims = (m @ c.T) / (norms[:, None] * cn[None, :])
        return pd.Series(sims.argmax(axis=1).astype(np.int32))

    return _assign


def ivf_assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid — the IVF build step.

    At scale, persist the output partitioned by ``ivf_bucket`` so query-time
    probes prune files before any task launches.
    """
    return df.withColumn("ivf_bucket", nearest_centroid_udf(centroids)(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest inverted lists."""

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    probe = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query))[:nprobe]
    pruned = ivf_assign(df, vec_col, centroids).filter(
        F.col("ivf_bucket").isin([int(p) for p in probe])
    )
    return cosine_topk(pruned, vec_col, id_col, query, k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane — a SEEDED gaussian draw
    (fixed seed at plan-construction time; nothing samples at eval time,
    which is what "no RNG" must mean — retried tasks and re-built plans
    always see identical planes).

    r10 fix, found by the first planted-recall audit at sf10: the old
    ``sin(seed·K + j·M)`` form is quasi-periodic, so consecutive seeds
    produced near-PARALLEL planes (measured pairwise |cos| up to 0.99) —
    12 "planes" carved the space into a couple dozen effective buckets
    instead of 2^12, every clustered bucket blew past the cap, and
    embedding-LSH recall at sf10 was exactly 0."""
    rng = np.random.default_rng(seed * 1_000_003 + 17)
    return rng.standard_normal(dim).tolist()


def _band_bucket_chain_udf(
    planes: np.ndarray,
    n_bands: int,
    extra: np.ndarray,
    split_levels: int,
    split_bits: int,
):
    """Per-band FULL-DEPTH bucket keys: the band's base sign bits followed
    by ``split_levels`` blocks of ``split_bits`` extra sign bits (per-band
    independent planes). The depth-d key is a fixed-length PREFIX, so the
    hierarchical cap split downstream is a JVM ``substring`` — one Arrow
    pass computes every band and every level."""
    per_band = planes.shape[0] // n_bands
    per_chain = split_levels * split_bits
    # fixed-width band prefix: the depth-d key downstream is a substring
    # of one fixed length, so EVERY band's prefix must be equally wide
    # (r12 review: an unpadded "10:" vs "3:" misaligns the split bits
    # for n_bands >= 11)
    bw = len(str(n_bands - 1))

    @F.pandas_udf("array<string>")
    def _keys(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        signs = (m @ planes.T) > 0
        xsigns = (m @ extra.T) > 0  # (n, n_bands * per_chain)
        out = []
        for row, xrow in zip(signs, xsigns):
            bits = "".join("1" if b else "0" for b in row)
            xbits = "".join("1" if b else "0" for b in xrow)
            out.append(
                [
                    f"{band:0{bw}d}:"
                    + bits[band * per_band : (band + 1) * per_band]
                    + xbits[band * per_chain : (band + 1) * per_chain]
                    for band in range(n_bands)
                ]
            )
        return pd.Series(out)

    return _keys


def _pair_cosine_udf():
    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _stack(a), _stack(b)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        return pd.Series((ma * mb).sum(axis=1) / (na * nb))

    return _cos


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 54,
    n_bands: int = 3,
    threshold: float = 0.9,
    max_bucket: int = 100,
    split_levels: int = 3,
    split_bits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs via BANDED random-hyperplane LSH
    with HIERARCHICAL over-cap bucket splitting.

    ``n_planes`` hyperplanes split into ``n_bands`` bands of
    ``n_planes/n_bands`` planes each; a pair is a candidate when it shares
    a bucket (a band's sign pattern) in ANY band, and exact cosine is
    computed only within buckets, each bounded by ``max_bucket``.

    Why bands + 18 planes/band (r10 — the first planted-recall audit at
    sf10 measured recall 0.0 with the r9 single-band 12-plane shape): the
    fixture's embeddings are label-clustered gaussians whose within-
    cluster noise is the same scale as the center norms, so only ~half
    the planes split a given cluster — 12 planes ≈ 2^6 effective
    sub-buckets, leaving 300+ vectors per bucket at sf10, ALL past the
    cap, and every candidate pair (planted identical clones included) was
    silently dropped. 18 planes/band ≈ 2^9 splits keeps clustered buckets
    under the cap at sf10.
    P(candidate at cosine θ) = 1-(1-(1-θ/π)^planes_per_band)^n_bands.
    Measured at sf10 (BASELINE r10): recall 0.0 → 1.0, pairs bounded.

    Why hierarchical splitting (r12 — the sf30 recall-gate sweep caught
    the NEXT decade's collapse, exactly as r11's sf10 sweep caught
    SimHash's): at sf30 each label cluster holds ~60k vectors, ~117 per
    2^9 sub-bucket — past the cap in ALL bands, planted recall fell to
    FALSE. Fixed plane counts can never be scale-robust; instead, a
    bucket over the cap is SPLIT with ``split_bits`` additional per-band
    hyperplanes, up to ``split_levels`` times (the depth-d key is a
    prefix of one precomputed bit string, so splitting is a JVM
    substring + window count over the shrinking over-cap subset; only a
    bucket still over cap at max depth is dropped). Same-direction pairs
    (exact duplicates, scaled clones) have IDENTICAL sign bits at every
    depth, so splitting never separates them — recall for the dedup
    target class is structural; what splitting sacrifices is far-apart
    pairs inside giant clusters, the pairs the cap was already dropping
    wholesale. Capacity bound: max_bucket × 2^(levels × bits) per
    band-bucket (100 × 2^24 here) before anything is dropped.

    Precondition (r15, advisor note): ``df[id_col]`` must be UNIQUE.
    Since the r14 §8 split the vectors re-attach by joining the deduped
    pair list back to ``df`` on id — a duplicated id would re-multiply
    pairs there (the pre-r14 shape deduped last and so tolerated it).
    Every caller passes a primary key (doc_id); a defensive final
    ``dropDuplicates`` would add an exchange to pay for a contract
    violation, so the precondition is documented instead.
    """
    if n_planes % n_bands:
        raise ValueError(f"n_planes ({n_planes}) must divide into {n_bands} bands")
    planes = np.asarray([_hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64)
    extra = np.asarray(
        [
            _hyperplane(dim, n_planes + j)
            for j in range(n_bands * split_levels * split_bits)
        ],
        dtype=np.float64,
    )
    from fineventstream_spark.operators.dedup import bucket_pairs, persist_tracked

    chain = _band_bucket_chain_udf(planes, n_bands, extra, split_levels, split_bits)
    # §8 split (r14, guide §2.3/§8 — shuffle keys and metadata, not
    # payloads): every bucketing/cap decision below depends only on
    # (id, chain) — ~45 bytes/row — never on the vector, so the vec
    # column (512 B at dim=64, arbitrarily wide in general) stays OUT of
    # the level windows and the bucket lists entirely; it is attached
    # exactly once, to the candidate pairs, at the end.
    # persisted: the chain kernel (126 plane dot products per vector)
    # feeds split_levels+1 union branches — unpersisted, AQE re-executes
    # it per branch
    keyed = persist_tracked(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(chain(F.col(vec_col))).alias("chain"),
        )
    )

    # Window-count cap, not groupBy + join-back: the multi-occupancy bucket
    # list grows with the corpus (a forced broadcast is a driver OOM at
    # 100 TB, an AQE-decided join an extra stage barrier); the window needs
    # only a bucket exchange. The band id is baked into the bucket key, so
    # caps bind per (band, bucket).
    from pyspark.sql import Window

    base_len = len(str(n_bands - 1)) + 1 + n_planes // n_bands
    finals = []
    remaining = keyed
    for d in range(split_levels + 1):
        cur = remaining.withColumn(
            "bucket", F.substring("chain", 1, base_len + d * split_bits)
        )
        bucket_w = Window.partitionBy("bucket")
        cur = cur.withColumn("bsz", F.count(F.lit(1)).over(bucket_w))
        finals.append(
            cur.filter((F.col("bsz") > 1) & (F.col("bsz") <= max_bucket)).select(
                "bucket", "id"
            )
        )
        if d < split_levels:
            remaining = cur.filter(F.col("bsz") > max_bucket).select("id", "chain")
        # else: still-over-cap buckets at max depth are dropped (degenerate
        # piles of identical-direction vectors, e.g. all-zero embeddings)

    capped = finals[0]
    for f_ in finals[1:]:
        capped = capped.unionByName(f_)
    # candidate pairs deduped across buckets BEFORE the vectors attach:
    # cosine is a pure function of the pair, so deduping first computes
    # it once per pair — and the bounded pair list is what the
    # corpus-scale vec column joins against
    cand = persist_tracked(
        bucket_pairs(capped, ["bucket"]).select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b")
        )
    )
    # two more column-pruned (id, vec) scans in place of carrying vec
    # through every level window and the bucket lists: the pair list is
    # bucket-cap-bounded, so AQE broadcasts it (and then the pairs+vec_a
    # intermediate) and the corpus streams map-side both times — the
    # vectors never shuffle at all
    sim = _pair_cosine_udf()(F.col("vec_a"), F.col("vec_b"))
    return (
        cand.join(
            df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")),
            "id_a",
        )
        .join(
            df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")),
            "id_b",
        )
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
