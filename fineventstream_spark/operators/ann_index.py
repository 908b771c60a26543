"""Persisted IVF index: build once, prune at the FILE level per query.

``similarity.ivf_topk`` probes inverted lists in-memory — right shape,
wrong storage story for 100 TB: every query still *scans* the whole
corpus to recompute bucket assignments. The production pattern splits
build from query:

- **build** (once): k-means centroids over the corpus (driver holds
  k × dim floats — same footprint class as any broadcast dim), assign
  every vector to its nearest list, and write the vectors
  ``partitionBy("ivf_bucket")`` with the centroids in the manifest.
- **query** (many): load the manifest, pick the ``nprobe`` nearest lists
  on the driver, and read ONLY those hive partitions — Catalyst's
  partition pruning (`PartitionFilters: ivf_bucket IN (...)`) skips the
  other ``(1 - nprobe/k)`` of the corpus before any task launches. The
  exact cosine rerank then runs over just the probed lists.

Recall/latency trade is the standard IVF one (raise nprobe for recall);
determinism: k-means seeds from the first k vectors by id, no RNG.

**Incremental maintenance (r12)**: production appends embeddings daily;
rebuilding the index per append is the O(corpus) cost this module
exists to avoid. :func:`append_ivf_index` assigns NEW vectors to the
EXISTING centroids and appends into the partitioned list layout —
O(append) work, queries prune exactly as before. Appends drift the
list balance (the data distribution moves away from the build-time
centroids), so the manifest records per-list counts at build time and
every append updates them; :func:`needs_recluster` compares the
current max/mean list skew against the build-time skew and flags when
the drift passes a threshold — the recorded, testable signal for the
(still O(corpus), deliberately explicit) rebuild.

Storage is an epoch store (operators/epoch_store.py): one ``vectors``
table partitioned by ``ivf_bucket``, the centroids and list counts in
its manifest. Appends, tombstones and compaction commit through it, so
appended rows and their counts become visible in one manifest replace.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineventstream_spark.operators import epoch_store
from fineventstream_spark.operators.kmeans import kmeans_fit
from fineventstream_spark.operators.similarity import cosine_topk, ivf_assign

VECTORS = "vectors"


def _list_counts(assigned: DataFrame) -> dict[str, int]:
    rows = assigned.groupBy("ivf_bucket").count().collect()  # k rows, bounded
    return {str(r["ivf_bucket"]): int(r["count"]) for r in rows}


def _skew(counts: dict[str, int]) -> float:
    vals = list(counts.values())
    if not vals or sum(vals) == 0:
        return 1.0
    return max(vals) / (sum(vals) / len(vals))


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    n_lists: int = 16,
    iterations: int = 5,
) -> list[list[float]]:
    """Fit centroids, bucket the corpus, persist partitioned by list as
    epoch 0. The manifest records the build-time per-list counts — the
    baseline :func:`needs_recluster` measures append drift against."""
    centroids, _ = kmeans_fit(df, vec_col, id_col, k=n_lists, iterations=iterations)
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col, centroids)
    e0 = epoch_store.epoch_dir(path, VECTORS, 0)
    assigned.write.mode("overwrite").partitionBy("ivf_bucket").parquet(e0)
    counts = _list_counts(df.sparkSession.read.parquet(e0))
    epoch_store.create(
        path,
        id_col,
        {VECTORS: assigned.schema},
        centroids=centroids,
        list_counts=counts,
        built_counts=counts,
    )
    return centroids


def append_ivf_index(
    df: DataFrame, vec_col: str, id_col: str, path: str, tag: str | None = None
) -> dict:
    """Fold new vectors into the persisted index WITHOUT re-clustering:
    assign to the existing centroids (one narrow pass over the append —
    no shuffle, no touch of the stored lists) and commit them as the next
    epoch with the updated list counts. Returns the manifest (counts +
    skew), so callers can act on :func:`needs_recluster` immediately; a
    replay of a committed ``tag`` changes nothing and returns it as is."""

    def write(meta: dict, epoch: int) -> None:
        # persisted: the assignment kernel feeds both the counts job and
        # the write — unpersisted it would run twice (r12 review)
        assigned = ivf_assign(
            df.select(id_col, vec_col), vec_col, meta["centroids"]
        ).persist()
        new_counts = _list_counts(assigned)
        assigned.write.mode("overwrite").partitionBy("ivf_bucket").parquet(
            epoch_store.epoch_dir(path, VECTORS, epoch)
        )
        assigned.unpersist()
        counts = meta["list_counts"]
        for b, n in new_counts.items():
            counts[b] = counts.get(b, 0) + n

    return epoch_store.append(path, write, tag) or epoch_store.load(path)


def tombstone_ivf_index(
    ids: DataFrame, path: str, id_col: str | None = None, tag: str | None = None
) -> bool:
    """Retract vectors from the index (a retracted document's embedding
    must not keep surfacing as a neighbor): a tombstone epoch naming the
    ids in ``ids[id_col]`` (default: the index's id column).
    :func:`query_ivf_index` anti-joins them from the commit on, and
    :func:`compact_ivf_index` erases them. ``list_counts`` keep counting
    PHYSICAL rows until compaction (tombstoned vectors still occupy their
    lists on disk, so probe cost — what the drift signal guards — is
    unchanged until the rewrite). A tagged replay is a no-op returning
    False."""
    return epoch_store.tombstone(ids, path, id_col, tag)


def compact_ivf_index(spark: SparkSession, path: str) -> bool:
    """Fold every committed vector epoch into ONE new base epoch (r13
    verdict ask #2): a daily-append index is at 365 ``vectors/e=N``
    directories within a year, each multiplying per-list files until
    listing + tiny-file reads dominate every probe. ``list_counts`` are
    recomputed from the rewritten base (erased vectors leave their
    lists). No centroid is recomputed — assignment is centroid-determined,
    so probe results are identical pre/post minus tombstoned ids (pinned
    by test), and ``built_counts`` (the recluster-drift baseline) stay:
    compaction is storage maintenance, not reclustering. Returns False
    when there was nothing to fold."""

    def rewrite(meta: dict, epoch: int) -> None:
        # cluster by list before the write: without it every input task
        # writes a sliver into every hive partition (n_tasks × n_lists
        # files — the first evidence run measured 3.6k files after folding
        # 61 epochs); hash-repartitioned on ivf_bucket each list lands
        # wholly in one task → ONE file per list. n_cores keys keeps the
        # fold parallel up to min(n_lists, cores).
        n_cores = spark.sparkContext.defaultParallelism
        out = epoch_store.epoch_dir(path, VECTORS, epoch)
        vectors = epoch_store.read(spark, path, meta, VECTORS)
        vectors.repartition(n_cores, "ivf_bucket").write.mode("overwrite").partitionBy(
            "ivf_bucket"
        ).parquet(out)
        meta["list_counts"] = _list_counts(spark.read.parquet(out))

    return epoch_store.compact(path, rewrite)


def needs_recluster(path: str, drift_ratio: float = 1.5) -> bool:
    """True when appended data has drifted the list balance past the
    threshold: current max/mean list skew > ``drift_ratio`` × the
    build-time skew. Skew RELATIVE to build (not absolute) because a
    corpus can be legitimately imbalanced at build time — the signal is
    appends concentrating where the centroids no longer describe the
    data, which degrades the nprobe/recall trade (hot lists scan more,
    cold lists waste probes)."""
    meta = epoch_store.load(path)
    built, now = meta["built_counts"], meta["list_counts"]
    if not built or not now:
        return False
    return _skew(now) > drift_ratio * _skew(built)


def query_ivf_index(
    spark: SparkSession,
    path: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k over the persisted index, reading only the probed partitions
    of the COMMITTED epochs."""
    meta = epoch_store.load(path)
    centroids = meta["centroids"]

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    probe = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query))[
        :nprobe
    ]
    vectors = epoch_store.read(spark, path, meta, VECTORS)
    pruned = vectors.filter(F.col("ivf_bucket").isin([int(p) for p in probe]))
    return cosine_topk(pruned, vec_col, id_col, query, k)
