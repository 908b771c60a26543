"""Duplicate clustering: near-dup pairs → connected components → keeper.

A dedup pipeline isn't finished at pair detection: overlapping pairs
(a,b), (b,c) must collapse into one cluster {a,b,c} with a single
canonical survivor. This is connected components, computed by iterative
min-label propagation over the pair edges:

    label(v) ← min(label(v), min(label(u) for u adjacent to v))

repeated until fixpoint, with pointer doubling each round
(``label(v) ← label(label(v))``) so label chains collapse exponentially:
convergence needs O(log diameter) iterations, not O(diameter) — the
default cap of 10 covers diameters beyond 2^9, so even adversarial
near-dup chains (transitive LSH pairs over boilerplate) resolve to one
component. Each iteration is three hash joins + a groupBy over the
(tiny) edge/label set, never the corpus; all shuffle-partitioned, no
driver-side graph. Dup clusters are near-cliques (diameter ≤ ~3), so the
loop still exits after 2-3 rounds in practice.

Lineage discipline: every iterative Spark algorithm must TRUNCATE plan
lineage per round, not just cache data — ``persist()`` keeps the full
nested logical plan, so after i iterations analysis cost is O(plan^i)
and the driver dies around iteration 8-9 (round-2 regression, observed
in this repo's own long-chain test). ``localCheckpoint(eager=True)``
materializes the iteration AND replaces its logical plan with a leaf
scan of the checkpointed blocks — analysis stays O(1) per round at any
chain length. On a shared cluster, swap for reliable ``checkpoint()``
(HDFS-backed) if executor loss must be survivable mid-computation.

Storage note: unlike the old persist()/unpersist() pairing, checkpointed
blocks have no explicit release API — they are reclaimed by Spark's
ContextCleaner once the last DataFrame reference drops (each iteration
rebinds ``labels``, so previous rounds become unreferenced immediately;
reclamation timing then follows JVM GC). Long-lived sessions invoking
this repeatedly trade a bounded, GC-paced storage tail for the O(1)
plan depth — the right trade, but worth knowing when reading executor
storage metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge sets at or under this size resolve on the DRIVER (array-based
# union-find) instead of the distributed label-prop loop. Rationale
# (r13, clearing the r12 q_llm_dedup_cluster perf grade): a dedup pair
# list is orders of magnitude smaller than the corpus it came from — at
# sf10 the query's 1,000 edges cost 2.26 s in iteration machinery (per-
# iteration join stages + eager localCheckpoint + convergence-count jobs)
# versus milliseconds of driver arithmetic. The transfer is Arrow
# (toPandas → numpy int64 arrays) and the solver is array-indexed, so
# driver footprint at the gate is ~100 MB (ids/parent/edge-index arrays
# + the result frame), NOT per-edge Python Row/dict objects (the r13
# review costed the first dict-based cut at 30-60× that). The collect
# is BOUNDED BY THE GATE, keeping the anti-pattern rule ("no driver-
# side collects on fact-sized data"); graphs past the gate take the
# unchanged distributed loop. <= 0 disables the fast path.
CC_LOCAL_MAX_EDGES = 1_000_000


def _local_components(edges_pdf, id_type: str, spark) -> DataFrame:
    """Driver union-find over a gate-bounded (src, dst) pandas frame →
    (id, component) with component = min id of the set, matching the
    distributed loop's contract exactly. Array-based throughout: ids are
    compressed to indices via a sorted-unique + searchsorted (no per-id
    dict), parent is one int64 array, and union is by MIN INDEX — ids
    are sorted ascending, so min index ≡ min id and every root is its
    set's minimum by construction."""
    import numpy as np
    import pandas as pd

    a = edges_pdf["src"].to_numpy()
    b = edges_pdf["dst"].to_numpy()
    ids = np.unique(np.concatenate([a, b]))
    ai = np.searchsorted(ids, a)
    bi = np.searchsorted(ids, b)
    parent = np.arange(len(ids), dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for x, y in zip(ai.tolist(), bi.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx
    roots = np.array([find(i) for i in range(len(ids))], dtype=np.int64)
    out = pd.DataFrame({"id": ids, "component": ids[roots]})
    return spark.createDataFrame(out, f"id {id_type}, component {id_type}")


def connected_components(pairs: DataFrame, max_iterations: int = 10) -> DataFrame:
    """Min-label propagation over undirected edges (id_a, id_b).

    Returns (id, component) for every id that appears in at least one
    pair; ``component`` is the smallest id reachable from it.

    SIZE-SELECTED (r13): edge sets at/under ``CC_LOCAL_MAX_EDGES`` resolve
    via driver union-find (see the gate note above); larger graphs run
    the distributed pointer-doubling loop below. Both routes return the
    identical (id, min-reachable-id) mapping — pinned by the route-
    equivalence test. The union-find route is unconditionally exact; the
    distributed loop is exact only when it CONVERGES within
    ``max_iterations`` doubling rounds (diameter ≲ 2^max_iterations) —
    past that horizon it RAISES rather than return non-minimal labels,
    so a result from either route always honors the contract (r13
    advisor: a warning let a sub-gate long-chain graph silently differ
    between routes when the gate is lowered/disabled)."""
    spark = pairs.sparkSession
    # pin parallelism to cores: the iterative joins would otherwise run at
    # the session's shuffle.partitions (200 default) per iteration, paying
    # scheduler overhead on a tiny edge set
    n = spark.sparkContext.defaultParallelism
    raw = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    local_max = CC_LOCAL_MAX_EDGES
    if local_max > 0:
        # ONE limit-bounded job: pull up to gate+1 RAW pairs straight to
        # the driver — union-find needs neither direction-doubling nor
        # dedup (union() is symmetric and idempotent), so the gate probe
        # IS the transfer. The r13 form ran the doubled-distinct-
        # repartition subtree (two exchanges + persist) plus a separate
        # count job before toPandas — ~0.5 s of pure preamble on a 51k-
        # edge zipf graph. Gate bound unchanged in spirit: ≤ local_max
        # pairs ≈ 16 MB of int64s on the driver.
        pdf = raw.limit(local_max + 1).toPandas()
        if len(pdf) <= local_max:
            id_type = raw.schema["src"].dataType.simpleString()
            return _local_components(pdf, id_type, spark)
        del pdf
    edges = (
        raw.unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .repartition(n, "dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .repartition(n, "id")
        # leaf-ify the starting labels too: iteration 1's plan then reads
        # a checkpointed scan, not the edge-distinct subtree twice
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # carry the pre-update component so the convergence check reads it
        # off this same frame — no extra join against the old labels
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("component").alias("__prev"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer doubling: resolve each label through the label table once
        # more (label(v) ← label(label(v))), collapsing chains exponentially
        lbl = stepped.select(
            F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
        )
        doubled = (
            stepped.join(lbl, stepped.component == F.col("__pid"), "left")
            .select(
                "id",
                "__prev",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__pcomp"), F.col("component")),
                ).alias("component"),
            )
            # materialize AND cut lineage: each iteration's plan is a
            # constant-depth tree over a leaf scan, whatever the round
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.filter(F.col("component") != F.col("__prev")).limit(1).count()
        )
        labels = doubled.select("id", "component")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # With doubling, non-convergence means diameter beyond
        # ~2^max_iterations — some components would be split (multiple
        # keepers for one true cluster), breaking the documented
        # route-equivalence contract. Fail hard rather than return
        # non-minimal labels.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the doubling horizon); "
            "labels would be non-minimal. Raise max_iterations for "
            "extremely long duplicate chains."
        )
    return labels


def dedup_keepers(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iterations: int = 10
) -> DataFrame:
    """Collapse near-dup clusters: every row keeps a ``keeper_id`` column —
    the minimum id of its duplicate cluster (its own id when unique).

    Downstream a training pipeline filters ``id == keeper_id`` to retain
    one representative per cluster.
    """
    comps = connected_components(pairs, max_iterations)
    out = df.join(comps, df[id_col] == comps.id, "left").select(
        *[df[c] for c in df.columns],
        F.coalesce(F.col("component"), df[id_col]).alias("keeper_id"),
    )
    return out
