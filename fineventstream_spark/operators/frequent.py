"""Distributed frequent-items (heavy-hitters) candidates via per-partition
Misra-Gries summaries.

The exact φ-heavy-hitters query — "every key whose frequency is ≥ φ·N" —
naively requires a full ``GROUP BY key`` whose shuffle is
*domain-cardinality*-sized: at 100 TB a high-cardinality key (URL, token,
user agent, IP) means shuffling hundreds of millions of distinct keys to
count items of which only a handful can possibly qualify (at most 1/φ keys
can hold a ≥ φ share). The classical fix is a bounded per-partition sketch:

1. **Candidate pass (this module, no shuffle at all).** Each partition
   maintains a Misra-Gries summary of capacity ``k``: exact counts per
   Arrow batch (``numpy.unique``) merged into a dict; when the dict
   exceeds ``k`` entries, the (k+1)-th largest count is subtracted from
   every entry and non-positive entries are dropped — the *mergeable
   summaries* batch formulation (Agarwal et al., PODS'12), which keeps the
   MG deficit bound: a key's stored count undercounts its true partition
   count by at most n_p/(k+1). Survivors (≤ k per partition) are the only
   rows this pass emits.

   **Guarantee.** If a key's global count is ≥ φ·N, then by averaging
   some partition has count_p ≥ φ·n_p; with k ≥ ceil(2/φ) the deficit
   bound n_p/(k+1) < φ·n_p, so the key survives that partition's summary
   with a positive count. Candidates ⊇ true heavy hitters — *no false
   negatives*, the property that lets an exact verify restore exactness.

2. **Exact verify (caller's side, candidate-sized shuffle).** Join the
   fact against the broadcast candidate set (≤ partitions × k rows, KBs)
   and count exactly; only candidate keys cross the wire. False positives
   from step 1 die on the exact ``HAVING``; the final output is exactly
   the true heavy-hitter set, independent of partitioning — which is why
   queries built on this operator are hash-checkable against a plain
   GROUP BY/HAVING oracle.

The candidate pass is Python (Arrow-batched ``mapInPandas``), but it is
embarrassingly parallel, shuffle-free, and its per-batch work is one
``numpy.unique`` + dict merge; the alternative it replaces is a
domain-sized JVM exchange. This mirrors what Spark itself does for
``DataFrame.stat.freqItems`` (a driver-collected single summary — unusable
at 100 TB; this keeps summaries distributed and verifies exactly).

Reference provenance: the reference repo ships no analytics op like this;
the operator exists for the training-data-pipeline ring (frequency/mode
analysis over event lakes, vocabulary pruning over token streams).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mg_frequent_candidates(
    df: DataFrame, key: str | Column, capacity: int = 200
) -> DataFrame:
    """Per-partition Misra-Gries survivors for ``key`` (any expression;
    projected before the pass so only one column crosses into Python).

    Returns a DataFrame with a single column named ``key``'s alias (or
    ``__mg_key``) holding the distinct union of all partitions' survivors
    — a superset of every key with global share ≥ 1/(capacity//2)
    (see module docstring for the bound). Output is candidate-only and
    small (≤ partitions × capacity rows before distinct).
    """
    col = F.col(key) if isinstance(key, str) else key
    keyed = df.select(col.alias("__mg_key")).where(F.col("__mg_key").isNotNull())
    out_type = keyed.schema["__mg_key"].dataType.simpleString()

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        counts: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals, cnts = np.unique(pdf["__mg_key"].to_numpy(), return_counts=True)
            for v, c in zip(vals.tolist(), cnts.tolist()):
                counts[v] = counts.get(v, 0) + c
            if len(counts) > capacity:
                # batched MG trim: subtract the (capacity+1)-th largest
                # count from everyone, drop the non-positive remainder
                delta = sorted(counts.values(), reverse=True)[capacity]
                counts = {v: c - delta for v, c in counts.items() if c - delta > 0}
        yield pd.DataFrame({"__mg_key": list(counts.keys())})

    return keyed.mapInPandas(mg, schema=f"__mg_key {out_type}").distinct()


# Below this scan size the plain exact GROUP BY is the right physical
# strategy even for a worst-case (row-cardinality) key domain: map-side
# partial aggregation bounds the exchange at distinct-per-partition ×
# partitions, which at these sizes is cheaper than the Arrow round-trip
# of the Misra-Gries candidate pass (sf10 measured: exact 0.33 s vs MG
# pass 1.0 s on a 2k-value domain). Above it, the MG pass's bounded
# exchange (≤ partitions × capacity rows regardless of domain) is the
# 100 TB-safe route. Same size-selection discipline as the rolling
# window family (operators/rolling.py); <= 0 forces MG.
PHI_EXACT_MAX_INPUT_BYTES = 1 << 30


def phi_heavy_hitters(
    df: DataFrame,
    key: str,
    phi: float,
    capacity: int = 200,
) -> DataFrame:
    """Exact φ-heavy-hitters of ``key``: every value whose count is
    ≥ φ·N, as (key, n_events, n_total) — SIZE-SELECTED (r12 verdict #1):

    - input knowably under the threshold → plain exact groupBy + HAVING
      (one partial-aggregated exchange; at small scans the MG pass is a
      pure Python-worker tax);
    - large or unknowable input → per-partition Misra-Gries candidates
      (bounded exchange at any key cardinality) + broadcast-candidate
      exact verify.

    Both routes return EXACTLY the true heavy-hitter set (the MG route's
    no-false-negative guarantee needs capacity ≥ ceil(2/φ); the exact
    verify kills false positives), so the dispatch can never change
    results — pinned by the route-equivalence test."""
    if capacity < int(2.0 / phi + 0.999999):
        raise ValueError(
            f"capacity {capacity} below ceil(2/phi)={int(2.0 / phi + 0.999999)}: "
            "the Misra-Gries route would lose its no-false-negative guarantee"
        )
    threshold = PHI_EXACT_MAX_INPUT_BYTES
    keyed = df.select(F.col(key)).where(F.col(key).isNotNull())
    nbytes = None
    if threshold > 0:
        from fineventstream_spark.operators.sizing import scan_input_bytes

        nbytes = scan_input_bytes(keyed)
    total = keyed.agg(F.count(F.lit(1)).alias("n_total"))
    if nbytes is not None and nbytes < threshold:
        counted = keyed.groupBy(key).agg(F.count(F.lit(1)).alias("n_events"))
    else:
        cand = mg_frequent_candidates(keyed, key, capacity=capacity).withColumnRenamed(
            "__mg_key", key
        )
        counted = (
            keyed.join(F.broadcast(cand), key)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
    return counted.crossJoin(F.broadcast(total)).where(
        F.col("n_events") >= F.col("n_total") * phi
    )
