"""Incremental rollup maintenance: mergeable partial aggregates.

The reference's lake is append-only (daily-partitioned JSONL under a
date prefix — reference: src/lambda_processor/processor_stock_quotes.py:68-73),
which is exactly the shape where recomputing a per-key summary from
scratch on every ingest is the 100 TB anti-pattern: the fact table grows
without bound but each day's delta is tiny. The standard fix is to keep
the summary as MERGEABLE PARTIALS — (count, sum, min, max) per key —
so maintenance is:

    new_rollup = merge(stored_rollup, partial_rollup(today's partition))

i.e. one scan of the DELTA plus one shuffle of ROLLUP-sized (not
fact-sized) data. Derived statistics that are not themselves mergeable
(avg = sum/count) are computed only at read time by ``finalize_rollup``.

This is the same algebra Spark uses internally for partial (map-side)
aggregation, lifted to table level so it can persist across ingests;
the HLL sketch rollup (queries/aggregates.py q_agg_sketch_rollup) is
the distinct-count member of the same family.

Scale notes (100 TB):
- ``partial_rollup`` over a single day's partition prunes at the file
  level (partition filter) — history is never rescanned.
- ``merge_rollups`` shuffles |keys| rows, not |fact| rows; with daily
  grain that is O(key-cardinality), bytes not terabytes.
- All expressions are built-in (codegen); no Python in the path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_rollup(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Aggregate ``df`` down to mergeable partials per key."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("p_count"),
        F.sum(value_col).alias("p_sum"),
        F.min(value_col).alias("p_min"),
        F.max(value_col).alias("p_max"),
    )


def merge_rollups(rollups: list[DataFrame], keys: list[str]) -> DataFrame:
    """Combine rollup tables produced by :func:`partial_rollup`.

    Associative and commutative: merge(merge(a, b), c) == merge(a, b, c),
    so ingests can fold in deltas one day at a time or re-merge a month
    of dailies into a monthly — without touching the fact table.
    """
    unioned = reduce(lambda a, b: a.unionByName(b), rollups)
    return unioned.groupBy(*keys).agg(
        F.sum("p_count").alias("p_count"),
        F.sum("p_sum").alias("p_sum"),
        F.min("p_min").alias("p_min"),
        F.max("p_max").alias("p_max"),
    )


def finalize_rollup(rollup: DataFrame, keys: list[str]) -> DataFrame:
    """Resolve partials into user-facing statistics (read-time only)."""
    return rollup.select(
        *keys,
        F.col("p_count").alias("n"),
        F.round(F.col("p_sum"), 4).alias("total"),
        F.round(F.col("p_min"), 4).alias("vmin"),
        F.round(F.col("p_max"), 4).alias("vmax"),
        F.round(F.col("p_sum") / F.col("p_count"), 4).alias("vavg"),
    )
