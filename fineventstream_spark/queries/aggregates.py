"""A-family: aggregations (SURVEY §2.4).

The reference performs no aggregation (its Lambda explicitly forwards
records untouched, processor_company_news.py:37-38); this is the planned
Athena surface (README.md:31) expressed as Spark built-ins.

Scale: Spark executes all of these as partial (map-side) + final hash
aggregation — the shuffle carries only one row per (partition, group), so
low-cardinality groupBys on 100 TB move kilobytes, not terabytes.
``approx_count_distinct`` (HLL) is the 100 TB path where exact distinct
would force a full shuffle of the key column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.registry import register


@register(
    "q_agg_groupby_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0,
                 4) AS revenue
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1",),
)
def q_agg_groupby_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation: count/sum/avg/min/max.
    Revenue is summed in exact 1e-4 integer units (see queries/_money.py)
    — a per-flag float sum reaches ~1e11 at sf1, where summation-order
    noise crosses the 4-dp rounding grid."""
    from fineventstream_spark.queries._money import rev_units, sum_money

    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        sum_money(rev_units(), 4).alias("revenue"),
    )


@register(
    "q_agg_global",
    oracle="""
    SELECT count(*) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS total_value,
           ROUND(AVG(o_totalprice), 4) AS avg_value,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    """,
    tags=("A2",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregation.

    The money total is summed in integer CENTS on both engines: a float
    SUM over millions of ~1e5-magnitude doubles carries last-ulp
    summation-order noise larger than the 4-dp rounding grid (the sf1
    scale sweep caught .4255 vs .4256), so exactness must come from
    integer arithmetic — at lake scale the production answer is a
    DECIMAL column. AVG stays float: its magnitude keeps ulp far below
    the rounding grid at any row count."""
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return t.orders.agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(cents) / 100.0, 4).alias("total_value"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_value"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A3",),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A4",),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB cardinality path.

    Value-oracled since r11 (was rows-only, the q_agg_approx_percentile
    template): the returned counts are the EXACT countDistinct (DuckDB
    twin), and the sketch certifies itself through ``approx_within_tol``
    — a hash-checked boolean TRUE iff the HLL estimate sits within 6%
    (3× the configured rsd 0.02) of its exact twin; observed 0.95% max
    at sf0.01. A sketch regression flips the boolean and FAILS the hash
    compare."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("__approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "n",
            (
                F.abs(F.col("__approx") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.06
            ).alias("approx_within_tol"),
        )
    )


def _weekly_sketch_union(events: DataFrame) -> DataFrame:
    """(week, approx_users): per-day HLL sketches of ``user_id``
    unioned into weekly estimates — the sketch half of
    q_agg_sketch_rollup."""
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )


@register(
    "q_agg_sketch_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_tol
    FROM events
    GROUP BY 1
    """,
    tags=("A4", "T4"),
)
def q_agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality rollup: per-day HLL sketches of
    active users, unioned into weekly estimates WITHOUT rescanning the
    fact. This is the incremental-distinct pattern at 100 TB — daily
    sketches are a few KB each and persist alongside the lake, so any
    coarser rollup (week/month/all-time) is a union over sketches, not
    a second pass over raw events; exact countDistinct would have to
    reshuffle every (week, user) pair. Datasketches HLL via
    hll_sketch_agg / hll_union_agg (Spark 3.5+).

    Value-oracled since r11 (was rows-only, q_agg_approx_percentile
    template): the returned weekly counts are the EXACT countDistinct
    (DuckDB twin), and the union-of-daily-sketches estimate certifies
    itself through ``approx_within_tol`` — a hash-checked boolean TRUE
    iff the merged estimate sits within 5% of its exact twin (HLL at
    default lgK=12 is ~1.6% rsd; observed 0.0% at sf0.01 — sub-capacity
    exact regime). A sketch or merge regression flips the boolean and
    FAILS the hash compare."""
    t = Tables(spark, sf_dir)
    weekly = _weekly_sketch_union(t.events)
    exact = t.events.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("ex_week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return weekly.join(exact, weekly.week == exact.ex_week).select(
        "week",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("approx_within_tol"),
    )


@register(
    "q_agg_median_mode",
    oracle="""
    SELECT g.l_returnflag,
           ROUND(median(g.l_quantity), 4) AS med_qty,
           ROUND(median(g.l_extendedprice), 4) AS med_price,
           (SELECT x.l_quantity FROM lineitem x
            WHERE x.l_returnflag = g.l_returnflag
            GROUP BY x.l_quantity
            ORDER BY COUNT(*) DESC, x.l_quantity LIMIT 1) AS mode_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem g
    GROUP BY g.l_returnflag
    """,
    tags=("A7", "F5"),
)
def q_agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ordered-set aggregates: interpolated ``median`` and
    deterministic ``mode`` per group. Spark's ``mode(col, True)`` breaks
    frequency ties by lowest value — the oracle reproduces that exact
    tie-break with an ordered correlated subquery (a bare ``mode()`` is
    tie-nondeterministic on BOTH engines, useless under hash compare).

    r15 (guide §2.2 — shuffle fewer bytes): ``median(l_extendedprice)``
    as a built-in is an ObjectHashAggregate whose PARTIAL buffer is the
    partition's whole value multiset — the "partial" aggregation reduces
    nothing on a high-cardinality double, so ~O(N) bytes crossed the
    exchange (5.4 MB at sf0.1, the #6 shuffle offender; at 100 TB the
    exchange IS the column). The high-cardinality median now rides
    ``exact_percentiles`` (3 groups → the literal three-pass refinement:
    only bucket COUNTS shuffle), while the LOW-cardinality aggregates —
    median/mode over l_quantity's ~50 distinct integers and the row
    count — ride the same pass-1 scan as ``extra_aggs``, their partial
    buffers genuinely tiny. Values are identical: exact_percentiles
    reproduces built-in ``percentile`` bit-for-bit (pinned by
    test_exact_percentiles_match_builtin) and median == percentile(0.5).

    One output-contract difference from the plain ``groupBy``:
    ``exact_percentiles`` drops a group whose ``l_extendedprice`` values
    are ALL NULL (the plain aggregate returned it with a NULL
    ``med_price``). TPC-H ``l_extendedprice`` is non-null, so the lake
    never has such a group; a null-bearing input would lose it.
    """
    from fineventstream_spark.operators.percentiles import exact_percentiles

    t = Tables(spark, sf_dir)
    out = exact_percentiles(
        t.lineitem,
        "l_returnflag",
        "l_extendedprice",
        [0.5],
        ["med_price"],
        extra_aggs={
            "med_qty": F.round(F.median("l_quantity"), 4),
            "mode_qty": F.mode("l_quantity", True),
            "n": F.count(F.lit(1)),
        },
        extra_cols=("l_quantity",),
    )
    return out.select("l_returnflag", "med_qty", "med_price", "mode_qty", "n")


@register(
    "q_agg_kll_quantile_rollup",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
           TRUE AS p50_within_tol,
           TRUE AS global_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A4", "A7"),
)
def q_agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile rollup via KLL sketches (Datasketches, Spark 4):
    per-group sketches of l_extendedprice answer p50/p95 locally AND merge
    into a global sketch WITHOUT rescanning the fact — the 100 TB
    percentile pattern. Exact percentiles need a full sort or a
    multi-pass refinement per rollup level; KLL sketches are a few KB,
    persist alongside the lake, and any coarser rollup is a merge. Rank
    error is a proven ~1.7% (k=200 default) at any scale.

    Value-oracled since r11 (was rows-only, q_agg_approx_percentile
    template): the returned medians are the EXACT ones (hash-identical
    to DuckDB ``quantile_cont``), and the sketch certifies itself
    through two hash-checked booleans — ``p50_within_tol`` (per-group
    sketch median within 2% of its exact twin) and
    ``global_within_tol`` (the MERGED sketch's median within 2% of the
    exact global median — bounding the merge's correctness). Observed
    0.19% / 0.12% at sf0.01, so the 2% gate also absorbs the KLL
    merge's partition-order nondeterminism in the estimate's last
    digits. A sketch or merge regression flips a boolean and FAILS the
    hash compare. The exact passes exist ONLY for the audit and use the
    engine's distributed histogram-refinement percentile
    (operators/percentiles.py) — Spark's built-in ``percentile`` buffers
    every (value, count) of a group in ONE aggregation buffer (measured
    at sf1: 25 s for the global median vs ~2 s refined; at 100 TB it is
    an OOM, not a slowdown)."""
    from fineventstream_spark.operators.percentiles import exact_percentiles

    t = Tables(spark, sf_dir)
    per_group = t.lineitem.groupBy("l_returnflag").agg(
        F.expr("kll_sketch_agg_double(l_extendedprice)").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    # r14: one fused three-pass refinement computes the per-group exact
    # medians AND the global exact median (global_spec) — previously two
    # full exact_percentiles runs (two extent scans, two histogram scans,
    # two refinement scans; 21 jobs → ~13 at sf0.1). Values bit-identical
    # (pinned by test_exact_percentiles_global_spec_matches_separate).
    exact_pg, exact_global = exact_percentiles(
        t.lineitem, "l_returnflag", "l_extendedprice", [0.5], ["exact_p50"],
        global_spec={"ps": [0.5], "aliases": ["gp50"], "decimals": 6},
    )
    groups = per_group.join(F.broadcast(exact_pg), "l_returnflag").select(
        "l_returnflag",
        "n",
        "exact_p50",
        (
            F.abs(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)) - F.col("exact_p50"))
            / F.col("exact_p50")
            <= 0.02
        ).alias("p50_within_tol"),
        "sk",
    )
    merged = groups.agg(F.expr("kll_merge_agg_double(sk)").alias("gsk"))
    gq = F.kll_sketch_get_quantile_double("gsk", F.lit(0.5))
    audit = (
        merged.join(F.broadcast(exact_global))
        .select(
            (F.abs(gq - F.col("gp50")) / F.col("gp50") <= 0.02).alias(
                "global_within_tol"
            ),
        )
    )
    return groups.drop("sk").join(F.broadcast(audit))


def _theta_day_pairs(events: DataFrame, day: Column) -> DataFrame:
    """(day, est_returning, est_reach): Theta estimates of |day ∩ next
    day| and |day ∪ next day| over per-day ``user_id`` sketches — the
    sketch half of q_event_theta_overlap."""
    daily = events.groupBy(day.alias("day")).agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    # daily feeds both join sides — as two plan subtrees the full fact
    # sketch-aggregation runs twice (r14): materialize the days ×
    # KB-sketch rows once
    daily = daily.localCheckpoint(eager=False)
    nxt = daily.select(F.date_sub("day", 1).alias("day"), F.col("sk").alias("sk_next"))
    return daily.join(nxt, "day").select(
        "day",
        F.expr("theta_sketch_estimate(theta_intersection(sk, sk_next))").alias(
            "est_returning"
        ),
        F.expr("theta_sketch_estimate(theta_union(sk, sk_next))").alias("est_reach"),
    )


@register(
    "q_event_theta_overlap",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    valid AS (SELECT a.day FROM days a JOIN days b ON b.day = a.day + 1),
    ret AS (
      SELECT a.day, CAST(COUNT(*) AS BIGINT) AS exact_returning
      FROM du a JOIN du b ON b.day = a.day + 1 AND b.user_id = a.user_id
      GROUP BY a.day
    ),
    reach AS (
      SELECT v.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_reach
      FROM valid v JOIN du u ON u.day = v.day OR u.day = v.day + 1
      GROUP BY v.day
    )
    SELECT v.day,
           COALESCE(r.exact_returning, 0) AS exact_returning,
           h.exact_reach,
           TRUE AS returning_within_tol,
           TRUE AS reach_within_tol
    FROM valid v
    LEFT JOIN ret r ON r.day = v.day
    JOIN reach h ON h.day = v.day
    """,
    tags=("A4", "T4"),
)
def q_event_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via Theta sketches: per-day user sketches support
    set EXPRESSIONS — returning users = |day ∩ next day|, churn-adjusted
    reach = |day ∪ next day| — straight from the stored sketches, no
    second pass over raw events. HLL can only union; Theta's
    intersection/difference is what day-over-day retention, cross-shard
    audience overlap, and dedup-across-sources need at 100 TB (sketches
    are KBs; the exact answer reshuffles every (day, user) pair).

    Value-oracled since r11 (was rows-only, q_agg_approx_percentile
    template): the returned counts are the EXACT day-pair intersection
    and union cardinalities (DuckDB twin over the distinct (day, user)
    set), and the sketches certify themselves through two hash-checked
    booleans — ``returning_within_tol`` / ``reach_within_tol``, TRUE iff
    the theta estimate sits within 5% of its exact twin (theta is EXACT
    below k=4096 retained entries — the small-sf regime, observed 0.0%
    at sf0.01 — and ~3% rsd above). A sketch or set-expression
    regression flips a boolean and FAILS the hash compare."""
    t = Tables(spark, sf_dir)
    day = F.date_trunc("day", "ts").cast("date")
    pairs = _theta_day_pairs(t.events, day)
    # the distinct (day, user) set feeds four consumers (both sides of the
    # returning join, both arms of the reach union) — without the
    # materialization the fact scan + distinct exchange ran 4× (r14)
    du = t.events.select(day.alias("day"), "user_id").distinct().localCheckpoint(
        eager=False
    )
    shifted = du.select(F.date_sub("day", 1).alias("day"), "user_id")
    exact_ret = (
        du.alias("a")
        .join(shifted.alias("b"), ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("exact_returning"))
    )
    exact_reach = (
        du.unionAll(shifted)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_reach"))
    )

    def _ok(est, exact):  # relative deviation gate; denominators ≥ 1
        return (
            F.abs(F.col(est) - F.col(exact))
            / F.greatest(F.col(exact).cast("double"), F.lit(1.0))
            <= 0.05
        )

    return (
        pairs.join(exact_ret, "day", "left")
        .join(exact_reach, "day")
        .withColumn("exact_returning", F.coalesce("exact_returning", F.lit(0)))
        .select(
            "day",
            "exact_returning",
            "exact_reach",
            _ok("est_returning", "exact_returning").alias("returning_within_tol"),
            _ok("est_reach", "exact_reach").alias("reach_within_tol"),
        )
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A5",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    t = Tables(spark, sf_dir)
    return t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("A5",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations. Money summed in integer cents
    on both engines — the grand-total cell aggregates every row, so float
    summation-order noise crosses the 4-dp grid at sf1 (see
    q_agg_global)."""
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return t.orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum(cents) / 100.0, 4).alias("total")
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
    tags=("A6",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("spend"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A7",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr + exact percentiles.

    Percentiles use the histogram-refinement formulation
    (operators/percentiles.py) — result identical to built-in
    ``percentile`` / DuckDB ``quantile_cont``, ~2× faster and spillable.
    r14: the moment statistics are FUSED into the percentile machinery's
    pass-1 extent scan (``extra_aggs``) — the separate moments pass +
    join put this query's solo pair exactly at the 2.0× line (r13
    verdict ask #3); one fact scan now carries extents, counts, and all
    three moments. At 100 TB prefer ``percentile_approx`` (mergeable
    sketch) — see q_agg_approx_percentile.
    """
    from fineventstream_spark.operators.percentiles import exact_percentiles

    t = Tables(spark, sf_dir)
    return exact_percentiles(
        t.lineitem, "l_returnflag", "l_extendedprice", [0.5, 0.9],
        aliases=["median_price", "p90_price"],
        extra_aggs={
            "sd_price": F.round(F.stddev_samp("l_extendedprice"), 4),
            "var_qty": F.round(F.var_samp("l_quantity"), 4),
            "qty_price_corr": F.round(
                F.corr("l_quantity", "l_extendedprice"), 6
            ),
        },
        extra_cols=("l_quantity",),
    ).select(
        "l_returnflag", "sd_price", "var_qty", "qty_price_corr",
        "median_price", "p90_price",
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("A8",),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined string (deterministic array agg)."""
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "q_agg_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS F,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A9",),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (explicit list avoids the extra distinct-values job)."""
    t = Tables(spark, sf_dir)
    pivoted = (
        t.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )
    return pivoted


@register(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           TRUE AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A4", "A7"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (rank-sketch, single-pass, mergeable) — the
    100 TB percentile path.

    Value-oracled since r11 (was rows-only): the returned quartiles are
    the EXACT ones (operators/percentiles.py — hash-identical to DuckDB
    ``quantile_cont``, same as q_agg_stats), and the sketch certifies
    itself through ``approx_within_tol`` — a hash-checked boolean that is
    TRUE iff every approx quartile sits within 0.5% relative of its exact
    twin. The oracle emits the literal TRUE, so a sketch regression flips
    the boolean and FAILS the hash compare — strictly stronger than the
    old rows-only `rel_err` audit, which only a human reading the row
    would catch. percentile_approx returns an actual data value (no
    interpolation, rank error ≤ n/accuracy = n/10000), so on the price
    column (smooth, 5 orders of magnitude of support, adjacent order
    stats ~1e-4 apart relatively) the deviation vs the interpolated
    exact value is orders of magnitude under the 0.5% gate."""
    from fineventstream_spark.operators.percentiles import exact_percentiles

    t = Tables(spark, sf_dir)
    # The quartile sketch is computed once as an array but surfaced as
    # scalar columns: the driver's canonicalizer hashes cell values and
    # cannot handle array cells.
    iqr = F.percentile_approx("l_extendedprice", [0.25, 0.75], 10000)
    sketch_aggs = {
        "__p50a": F.percentile_approx("l_extendedprice", 0.5, 10000),
        "__p25a": F.element_at(iqr, 1),
        "__p75a": F.element_at(iqr, 2),
        "n": F.count("l_extendedprice"),
    }
    # r14 (guide §1.2 fewest passes): the sketch rides exact_percentiles'
    # pass-1 extent scan as extra_aggs — previously a second full fact
    # scan plus a join on the group key (the exact same shape the r13
    # q_agg_stats fix removed). Sketch values identical: extra_aggs run
    # per-group over all rows, as the separate groupBy did.
    exact = exact_percentiles(
        t.lineitem, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75],
        aliases=["p25", "p50", "p75"],
        extra_aggs=sketch_aggs,
    )

    def _ok(a, e):  # relative deviation gate; exact quartiles are > 0 here
        return F.abs(F.col(a) / F.col(e) - 1.0) <= 0.005

    return exact.select(
        "l_returnflag",
        "n",
        "p25",
        "p50",
        "p75",
        (_ok("__p25a", "p25") & _ok("__p50a", "p50") & _ok("__p75a", "p75")).alias(
            "approx_within_tol"
        ),
    )


@register(
    "q_agg_salted",
    oracle="""
    SELECT l_returnflag, count(*) AS n, ROUND(SUM(l_quantity), 4) AS total
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A1",),
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately hot key (3 groups
    for the whole table) — result identical to the plain groupBy, physical
    distribution skew-proof (operators/skew.py)."""
    from fineventstream_spark.operators.skew import salted_agg_count_sum

    t = Tables(spark, sf_dir)
    return salted_agg_count_sum(t.lineitem, "l_returnflag", "l_quantity")


@register(
    "q_rollup_incremental",
    oracle="""
    SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total,
           ROUND(MIN(value), 4) AS vmin,
           ROUND(MAX(value), 4) AS vmax,
           ROUND(SUM(value) / COUNT(value), 4) AS vavg
    FROM events
    GROUP BY event_type
    """,
    tags=("A1", "A2", "T7"),
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/rollup.py): the per-key
    summary is kept as MERGEABLE PARTIALS (count/sum/min/max), so a new
    day's ingest folds in by scanning only the DELTA partition and
    shuffling rollup-sized — never fact-sized — data. Here the fixture's
    last week plays the role of "today's ingest": base rollup over
    ts < 2024-01-24, delta rollup over ts >= 2024-01-24, merged and
    finalized. The oracle is the from-scratch aggregate over the whole
    table — the merge algebra must be exact, and avg (not itself
    mergeable) is derived only at read time. At 100 TB the base rollup is
    a stored table, so maintenance cost is O(delta + key cardinality);
    both range predicates push to the parquet reader (at scale: partition
    pruning on the lake's date prefix, reference
    processor_stock_quotes.py:68-73)."""
    from fineventstream_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    t = Tables(spark, sf_dir)
    split = F.lit("2024-01-24").cast("timestamp")
    base = partial_rollup(t.events.filter(F.col("ts") < split), ["event_type"], "value")
    delta = partial_rollup(
        t.events.filter(F.col("ts") >= split), ["event_type"], "value"
    )
    return finalize_rollup(merge_rollups([base, delta], ["event_type"]), ["event_type"])


@register(
    "q_agg_count_of_counts",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per_order GROUP BY n_lines
    ORDER BY n_lines
    """,
    tags=("A1", "A2"),
)
def q_agg_count_of_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts histogram: how many orders have k lines — the
    fill-rate distribution behind batching decisions and the standard
    first look at any key's fan-out (skew diagnosis: a fat tail here is
    tomorrow's hot-key shuffle). Two aggregations, but the second runs
    on the order-sized intermediate, and the 7-row result aggregates
    map-side.

    r14: the per-order count reads the bucketed orderkey layout — the
    grouping key IS the bucket key, so the first (lineitem-sized)
    exchange disappears; the only shuffle left is the ≤7-rows-per-task
    partial-aggregated n_lines histogram."""
    from fineventstream_spark.operators.bucketed import bucketed_table

    li = bucketed_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return (
        per_order.groupBy("n_lines")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("n_lines")
    )


@register(
    "q_agg_count_min_freq",
    oracle="""
    WITH seeds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(seed)),
    sketch AS (
      SELECT seed,
             CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1 + 8 * seed, 8)) AS BIGINT) % 512 AS cell,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events e CROSS JOIN seeds
      GROUP BY seed, cell
    ),
    top_users AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 20
    )
    SELECT t.user_id, t.exact_n, MIN(s.c) AS est_n,
           ROUND((MIN(s.c) - t.exact_n) / CAST(t.exact_n AS DOUBLE), 6) AS rel_err
    FROM top_users t
    JOIN sketch s
      ON s.cell = CAST(('0x' || substr(md5(CAST(t.user_id AS VARCHAR)), 1 + 8 * s.seed, 8)) AS BIGINT) % 512
    GROUP BY t.user_id, t.exact_n
    """,
    tags=("A4",),
)
def q_agg_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimation expressed RELATIONALLY —
    and therefore exactly oracle-able, unlike the engine's HLL/KLL/Theta
    sketches: the d=4 x w=512 sketch is an ordinary aggregate, so it is
    2,048 rows REGARDLESS of input size — mergeable across
    days/partitions the same way the KLL rollup is, and buildable in one
    pass over 100 TB with a KB-sized shuffle. Estimates (min over the d
    cells, upper-bound-biased by construction) are checked in-row against
    the exact counts of the top 20 keys; ``rel_err`` >= 0 always, ~0
    while n_keys << d*w.

    The d hash functions are DISJOINT 8-hex-char slices of ONE md5 per
    key (the standard split-one-strong-hash construction) — the r7 first cut
    hashed key||seed separately per seed and measured 4x the string work
    (10.1 s at sf30; the one-md5 form cuts the dominant cost). Each
    slice parses identically in Spark (conv(substr,16,10)) and DuckDB
    (('0x'||substr)::BIGINT), making this the only sketch in the engine
    with a full value-hash oracle rather than a rows-only audit.

    Reference parity: the reference computes no sketches (its Lambda
    forwards records untouched, processor_company_news.py:37-38); this
    extends the planned aggregation surface with the standard
    frequency-sketch the reference's Athena tier would need at scale."""
    t = Tables(spark, sf_dir)
    w = 512

    def cell(key_col, seed: int):
        h = F.md5(key_col.cast("string").cast("binary"))
        return F.conv(F.substring(h, 1 + 8 * seed, 8), 16, 10).cast("bigint") % w

    # one digest per row; the 4 cells are slices of it (common
    # subexpression elimination computes it once), posexploded into
    # (seed, cell)
    cells = t.events.select(
        F.posexplode(
            F.array(*[cell(F.col("user_id"), i) for i in range(4)])
        ).alias("seed", "cell")
    )
    sketch = cells.groupBy("seed", "cell").agg(F.count(F.lit(1)).alias("c"))
    top_users = (
        t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )
    # 20-key probe side against the broadcast 2,048-row sketch: the
    # estimate join never touches the fact again. seed is a COLUMN here
    # (from the sketch side), so the probe computes the slice start in SQL.
    probe_cell = (
        F.conv(
            F.expr(
                "substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1 + 8 * seed, 8)"
            ),
            16,
            10,
        ).cast("bigint")
        % w
    )
    probed = top_users.join(F.broadcast(sketch), F.col("cell") == probe_cell)
    est = probed.groupBy("user_id", "exact_n").agg(F.min("c").alias("est_n"))
    return est.withColumn(
        "rel_err",
        F.round(
            (F.col("est_n") - F.col("exact_n")) / F.col("exact_n").cast("double"),
            6,
        ),
    )


@register(
    "q_agg_approx_topk_rollup",
    oracle="""
    SELECT event_type || ':' || CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS cell,
           CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS est_found,
           TRUE AS est_within_tol
    FROM events
    GROUP BY 1
    ORDER BY exact_n DESC, cell
    LIMIT 10
    """,
    tags=("A4",),
)
def q_agg_approx_topk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate top-k rollup (Spark 4.1 approx_top_k family):
    per-day sketches of the busiest (symbol, hour-of-day) cells
    accumulate once and COMBINE to the month without rescanning the fact
    — the persisted-sketch pattern of the HLL/KLL/Theta rollups,
    completing the sketch shelf with frequency-ranked items.

    DOMAIN CONTRACT (found empirically, r7): Spark's approx_top_k state
    EMPTIES once distinct items exceed maxItemsTracked — accumulate at
    capacity 100 over 1,500 users returned an empty estimate, and plain
    approx_top_k over 450k users at sf30 returned [] (not approximate
    answers — none at all). The family is therefore only trustworthy on
    domains BOUNDED below the capacity by construction; this query uses
    (event_type × hour), fixed-cardinality at any scale, with capacity
    4096 far above it. Unbounded domains (user ids, URLs) belong to the
    engine's Misra-Gries heavy-hitters (q_event_heavy_hitters), whose
    candidate bound degrades gracefully instead of vanishing.

    Value-oracled since r12 (was rows-only; the r11 boolean-gate
    template): the query returns the EXACT top-10 cells and
    counts (DuckDB twin — deterministic (count desc, cell) order) and
    the sketch certifies itself through two hash-checked booleans per
    row: ``est_found`` (the exact-top cell surfaced in the merged
    estimate — the estimate asks for k=100 so an exact-vs-estimate tie
    at the #10 boundary can never flip the gate) and ``est_within_tol``
    (merged estimate within 1% of exact; on a sub-capacity domain the
    family's counts are exact, so the observed error is 0). A sketch,
    merge, or capacity regression (the r7 empty-estimate failure mode)
    flips both gates on every row and fails the hash compare."""
    t = Tables(spark, sf_dir)
    cell = F.concat_ws(":", "event_type", F.hour("ts").cast("string"))
    daily = t.events.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), cell.alias("cell")
    ).groupBy("day").agg(F.expr("approx_top_k_accumulate(cell, 4096)").alias("acc"))
    est = daily.agg(
        F.expr(
            "approx_top_k_estimate(approx_top_k_combine(acc, 4096), 100)"
        ).alias("topk")
    )
    items = est.select(F.explode("topk").alias("e")).select(
        F.col("e.item").alias("cell"), F.col("e.count").alias("est_n")
    )
    exact_top = (
        t.events.groupBy(cell.alias("cell"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "cell")
        .limit(10)
    )
    return (
        exact_top.join(F.broadcast(items), "cell", "left")
        .select(
            "cell",
            "exact_n",
            F.col("est_n").isNotNull().alias("est_found"),
            (
                F.col("est_n").isNotNull()
                & (
                    F.abs(F.col("est_n") - F.col("exact_n"))
                    / F.col("exact_n").cast("double")
                    <= 0.01
                )
            ).alias("est_within_tol"),
        )
        .orderBy(F.desc("exact_n"), "cell")
    )
