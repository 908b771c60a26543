"""W-family: window functions (SURVEY §2.5).

Planned Athena surface (README.md:31); W2's lag() recomputes in-engine the
``change``/``percent_change`` fields the reference carries as raw API
values (producer_stock_quotes.py:104-105).

Scale: every window here partitions by a real key (user_id / event_type /
suppkey) — one shuffle on the key, then a per-partition sort. No global
windows (a Window.orderBy without partitionBy collapses to one task; the
sort queries that need one cap their input first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.operators.bucketed import bucketed_table
from fineventstream_spark.queries._money import CENTS_SQL, cents
from fineventstream_spark.registry import register


@register(
    "q_win_rank",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    tags=("W1",),
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over a keyed, totally-ordered window.

    r15: events rides the user_id-bucketed layout (verdict #4 A/B,
    BASELINE.md "Events layout A/B at sf10") — the window's required
    ClusteredDistribution(user_id) is satisfied by the bucket
    distribution, so the per-row fact exchange disappears at every
    scale; the in-partition (ts, event_id) sort remains."""
    ev = bucketed_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           ROUND(value - COALESCE(lag(value) OVER w, value), 4) AS change
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    tags=("W2",),
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: recompute the reference's change-vs-previous-quote in-engine.

    r15: user_id-bucketed layout — window exchange gone (see q_win_rank)."""
    ev = bucketed_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(prev, F.col("value")), 4).alias("change"),
    )


@register(
    "q_win_frame_rows",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(vc) OVER w4 / 100.0, 4) AS moving_sum,
           ROUND(SUM(vc) OVER w4 / (100.0 * COUNT(*) OVER w4), 4) AS moving_avg,
           ROUND(SUM(vc) OVER wrun / 100.0, 4) AS running_sum
    FROM (SELECT event_id, user_id, ts,
                 CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events)
    WINDOW w4 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
           wrun AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("W3",),
)
def q_win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: sliding 4-row sum/avg + running sum.

    r10 (straggler mitigation, the r9 verdict's E4: a plain PARTITION BY
    user_id frame paid a 2.43× tax on the 18%-hot-user zipf fixture —
    the hot partition is one unsplittable window task): the query routes
    through the HOT/COLD SPLIT window
    (operators/rolling.py::skew_split_sum_frames). user_id cardinality
    far exceeds cores, so the plain window already parallelizes — the
    straggler is only ever the hot key(s), and only their rows pay the
    bucketed-split machinery; uniform inputs keep the exact r9 plan with
    zero overhead. (The first r10 cut ran a chunked trailing frame +
    with_distributed_prefix over EVERYTHING above a total-bytes
    threshold: measured 13.8 s on uniform sf10 where the plain window is
    1.35 s — the machinery must never be paid by the cold keys.)

    Both branches are VALUE-IDENTICAL by construction: events.value is an
    exact 2-dp grid (TESTDATA), so sums run over integer cents (the r9
    integer-units rule — a per-user running float sum is unbounded under
    user skew and its summation ORDER differs between the serial and
    split forms; integer sums are order-independent), and the moving
    average is the exact integer sum over the exact count — the division
    and 4-dp round are deterministic IEEE ops both engines do identically
    (the true quotient is never on a half boundary: it is
    n(2j+1)/200-distant from one by >= 1.25e-5, far past double ulp)."""
    from fineventstream_spark.operators.rolling import skew_split_sum_frames
    from fineventstream_spark.queries._money import cents

    # r15: base reads the user_id-bucketed layout — on uniform inputs the
    # cold branch is the plain window, whose exchange the bucket
    # distribution now removes; the hot/cold split machinery is
    # source-agnostic and keeps its zipf behavior.
    ev = bucketed_table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "ts", cents("value").alias("__vc"))
    out = skew_split_sum_frames(
        base,
        ["user_id"],
        ["ts", "event_id"],
        4,
        "__vc",
        out_cols=("__ms", "__mn", "__rs"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("__ms") / 100.0, 4).alias("moving_sum"),
        F.round(F.col("__ms") / (100.0 * F.col("__mn")), 4).alias("moving_avg"),
        F.round(F.col("__rs") / 100.0, 4).alias("running_sum"),
    )


@register(
    "q_win_frame_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                               RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_nearby,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW), 4) AS sum_nearby
    FROM events
    """,
    tags=("W3",),
)
def q_win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on a numeric ordering column (tie-insensitive by construction).

    r15: user_id-bucketed layout — window exchange gone (see q_win_rank)."""
    ev = bucketed_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id")).rangeBetween(-100, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_nearby"),
        F.round(F.sum("value").over(w), 4).alias("sum_nearby"),
    )


@register(
    "q_win_topk_per_group",
    oracle="""
    SELECT event_type, event_id, value
    FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        FROM events
    )
    WHERE rn <= 5
    """,
    tags=("W4",),
)
def q_win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number filter (Spark optimizes to a per-group heap with rank limit pushdown)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "value")
    )


@register(
    "q_win_pct_rank",
    oracle="""
    SELECT event_id, user_id,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
    """,
    tags=("W1",),
)
def q_win_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions (percent_rank / cume_dist) over
    a keyed, totally-ordered window — per-user value percentiles without
    any global sort; each user's partition ranks independently across
    reducers.

    Deliberately NOT pre-rounded (r9, found by the zipf skew
    differential): (rank-1)/(n-1) is the identical IEEE double on both
    engines, but when it lands exactly on a 6-dp half boundary (possible
    whenever a partition size makes the ratio terminate at 7 decimals —
    the skewed fixture's spread of partition sizes hits several), Spark's
    ROUND (shortest-decimal-string, HALF_UP) and DuckDB's (binary value)
    disagree by 1 ulp. The differential/driver normalizer rounds BOTH
    sides with one rounding function, so emitting the raw double is the
    deterministic form.

    r15: user_id-bucketed layout — window exchange gone (see q_win_rank)."""
    ev = bucketed_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_win_share_of_total",
    oracle=f"""
    WITH nat AS (
      SELECT n.n_regionkey, n.n_name,
             SUM({CENTS_SQL.format(col="o.o_totalprice")}) AS rev_units
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_regionkey, n.n_name
    )
    SELECT r.r_name, n.n_name,
           ROUND(n.rev_units / 100.0, 4) AS revenue,
           ROUND(CAST(n.rev_units AS DOUBLE)
                 / SUM(n.rev_units) OVER (PARTITION BY n.n_regionkey), 4)
             AS region_share
    FROM nat n JOIN region r ON r.r_regionkey = n.n_regionkey
    """,
    tags=("W5", "A1", "J4"),
)
def q_win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each nation's share of its
    region's revenue — the denominator is a window SUM over the
    aggregate, not a second scan. Plan: the fact collapses to a 25-row
    nation aggregate first; the share window and the region broadcast
    run on that — window cost is O(nations), the fact is touched once.

    Revenue sums in exact integer cents (r8): per-nation totals reach
    1.5e11 at sf10 and double summation-order noise crosses the 4-dp
    rounding grid (caught by the r8 full-differential sweep at sf10 —
    the same class q_agg_global hit at sf1). The share ratio divides two
    exact integers — deterministic in IEEE on both engines. Cents
    conversion via the centralized _money helpers (r8 advisor) so query
    and oracle stay visibly in lockstep with the repo-wide rule."""
    t = Tables(spark, sf_dir)
    nat = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(cents("o_totalprice")).alias("rev_units"))
    )
    w = Window.partitionBy("n_regionkey")
    return (
        nat.join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            "n_name",
            F.round(F.col("rev_units") / 100.0, 4).alias("revenue"),
            F.round(
                F.col("rev_units").cast("double") / F.sum("rev_units").over(w), 4
            ).alias("region_share"),
        )
    )


@register(
    "q_event_wow_change",
    oracle="""
    WITH weekly AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
             ROUND(SUM(value), 4) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, wk, total,
           ROUND(
             (total - LAG(total) OVER (PARTITION BY event_type ORDER BY wk))
             / LAG(total) OVER (PARTITION BY event_type ORDER BY wk), 4)
             AS wow_change
    FROM weekly
    """,
    tags=("W2", "A1", "F3"),
)
def q_event_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per symbol: the weekly rollup first (one
    fact shuffle, partial-aggregated), then lag over the tiny weekly
    series — null for each symbol's first week rather than a fake 0.
    The trend primitive behind every activity dashboard."""
    t = Tables(spark, sf_dir)
    weekly = (
        t.events.groupBy(
            "event_type", F.date_trunc("week", "ts").alias("wk")
        )
        .agg(F.round(F.sum("value"), 4).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("total").over(w)
    return weekly.select(
        "event_type",
        "wk",
        "total",
        F.round((F.col("total") - prev) / prev, 4).alias("wow_change"),
    )
