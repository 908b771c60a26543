"""As-of join (SURVEY §2.3 J7) — for each left row, the most recent right
row with ``right_ts <= left_ts`` per key. The canonical quotes↔news query
the reference's lake is shaped for (both schemas carry symbol + event-time
precisely to enable it; reference producer_stock_quotes.py:98-110 vs
producer_company_news.py:152-164).

Two implementations:

- :func:`asof_join` — the **scale path**: union both sides, one shuffle on
  the key, per-partition sort, then ``last(value, ignorenulls)`` over an
  unbounded-preceding window. Cost is O((|L|+|R|) log) with exactly one
  shuffle and no row explosion, regardless of time-range skew. This is the
  one to run on 100 TB.
- a range-join + row_number formulation exists in tests as a correctness
  cross-check only; its BroadcastNestedLoopJoin physical plan explodes on
  large inputs.

Tie semantics: a right row at exactly ``left_ts`` is matched (backward
inclusive); among right rows with identical timestamps the one latest in
``(ts, tiebreak)`` order wins — pass ``right_tiebreak`` for determinism.
A NULL key matches nothing (SQL equality), as in DuckDB's ``ASOF JOIN``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    right_tiebreak: str | None = None,
    suffix: str = "_asof",
    tolerance: str | None = None,
    low_cardinality_keys: bool = False,
) -> DataFrame:
    """Backward as-of join: attach the latest right_values at-or-before each left row.

    ``low_cardinality_keys``: the fill window partitions by the join key,
    so with FEW keys (index-level series, a handful of symbols) the serial
    form funnels each key's timeline through one task — callers that know
    their key is low-cardinality pass True to enable the size-selected
    distributed struct-max fill. The default (False) keeps the plain keyed
    window: for high-cardinality keys (user-level joins) it is already
    parallel, and the distributed machinery's keys × buckets bookkeeping
    broadcast is pure overhead (measured: q_join_asof on user_id 3.1 →
    11.3 s at sf30 when forced distributed).

    Returns ``left`` with one extra column per entry in ``right_values``
    named ``{col}{suffix}`` (null when no right row precedes the left row).

    ``tolerance`` (an SQL interval string, e.g. ``"1 hour"``) bounds the
    lookback: a match older than ``left_ts - tolerance`` yields null —
    pandas ``merge_asof(tolerance=...)`` semantics. Implemented by
    carrying the matched right row's timestamp through the same window
    and masking stale values afterwards, so the plan is unchanged: still
    one shuffle, no extra join."""
    keys = [on] if isinstance(on, str) else list(on)

    left_cols = left.columns
    # Tag and align the two sides: left rows carry null right-values;
    # right rows carry null left-payloads. After the union, a window sorted
    # by (ts, side) lets last(ignorenulls) propagate right values forward.
    # Right values travel inside a struct {present, value}: the struct is
    # non-null for every right row even when the value itself is NULL, so a
    # present-but-NULL right value correctly shadows older rows instead of
    # being skipped by ignorenulls (latest-at-or-before semantics).
    rdtypes = dict(right.dtypes)
    l = left.select(
        *[F.col(c) for c in left_cols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left sorts after right on ts ties → inclusive match
        F.lit(None).cast("long").alias("__rtb"),
        *[
            F.lit(None)
            .cast(f"struct<t:{rdtypes[right_ts]},v:{rdtypes[v]}>")
            .alias(f"__rv_{v}")
            for v in right_values
        ],
    )
    rtb = F.col(right_tiebreak).cast("long") if right_tiebreak else F.lit(0).cast("long")
    # SQL equality never matches NULL, but the fill window groups NULL
    # keys together: a NULL-key right row would fill a NULL-key left row.
    r = right.filter(
        reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    ).select(
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left_cols if c not in keys],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        rtb.alias("__rtb"),
        *[
            F.struct(F.col(right_ts).alias("t"), F.col(v).alias("v")).alias(f"__rv_{v}")
            for v in right_values
        ],
    ).select(*l.columns)  # align column order for unionByName-safety

    unioned = l.unionByName(r)

    # Physical strategy is SIZE-SELECTED like the rolling family
    # (operators/rolling.py): the fill window partitions by the join key,
    # and with few keys (index-level series) the serial form funnels each
    # key's full timeline through one task. Above the threshold the fill
    # becomes a running STRUCT-MAX through with_distributed_prefix —
    # max over right rows of (ts, tiebreak, value) at-or-before each
    # position IS the as-of match (struct comparison is lexicographic, so
    # it follows the window's (ts, side, rtb) order; right rows carry a
    # non-null struct even for NULL values, preserving the
    # present-but-NULL shadowing) — evaluated at keys × buckets
    # parallelism, bit-identical whenever (ts, tiebreak) is unique per
    # key and within the window's own tie-ambiguity class otherwise.
    from fineventstream_spark.operators.rolling import (
        SERIAL_WINDOW_MAX_INPUT_BYTES,
        with_distributed_prefix,
    )
    from fineventstream_spark.operators.sizing import scan_input_bytes

    if low_cardinality_keys:
        # unknown scan size (in-memory relations) defaults to DISTRIBUTED —
        # the scale-safe choice, same convention as the rolling family
        threshold = SERIAL_WINDOW_MAX_INPUT_BYTES
        lb, rb = scan_input_bytes(left), scan_input_bytes(right)
        serial = (
            threshold > 0
            and lb is not None
            and rb is not None
            and (lb + rb) < threshold
        )
    else:
        serial = True

    if serial:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__rtb").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matches = {v: F.last(f"__rv_{v}", ignorenulls=True).over(w) for v in right_values}
        filled = unioned.select(*unioned.columns, *[
            matches[v].alias(f"__f_{v}") for v in right_values
        ])
    else:
        for v in right_values:
            unioned = unioned.withColumn(
                f"__m_{v}",
                F.when(
                    F.col("__side") == 0,
                    F.struct(
                        F.col("__ts").alias("t"),
                        F.col("__rtb").alias("b"),
                        F.col(f"__rv_{v}").getField("v").alias("v"),
                    ),
                ),
            )
        filled = with_distributed_prefix(
            unioned,
            keys,
            ["__ts", "__side", "__rtb"],
            {f"__f_{v}": ("max", f"__m_{v}") for v in right_values},
            serial_below_bytes=0,
        )

    def _value(v: str) -> Column:
        m = F.col(f"__f_{v}")
        if tolerance is None:
            return m.getField("v").alias(f"{v}{suffix}")
        fresh = m.getField("t") >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}")
        return F.when(fresh, m.getField("v")).alias(f"{v}{suffix}")

    return filled.filter(F.col("__side") == 1).select(
        *left_cols, *[_value(v) for v in right_values]
    )
