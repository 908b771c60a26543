"""Size-selected window operators for low-cardinality keys.

A window partitioned by key serializes each key into one task: with 5
symbols, a 1000-core cluster runs 5 tasks. That is fine when key
cardinality exceeds cores and fatal when a lake has few, huge keys
(index-level series, a handful of benchmark tickers).

The operators here split each key's timeline into ``__bkt`` buckets
derived from the first ORDER-COLUMN VALUE (equi-width between its min
and max — a deterministic expression of the row, so retried tasks and
separate plan branches agree; a ``spark_partition_id`` scheme does not
survive AQE, which may coalesce the same exchange differently per
consumer). Per-(key, bucket) partials form a keys × buckets bookkeeping
table whose exclusive per-key prefix broadcasts back as each bucket's
carry-in, so the payload sorts once at keys × buckets parallelism.
Bucket skew costs parallelism, never exactness.

Bounded trailing frames are prefix differences (``with_trailing_sums``):
frame(i) = P(i) − P(i−f) over the running sums, with the earlier prefix
fetched by an equi-join on (key, row number). That join is
co-partitioned on both columns; ``session.py``'s r7 note explains why
``requireAllClusterKeysForCoPartition`` stays at its default (true).

The distributed forms join on the key NULL-safely (``_join_on_keys``), as
PARTITION BY groups NULL keys into one partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fineventstream_spark.operators.sizing import (
    files_signature,
    hot_key_values,
    max_key_share,
    plan_hash,
    scan_input_bytes,
)


def _order_value_expr(df: DataFrame, order_col: str) -> Column | None:
    """``order_col`` as a double for range bucketing, or None for types
    with no usable numeric order (falls back to a single bucket — the
    serial per-key window, i.e. round-3 behavior)."""
    dt = dict(df.dtypes).get(order_col, "")
    if dt.startswith("timestamp"):
        # TIMESTAMP_NTZ has no direct double cast; route through TIMESTAMP
        # (a no-op for TIMESTAMP, a monotone session-TZ shift for NTZ —
        # bucketing needs monotonicity only)
        return F.col(order_col).cast("timestamp").cast("double")
    if dt == "date":
        return F.unix_date(F.col(order_col)).cast("double")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith(
        "decimal"
    ):
        return F.col(order_col).cast("double")
    return None


def _with_order_bucket(df: DataFrame, order_col: str, n_buckets: int) -> DataFrame:
    """Attach a deterministic, monotone ``__bkt`` derived from
    ``order_col``'s value range: equi-WIDTH buckets between the column's
    min and max, both computed IN-PLAN (a 1-row broadcast joined to the
    fact — no eager driver job, no collected sketch; the round-4 first cut
    ran a blocking ``approxQuantile`` per query). Monotone in the value, so
    bucket order == order-column order; rows with equal values share a
    bucket; nulls go to bucket 0 (matching ASC NULLS FIRST). Equi-width vs
    equi-depth trades skew resistance for a cheaper pass: value clustering
    degrades only parallelism (a fat bucket), never correctness — offsets
    are exact counts either way.

    r10: FILE-BACKED inputs use LITERAL bounds (_literal_order_bounds —
    eager once, memoized on file signatures) so repeated executions skip
    the stats subtree; the in-plan 1-row-broadcast form remains the
    fallback for in-memory relations, where an eager job per construction
    would be the round-4 hazard. The stats subtree is a full extra scan
    PER EXECUTION for every distributed-window operator (~0.3-0.5 s at
    sf10 each)."""
    v = _order_value_expr(df, order_col)
    if v is None:
        return df.withColumn("__bkt", F.lit(0).cast("int"))
    bounds = _literal_order_bounds(df, order_col)
    if bounds is not None:
        return df.withColumn(
            "__bkt", _literal_bucket_expr(v, bounds[0], bounds[1], n_buckets)
        )
    # Non-finite values are pinned to the edge buckets matching Spark's ASC
    # sort order (-inf first; NaN sorts AFTER +inf, both pinned last) and
    # kept out of min/max: a single ±inf in the range would make width
    # inf/NaN, floor() null, and least() would then silently collapse every
    # finite row into one bucket — ordering stays correct but the
    # distributed numbering degrades to a near-serial window.
    inf = float("inf")
    is_finite = (~F.isnan(v)) & (v > F.lit(-inf)) & (v < F.lit(inf))
    finite = F.when(is_finite, v)
    stats = df.agg(F.min(finite).alias("__lo"), F.max(finite).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bkt = (
        F.when(v.isNull() | (v == F.lit(-inf)), F.lit(0))
        .when(F.isnan(v) | (v == F.lit(inf)), F.lit(n_buckets - 1))
        # all-non-finite input leaves __hi/__lo null: null <= null is null,
        # so test __hi explicitly before the arithmetic branch
        .when(F.col("__hi").isNull() | (F.col("__hi") <= F.col("__lo")), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((v - F.col("__lo")) / width).cast("int"),
            )
        )
        .cast("int")
    )
    return (
        df.join(F.broadcast(stats))
        .withColumn("__bkt", bkt)
        .drop("__lo", "__hi")
    )


# Below this input size the two-level machinery (bookkeeping aggregate +
# broadcast + merge) costs more than it saves: the whole input sorts in a
# handful of tasks anyway. Measured crossover on the events ladder:
# distributed wins at sf10 (174 MB: drawdown 3.4→2.5 s, gap 5.0→3.3 s) and
# loses at sf0.1 (2 MB: +0.7-0.9 s/query). Unknown input size (non-file
# sources, remote URIs) defaults to DISTRIBUTED — the scale-safe choice.
# Read at call time, so tests can patch it (0 disables the serial fallback).
SERIAL_WINDOW_MAX_INPUT_BYTES = 64 << 20

# The total-bytes probe cannot see a hot KEY (r9 verdict: 2.43× straggler
# tax on a PARTITION BY user_id frame under the 18%-hot-user zipf fixture —
# the serial path funnels the hot key through one task even when the total
# is modest). Inputs under the serial threshold additionally probe the
# hottest key's row share (operators/sizing.py::max_key_share — narrow,
# memoized); when the estimated hot-PARTITION bytes (total × share) reach
# this budget, the distributed form is selected anyway. <= 0 disables
# the skew probe (pure total-bytes selection, the r9 rule).
# 64 MiB is the measured crossover (BASELINE r10): an exact split cannot
# avoid a bookkeeping barrier (one extra pass + broadcast ≈ 1-1.5 s at
# sf10), while the straggler itself costs ~25 ms/MB of hot partition —
# below ~64 MiB the plain window's straggler is CHEAPER than any exact
# mitigation (measured: 27 MB hot → plain 2.23 s vs split 3.29 s; 95 MB
# hot → split wins).
SERIAL_WINDOW_MAX_PARTITION_BYTES = 64 << 20


def serial_window_ok(
    df: DataFrame, key_cols: list[str], serial_below_bytes: int | None = None
) -> bool:
    """True when the plain per-key serial window is the right physical
    strategy for ``df``: input knowably under the serial threshold AND no
    single ``key_cols`` partition estimated past the per-partition budget.
    The routing decision behind every size-selected operator in this
    module; ``with_trailing_sums`` decides ONCE on its file-backed input
    and forces its running-sum stage the same way — intermediate
    DataFrames are not file-backed, so letting a later stage re-probe
    would mis-route it to distributed at toy scale."""
    threshold = (
        SERIAL_WINDOW_MAX_INPUT_BYTES
        if serial_below_bytes is None
        else serial_below_bytes
    )
    if threshold <= 0:
        return False
    nbytes = scan_input_bytes(df)
    if nbytes is None or nbytes >= threshold:
        return False
    hot_budget = SERIAL_WINDOW_MAX_PARTITION_BYTES
    if hot_budget <= 0 or nbytes < hot_budget:
        # even a 100%-hot key cannot exceed the per-partition budget
        return True
    share = max_key_share(df, key_cols)
    if share is None:
        return False  # unknowable → assume skewed, the scale-safe default
    return nbytes * share < hot_budget


# memo: (files, plan, order col) → (lo, hi) of the finite order values as
# Python floats — turning the bucket bounds into plan LITERALS so repeated
# executions never re-scan for min/max (the in-plan 1-row-broadcast form of
# _with_order_bucket re-runs its stats subtree on every execution; fine for
# a one-shot operator, a full extra scan per rep for a routed hot path).
_ORDER_BOUNDS_MEMO: dict[tuple, tuple[float, float] | None] = {}


def _literal_order_bounds(df: DataFrame, order_col: str) -> tuple[float, float] | None:
    """Eager, memoized (min, max) of the finite order values, or None when
    the column has no numeric order, no finite values, or the input is not
    file-backed (nothing stable to memo on — a per-construction eager job
    on an arbitrary in-memory relation would reintroduce the round-4
    blocking-approxQuantile hazard; callers fall back to the in-plan
    1-row-broadcast stats form). The memo keys on (path, size, mtime) file
    signatures, so an in-place fixture rewrite can never serve stale
    bounds — stale lo/hi would assign NEGATIVE buckets to new out-of-range
    values, which sort before the null bucket and break nulls-first
    ordering, an exactness bug, not just lost parallelism."""
    v = _order_value_expr(df, order_col)
    if v is None:
        return None
    files = files_signature(df)
    if files is None:
        return None
    memo_key = (files, plan_hash(df), order_col)
    if memo_key in _ORDER_BOUNDS_MEMO:
        return _ORDER_BOUNDS_MEMO[memo_key]
    inf = float("inf")
    finite = F.when((~F.isnan(v)) & (v > F.lit(-inf)) & (v < F.lit(inf)), v)
    row = df.agg(F.min(finite).alias("lo"), F.max(finite).alias("hi")).first()
    bounds = (
        None
        if row is None or row["lo"] is None
        else (float(row["lo"]), float(row["hi"]))
    )
    _ORDER_BOUNDS_MEMO[memo_key] = bounds
    return bounds


def _literal_bucket_expr(
    v: Column, lo: float, hi: float, n_buckets: int
) -> Column:
    """Monotone equi-width bucket of ``v`` over LITERAL bounds — same
    pinning rules as _with_order_bucket (nulls/-inf → 0; NaN/+inf → last;
    degenerate range → 0) with the min/max folded into the plan."""
    inf = float("inf")
    if not (lo < hi) or lo == -inf or hi == inf:
        return F.lit(0).cast("int")
    width = (hi - lo) / float(n_buckets)
    return (
        F.when(v.isNull() | (v == F.lit(-inf)), F.lit(0))
        .when(F.isnan(v) | (v == F.lit(inf)), F.lit(n_buckets - 1))
        .otherwise(
            F.least(F.lit(n_buckets - 1), F.floor((v - F.lit(lo)) / F.lit(width)))
        )
        .cast("int")
    )


def _join_on_keys(
    left: DataFrame, right: DataFrame, key_cols: list[str], on: str, how: str
) -> DataFrame:
    """``left.join(right, [*key_cols, on], how)`` with NULL-safe key
    equality: a window's PARTITION BY groups NULL keys as one partition,
    so the distributed forms must match a NULL key to its NULL-key
    bookkeeping row, where a plain equi-join drops it (and lets Catalyst
    filter NULL keys out under the scan). ``on`` is never NULL and keeps
    plain equality. The output carries ``left``'s key columns."""
    joined = [*key_cols, on]
    renamed = right.select(
        *[F.col(c).alias(f"__j_{c}") if c in joined else F.col(c) for c in right.columns]
    )
    cond = F.col(on) == F.col(f"__j_{on}")
    for c in reversed(key_cols):
        cond = F.col(c).eqNullSafe(F.col(f"__j_{c}")) & cond
    return left.join(renamed, cond, how).drop(*[f"__j_{c}" for c in joined])


def skew_split_sum_frames(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    frame_rows: int,
    value_col: str,
    out_cols: tuple[str, str, str] = ("__slide_sum", "__slide_cnt", "__run_sum"),
) -> DataFrame:
    """Trailing sum/count + running sum of a non-null integral column,
    with a HOT/COLD KEY SPLIT inside ONE window pass (r10, the r9
    verdict's E4: a plain PARTITION BY window funnels a hot key through
    one task — 2.43× tax at 18%-hot-user zipf — while distributed-window
    machinery applied to EVERYTHING costs 10× more than the straggler it
    removes; and a two-branch union form re-scans the fact 3×, measured
    1.6× tax).

    Routing: estimate each key's partition bytes as scan bytes × row
    share (operators/sizing.py::hot_key_values — eager, narrow,
    memoized). No key past the per-partition budget
    (``SERIAL_WINDOW_MAX_PARTITION_BYTES``, 64 MiB; <= 0 disables
    splitting) → the untouched plain window, zero overhead — the usual
    case, since key cardinality normally exceeds cores.

    With hot keys, ONE plan: every row gets ``__bkt`` = its order-value
    equi-width bucket if its key is hot (literal bounds, memoized — no
    per-run stats subtree), else 0; the payload shuffles and sorts ONCE on
    (key, __bkt) — cold keys keep whole-key partitions, hot keys split
    into ~n_buckets slices. Per-(hot key, bucket) bookkeeping (value sum +
    last frame_rows-1 (order, value) structs; a second, hot-only scan) is
    prefix-scanned per key (tiny) and LEFT-broadcast-joined back: cold
    rows see no match (no carry, zero offset — their local window IS the
    global one); hot rows top up their first frame_rows-1 rows from the
    carry array and shift their running sum by the offset. Exactness:
    integer sums are order-independent, so both routes are bit-identical
    (the caller owns the integer grid — queries/_money.py); ``value_col``
    must be non-null (a NULL would poison the carry aggregate).

    Scale: at most scan_bytes/budget keys can be hot, so the hot list
    always fits an isin literal; the bookkeeping is hot-keys × buckets
    rows; the payload pays exactly one exchange + one sort, same as the
    plain window.

    It stays beside ``with_trailing_sums`` because that operator's
    (key, row number) lookup join would make every cold key pay a second
    fact-sized exchange, machinery the cold keys must never pay
    (BASELINE.md:863: 13.8 s, machinery 10× the straggler it removes)."""
    spark = df.sparkSession
    budget = SERIAL_WINDOW_MAX_PARTITION_BYTES
    slide_sum, slide_cnt, run_sum = out_cols
    tail_n = frame_rows - 1

    def plain(d: DataFrame) -> DataFrame:
        ob = Window.partitionBy(*key_cols).orderBy(*order_cols)
        return d.select(
            *d.columns,
            F.sum(value_col).over(ob.rowsBetween(-tail_n, 0)).alias(slide_sum),
            F.count(F.lit(1))
            .over(ob.rowsBetween(-tail_n, 0))
            .cast("long")
            .alias(slide_cnt),
            F.sum(value_col)
            .over(ob.rowsBetween(Window.unboundedPreceding, 0))
            .alias(run_sum),
        )

    hot: list[tuple] | None = None
    bounds: tuple[float, float] | None = None
    if budget > 0:
        nbytes = scan_input_bytes(df)
        if nbytes is not None and nbytes >= budget:
            hot = hot_key_values(df, key_cols, budget / nbytes)
            if hot:
                # bound the split (hot_key_values returns hottest-first):
                # a degenerate budget can mark thousands of keys "hot", and
                # an unbounded isin + hot-keys × buckets bookkeeping is its
                # own scale hazard (measured: budget=1 at sf10 → 150 k
                # "hot" users → 109 s). Keys past the cap stay on the plain
                # path — exactly correct, just unsplit.
                hot = hot[:64]
                bounds = _literal_order_bounds(df, order_cols[0])
    if not hot or bounds is None:
        return plain(df)
    if len(key_cols) == 1:
        is_hot = F.col(key_cols[0]).isin([h[0] for h in hot])
    else:
        from functools import reduce as _reduce

        is_hot = F.lit(False)
        for h in hot:
            is_hot = is_hot | _reduce(
                lambda a, b: a & b,
                [F.col(c) == F.lit(v) for c, v in zip(key_cols, h)],
            )
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    v = _order_value_expr(df, order_cols[0])
    bkt = F.when(
        is_hot, _literal_bucket_expr(v, bounds[0], bounds[1], n_buckets)
    ).otherwise(F.lit(0).cast("int"))
    salted = df.withColumn("__bkt", bkt)

    # hot-only bookkeeping: per-(key, bucket) value total + tail structs
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(value_col).alias("__v")
    )
    sorted_vals = F.array_sort(F.collect_list(order_struct))
    book = (
        salted.filter(is_hot)
        .groupBy(*key_cols, "__bkt")
        .agg(
            F.sum(value_col).alias("__s"),
            F.when(F.size(sorted_vals) > tail_n, F.slice(sorted_vals, -tail_n, tail_n))
            .otherwise(sorted_vals)
            .alias("__tail"),
        )
    )
    wb = (
        Window.partitionBy(*key_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_tails = F.flatten(F.collect_list("__tail").over(wb))
    carry = F.when(
        F.size(prev_tails) > tail_n, F.slice(prev_tails, -tail_n, tail_n)
    ).otherwise(prev_tails)
    # carry SCALARS, not the array: __cs{j} = sum of the last j carried
    # values. The per-row top-up on the payload is then a codegen-able
    # CASE over small ints — a higher-order slice/aggregate lambda there
    # runs INTERPRETED on every fact row (measured ~1 s of pure expression
    # overhead at 10 M rows). The lambda runs only here, on the tiny
    # bookkeeping table.
    offsets = book.select(
        *key_cols,
        "__bkt",
        F.coalesce(F.sum("__s").over(wb), F.lit(0).cast("long")).alias("__off"),
        carry.alias("__carry"),
    ).select(
        *key_cols,
        "__bkt",
        "__off",
        F.size("__carry").alias("__clen"),
        *[
            F.when(
                F.size("__carry") >= j,
                F.aggregate(
                    F.slice("__carry", -j, j),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x["__v"],
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias(f"__cs{j}")
            for j in range(1, tail_n + 1)
        ],
    )

    lw = Window.partitionBy(*key_cols, "__bkt").orderBy(*order_cols)
    # two-step select: window outputs FIRST, arithmetic after — reusing a
    # window Column object inside compound expressions clones the whole
    # window expression per use (the first cut carried 4 separate
    # row_number evaluations into the physical Window node)
    windowed = salted.join(F.broadcast(offsets), [*key_cols, "__bkt"], "left").select(
        *df.columns,
        "__clen",
        "__off",
        *[f"__cs{j}" for j in range(1, tail_n + 1)],
        F.row_number().over(lw).alias("__rn"),
        F.sum(value_col).over(lw.rowsBetween(-tail_n, 0)).alias("__ls"),
        F.count(F.lit(1)).over(lw.rowsBetween(-tail_n, 0)).alias("__lc"),
        F.sum(value_col)
        .over(lw.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__lr"),
    )
    avail = F.least(
        F.greatest(F.lit(0), F.lit(frame_rows) - F.col("__rn")),
        F.coalesce(F.col("__clen"), F.lit(0)),
    ).alias("__avail")
    windowed = windowed.withColumn("__avail", avail)
    carried = F.lit(0).cast("long")
    for j in range(1, tail_n + 1):
        carried = F.when(F.col("__avail") == j, F.col(f"__cs{j}")).otherwise(carried)
    return windowed.select(
        *df.columns,
        (F.col("__ls") + carried).alias(slide_sum),
        (F.col("__lc") + F.col("__avail")).cast("long").alias(slide_cnt),
        (F.col("__lr") + F.coalesce(F.col("__off"), F.lit(0).cast("long"))).alias(
            run_sum
        ),
    )


def with_distributed_prefix(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    prefix_aggs: dict[str, tuple[str, str]],
    n_buckets: int | None = None,
    serial_below_bytes: int | None = None,
) -> DataFrame:
    """Running (UNBOUNDED PRECEDING) aggregates at keys × buckets
    parallelism: drawdown peaks, cumulative volume, high-water marks,
    and (as prefix differences) the bounded trailing sums of
    ``with_trailing_sums``.

    ``prefix_aggs`` maps output name → ("max" | "min" | "sum", value_col).
    Decomposition: rows bucket by order-column value ranges (monotone, so
    every earlier row is in an earlier-or-equal bucket); per-(key, bucket)
    partials form a bookkeeping table whose EXCLUSIVE per-key prefix is
    the carry-in offset; the offset broadcasts back and merges with the
    in-bucket running aggregate (greatest / least / +). With a total
    order (unique tiebreak in ``order_cols``) results are bit-identical
    to the serial window; null handling matches (window aggs skip nulls,
    greatest/least skip nulls, sum stays null only when both sides are).

    Physical strategy is SIZE-SELECTED like a join strategy: inputs under
    the serial threshold (when the scan size is knowable) emit the plain
    serial window — same semantics, no bookkeeping pass. The threshold is
    ``serial_below_bytes`` if given, else ``SERIAL_WINDOW_MAX_INPUT_BYTES``
    (64 MiB); 0 forces the distributed form."""
    ops = {"max": F.max, "min": F.min, "sum": F.sum}
    for name, (kind, _) in prefix_aggs.items():
        if kind not in ops:
            raise ValueError(f"unsupported prefix agg {kind!r} for {name!r}")
    spark = df.sparkSession
    if serial_window_ok(df, key_cols, serial_below_bytes):
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df
        for name, (kind, col) in prefix_aggs.items():
            out = out.withColumn(name, ops[kind](col).over(w))
        return out
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    bucketed = _with_order_bucket(df, order_cols[0], n_buckets)
    partials = bucketed.groupBy(*key_cols, "__bkt").agg(
        *[
            ops[kind](col).alias(f"__p_{name}")
            for name, (kind, col) in prefix_aggs.items()
        ]
    )
    off_w = (
        Window.partitionBy(*key_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        *key_cols,
        "__bkt",
        *[
            ops[kind](f"__p_{name}").over(off_w).alias(f"__o_{name}")
            for name, (kind, _) in prefix_aggs.items()
        ],
    )
    local_w = (
        Window.partitionBy(*key_cols, "__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # window outputs into columns first, merge after: the sum merge uses
    # its operand twice, and a window Column used twice is computed twice
    out = _join_on_keys(
        bucketed, F.broadcast(offsets), key_cols, "__bkt", "inner"
    ).select(
        "*",
        *[
            ops[kind](col).over(local_w).alias(f"__l_{name}")
            for name, (kind, col) in prefix_aggs.items()
        ],
    )
    merged = {}
    for name, (kind, _) in prefix_aggs.items():
        local, off = F.col(f"__l_{name}"), F.col(f"__o_{name}")
        if kind == "max":
            merged[name] = F.greatest(local, off)
        elif kind == "min":
            merged[name] = F.least(local, off)
        else:  # sum: null only when BOTH sides carry no non-null input
            merged[name] = F.when(
                local.isNull() & off.isNull(), F.lit(None)
            ).otherwise(F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0)))
    return out.withColumns(merged).drop(
        "__bkt", *[f"__{p}_{n}" for n in prefix_aggs for p in "ol"]
    )


def with_trailing_sums(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    frame_rows: int,
    sum_cols: dict[str, str],
    n_col: str = "__n",
) -> DataFrame:
    """Trailing ``ROWS BETWEEN frame_rows-1 PRECEDING AND CURRENT ROW``
    sums as prefix differences: frame(i) = P(i) − P(i − frame_rows).

    ``sum_cols`` maps output name → a NON-NULL exact (integral or
    decimal) column; ``n_col`` is the frame's row count,
    ``least(row number, frame_rows)``. Exact arithmetic makes the
    difference bit-identical to the plain sliding window, which
    re-aggregates the whole frame for every row (Spark's
    SlidingWindowFunctionFrame, O(rows × frame)); here every row costs
    O(1) whatever the frame width.

    Strategy is size-selected like the other operators here. Serial: one
    running window, then ``lag(·, frame_rows)`` over the same spec — one
    exchange and one sort. Distributed: one ``with_distributed_prefix``
    pass (row number included), then a left equi-join on (key, row
    number) against the same rows shifted by ``frame_rows``; the pair is
    unique, so the join spreads evenly however few keys there are."""
    base = df.withColumn("__one", F.lit(1))
    sums = {"__rn": "__one", **{f"__p_{n}": c for n, c in sum_cols.items()}}
    back_of = {f"__p_{n}": f"__b_{n}" for n in sum_cols}
    if serial_window_ok(df, key_cols):
        w = Window.partitionBy(*key_cols).orderBy(*order_cols)
        run_w = w.rowsBetween(Window.unboundedPreceding, 0)
        running = base.select(
            *df.columns, *[F.sum(c).over(run_w).alias(p) for p, c in sums.items()]
        )
        back = running.select(
            "*", *[F.lag(p, frame_rows).over(w).alias(b) for p, b in back_of.items()]
        )
    else:
        running = with_distributed_prefix(
            base,
            key_cols,
            order_cols,
            {p: ("sum", c) for p, c in sums.items()},
            serial_below_bytes=0,
        ).drop("__one")
        shifted = running.select(
            *key_cols,
            (F.col("__rn") + frame_rows).alias("__rn"),
            *[F.col(p).alias(b) for p, b in back_of.items()],
        )
        back = _join_on_keys(running, shifted, key_cols, "__rn", "left")
    return back.select(
        *df.columns,
        *[
            (F.col(f"__p_{n}") - F.coalesce(f"__b_{n}", F.lit(0))).alias(n)
            for n in sum_cols
        ],
        F.least("__rn", F.lit(frame_rows)).alias(n_col),
    )


def with_distributed_lag(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    lag_cols: dict[str, str],
    n_buckets: int | None = None,
    serial_below_bytes: int | None = None,
) -> DataFrame:
    """``lag(col, 1)`` at keys × buckets parallelism. ``lag_cols`` maps
    output name → source column. Physical strategy is size-selected the
    same way as :func:`with_distributed_prefix` (serial window below the
    threshold; explicit 0 — or the conf key — forces distributed).

    In-bucket lag covers every row except each bucket's first; that row's
    predecessor is the LAST row of the key's previous non-empty bucket,
    recovered from bookkeeping: per-(key, bucket) ``max_by(col,
    struct(order_cols))`` (the bucket-final value), then ``last`` over the
    exclusive per-key bucket prefix — empty buckets never emit a
    bookkeeping row, so the previous finals row IS the previous non-empty
    bucket, and a genuinely-NULL bucket-final value propagates as null
    exactly like serial lag would. The first-row case keys off an explicit
    in-bucket row_number, NOT coalesce, so null lagged values elsewhere
    pass through unchanged."""
    spark = df.sparkSession
    if serial_window_ok(df, key_cols, serial_below_bytes):
        w = Window.partitionBy(*key_cols).orderBy(*order_cols)
        out = df
        for name, src in lag_cols.items():
            out = out.withColumn(name, F.lag(src).over(w))
        return out
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    bucketed = _with_order_bucket(df, order_cols[0], n_buckets)
    order_struct = F.struct(*[F.col(c) for c in order_cols])
    finals = bucketed.groupBy(*key_cols, "__bkt").agg(
        *[
            F.max_by(src, order_struct).alias(f"__f_{name}")
            for name, src in lag_cols.items()
        ]
    )
    off_w = (
        Window.partitionBy(*key_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = finals.select(
        *key_cols,
        "__bkt",
        *[
            F.last(f"__f_{name}", ignorenulls=False)
            .over(off_w)
            .alias(f"__o_{name}")
            for name in lag_cols
        ],
    )
    local_w = Window.partitionBy(*key_cols, "__bkt").orderBy(*order_cols)
    out = _join_on_keys(
        bucketed, F.broadcast(offsets), key_cols, "__bkt", "inner"
    ).withColumn("__rnl", F.row_number().over(local_w))
    for name, src in lag_cols.items():
        out = out.withColumn(
            name,
            F.when(F.col("__rnl") == 1, F.col(f"__o_{name}")).otherwise(
                F.lag(src).over(local_w)
            ),
        )
    return out.drop("__bkt", "__rnl", *[f"__o_{n}" for n in lag_cols])
