"""Differential correctness: every declared query vs its DuckDB oracle —
the local replica of the driver's correctness gate (row count + column
names + order-insensitive value multiset).

The check runs twice: on the default profile, where the fixtures take the
small-data side of every size gate, and on the ``at_scale`` profile
(conftest.py), where they take the side a lake-sized input would.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from fineventstream_spark.registry import all_queries

REGISTRY = all_queries()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries pre-round computed floats; this guards pass-through noise
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _multiset(rows, col_order):
    return sorted(
        (tuple(_norm(row[i]) for i in col_order) for row in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


ORACLE_QUERIES = sorted(REGISTRY)


def _canon_pandas(tbl):
    """pyarrow.Table → canonicalized pandas frame for the vectorized fast
    path, or None when a type needs the row-at-a-time authority (nested
    arrays/structs/maps, decimals). Canonical form: lowercased sorted
    column names, floats rounded to 6, every temporal as naive
    datetime64[us] (dates included — DuckDB's fetchdf date→Timestamp
    coercion is exactly the repr trap this sidesteps), integers widened
    to nullable Int64, rows sorted by all columns."""
    import pandas as pd
    import pyarrow as pa

    for f in tbl.schema:
        if pa.types.is_nested(f.type) or pa.types.is_decimal(f.type):
            return None
        # SQL NULL vs NaN must stay distinguishable (the authority compares
        # None vs 'NaN'); to_pandas maps float validity-nulls to NaN, which
        # would certify NULL==NaN as equal. Arrow still sees the difference
        # (null_count is validity-based, NaN is a value) — any float column
        # carrying true nulls goes to the row-at-a-time authority.
        if pa.types.is_floating(f.type) and tbl.column(f.name).null_count > 0:
            return None
    pdf = tbl.to_pandas()
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif s.dtype == object:
            head = s.dropna().head(1)
            if len(head) and isinstance(head.iloc[0], (dt.date, dt.datetime)):
                s = pd.to_datetime(s)
                if getattr(s.dt, "tz", None) is not None:
                    s = s.dt.tz_localize(None)
                s = s.astype("datetime64[us]")
            elif len(head) and not isinstance(head.iloc[0], str):
                return None  # unknown object payload → authority path
        out[c.lower()] = s
    cols = sorted(out)
    canon = pd.DataFrame({c: out[c] for c in cols})
    canon = canon.sort_values(cols, kind="mergesort", na_position="first")
    return canon.reset_index(drop=True)


def _fast_equal(sdf, duck, oracle_sql):
    """Vectorized multiset compare via Arrow. Returns True when both
    canonical frames are equal, None when this path cannot decide (type
    it doesn't cover, or any exception) — and None on MISMATCH too: the
    row-at-a-time comparator is the single authority for failures, so a
    fast-path bug can never fail a good query, only cost speed. Only a
    confirmed equality short-circuits."""
    try:
        s = _canon_pandas(sdf.toArrow())
        if s is None:
            return None
        d = _canon_pandas(duck.execute(oracle_sql).fetch_arrow_table())
        if d is None:
            return None
        if list(s.columns) != list(d.columns) or len(s) != len(d):
            return None
        return True if s.equals(d) else None
    except Exception:
        return None


def test_fast_path_refuses_float_nulls():
    """A float column with a SQL NULL must fall to the authority (r5
    advisor: to_pandas maps nulls to NaN, so the fast path would certify
    Spark NULL == oracle NaN). NaN VALUES alone stay on the fast path."""
    import pyarrow as pa

    with_null = pa.table({"x": pa.array([1.0, None], type=pa.float64())})
    assert _canon_pandas(with_null) is None
    with_nan = pa.table({"x": pa.array([1.0, float("nan")], type=pa.float64())})
    assert _canon_pandas(with_nan) is not None


# Identity-shaped results (projections / unions / unpivots over the fact)
# whose row count GROWS with the fact: full-multiset compare through the
# driver stops being the right tool past ~sf1 (60–180 M rows at sf10 blow
# spark.driver.maxResultSize and would take GBs of pandas). Past the
# threshold these compare by (a) exact engine-side row count and (b) the
# full multiset on a DETERMINISTIC key-sampled subset (key % 512 == 0,
# pushed down on BOTH engines — same rows, no randomness). The map names
# the numeric result column to sample on. Full-multiset strictness is
# unchanged at the driver's sf0.01 and the sf1 sweep.
OVERSIZE_SAMPLE_KEY = {
    "q_math_basic": "l_orderkey",
    "q_union_all": "id",
    "q_unpivot": "l_orderkey",
}
OVERSIZE_ROW_THRESHOLD = 5_000_000


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, duck, sf_dir):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    spark_cols = sdf.columns

    key = OVERSIZE_SAMPLE_KEY.get(name)
    if key is not None:
        n_duck = duck.execute(
            f"SELECT count(*) FROM ({q.oracle})"
        ).fetchone()[0]
        if n_duck > OVERSIZE_ROW_THRESHOLD:
            from pyspark.sql import functions as F

            assert sdf.count() == n_duck, f"{name}: row count mismatch at scale"
            sdf = sdf.filter(F.col(key) % 512 == 0)
            q = type(q)(
                name=q.name,
                fn=q.fn,
                oracle=f"SELECT * FROM ({q.oracle}) WHERE ({key}) % 512 = 0",
                tags=q.tags,
                doc=q.doc,
            )

    # Arrow fast path: collect()+per-row normalization dominated the
    # large-sf sweeps (49 min of single-core python at sf3); a confirmed
    # vectorized equality skips it. Anything else falls through to the
    # authoritative row-at-a-time compare below.
    if _fast_equal(sdf, duck, q.oracle) is True:
        return

    spark_rows = sdf.collect()

    rel = duck.execute(q.oracle)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(map(str.lower, spark_cols)) == sorted(map(str.lower, duck_cols)), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    # align columns by (lowercased) name before hashing values
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i].lower())
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i].lower())
    s_set = _multiset(spark_rows, s_order)
    d_set = _multiset(duck_rows, d_order)
    if s_set != d_set:
        diffs = [(a, b) for a, b in zip(s_set, d_set) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match_at_scale(name, at_scale, spark, duck, sf_dir):
    test_oracle_match(name, spark, duck, sf_dir)

