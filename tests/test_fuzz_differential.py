"""Seeded differential fuzzing (SURVEY §5.4): randomly composed
filter/group/agg queries run on both engines and compared.

The declared-query suite checks fixed plans; this sweeps the predicate ×
aggregation space with a deterministic seed, catching semantics drift the
hand-written queries don't reach (operator interactions, null paths,
boundary literals). Every case is constructed so both SQL dialects parse
identically and floats are rounded on both sides.
"""

from __future__ import annotations

import os
import random

import pytest

# Fresh-seed knob for scale promotions (r7 verdict ask #9): a promotion
# run at a bigger SF sets SPARK_GRAFT_FUZZ_SEED to shift the asof and
# hash-bridge family seeds, so the promoted pass exercises NEW cases
# rather than re-verifying the sf0.001 ones on more rows. 0 (default)
# keeps every historical seed stable.
_SEED_OFFSET = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "0"))

NUMERIC_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
STRING_COLS = ["l_returnflag", "l_linestatus"]
STRING_VALUES = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}
CMP = ["<", "<=", ">", ">=", "=", "<>"]

# Exact integer-unit SUM: at sf1 a group's SUM(l_extendedprice) reaches
# ~8e10, where double summation-ORDER noise exceeds the rounding grid and
# the engines disagree in the last digit (surfaced by this fuzzer's sf1
# run — the same class b1999fb fixed in the engine's money totals).
# Summing exact integer units is order-independent and bit-identical.
_UNIT = {"l_quantity": 100, "l_extendedprice": 100, "l_discount": 1000, "l_tax": 1000}


def _exact_sum(col: str, nd: int = 3) -> str:
    # CAST(... AS DOUBLE) before dividing: a bare `100.0` literal is
    # DECIMAL in Spark SQL (DOUBLE in DuckDB), which would change the
    # result type cross-dialect
    u = _UNIT[col]
    return f"ROUND(CAST(SUM(CAST(ROUND({col} * {u}) AS BIGINT)) AS DOUBLE) / {u}, {nd})"

N_CASES = 40


def _gen_case(rng: random.Random) -> str:
    preds = []
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.6:
            c = rng.choice(NUMERIC_COLS)
            op = rng.choice(CMP)
            if c == "l_quantity":
                lit = round(rng.uniform(1, 50), 1)
            elif c == "l_extendedprice":
                lit = round(rng.uniform(1000, 90000), 2)
            else:
                lit = round(rng.uniform(0.0, 0.1), 3)
            preds.append(f"{c} {op} {lit}")
        else:
            c = rng.choice(STRING_COLS)
            v = rng.choice(STRING_VALUES[c])
            preds.append(f"{c} {'=' if rng.random() < 0.7 else '<>'} '{v}'")
    where = " AND ".join(preds) if rng.random() < 0.7 else " OR ".join(preds)

    group = rng.sample(STRING_COLS, rng.randint(0, 2))
    agg_col = rng.choice(NUMERIC_COLS)
    aggs = [
        "count(*) AS n",
        f"{_exact_sum(agg_col)} AS s",
        f"ROUND(AVG({agg_col}), 4) AS a",
        f"MIN({agg_col}) AS mn",
        f"MAX({agg_col}) AS mx",
    ]
    sel = (", ".join(group) + ", " if group else "") + ", ".join(aggs)
    gb = f" GROUP BY {', '.join(group)}" if group else ""
    return f"SELECT {sel} FROM lineitem WHERE {where}{gb}"


@pytest.fixture(scope="module")
def spark_lineitem(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    return spark


@pytest.mark.parametrize("case_id", range(N_CASES))
def test_fuzz_case(case_id, spark_lineitem, duck, sf_dir):
    rng = random.Random(42_000 + case_id)
    sql = _gen_case(rng)
    srows = [tuple(r) for r in spark_lineitem.sql(sql).collect()]
    drows = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(srows) == len(drows), f"{sql}\nrowcount {len(srows)} vs {len(drows)}"

    def norm(rows):
        return sorted(
            (tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows),
            key=str,
        )

    assert norm(srows) == norm(drows), f"value mismatch for:\n{sql}"


def _gen_join_case(rng: random.Random) -> str:
    """lineitem ⋈ orders with a random join type, predicate, and
    aggregate — both dialects parse it identically (ANSI join + WHERE)."""
    how = rng.choice(["JOIN", "LEFT JOIN"])
    c = rng.choice(NUMERIC_COLS)
    op = rng.choice(CMP)
    lit = round(rng.uniform(1, 50), 1) if c == "l_quantity" else round(rng.uniform(0.0, 0.1), 3)
    if c == "l_extendedprice":
        lit = round(rng.uniform(1000, 90000), 2)
    opred = f"o_totalprice {rng.choice(CMP)} {round(rng.uniform(1000, 400000), 2)}"
    group = rng.choice(["o_orderstatus", "l_returnflag", "o_orderpriority"])
    agg_col = rng.choice(NUMERIC_COLS)
    return (
        f"SELECT {group}, count(*) AS n, {_exact_sum(agg_col)} AS s, "
        f"MIN({agg_col}) AS mn "
        f"FROM orders {how} lineitem ON l_orderkey = o_orderkey "
        f"WHERE {c} {op} {lit} AND {opred} "
        f"GROUP BY {group}"
    )


def _gen_window_case(rng: random.Random) -> str:
    """Ranking + framed-sum windows over a deterministic total order.
    (l_orderkey, l_linenumber) is NOT a key in the fixtures (sf0.1 has
    ~143k duplicate pairs — surfaced by this fuzzer's sf0.1 run), but
    FULL rows are unique, so ordering by the complete column tuple pins
    ROW_NUMBER/LAG/frame sums identically on both engines."""
    part = rng.choice(STRING_COLS)
    order = rng.choice(NUMERIC_COLS)
    frame_lo = rng.choice([1, 3, 5])
    c = rng.choice(NUMERIC_COLS)
    lit = {"l_quantity": 25, "l_extendedprice": 30000,
           "l_discount": 0.05, "l_tax": 0.04}[c]
    tiebreak = ("l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, "
                "l_extendedprice, l_discount, l_tax, l_returnflag, "
                "l_linestatus, l_shipdate")
    w = f"PARTITION BY {part} ORDER BY {order}, {tiebreak}"
    return (
        f"SELECT l_orderkey, l_linenumber, "
        f"ROW_NUMBER() OVER ({w}) AS rn, "
        f"ROUND(SUM(l_quantity) OVER ({w} "
        f"ROWS BETWEEN {frame_lo} PRECEDING AND CURRENT ROW), 3) AS ms, "
        f"LAG({order}, 1) OVER ({w}) AS prev_v "
        f"FROM lineitem WHERE {c} < {lit}"
    )


def _gen_subquery_case(rng: random.Random) -> str:
    """IN / NOT IN / EXISTS subqueries — Catalyst decorrelation vs
    DuckDB's planner on the same ANSI text."""
    kind = rng.choice(["IN", "NOT IN", "EXISTS"])
    cutoff = round(rng.uniform(50000, 300000), 2)
    group = rng.choice(STRING_COLS)
    if kind == "EXISTS":
        sub = (f"EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey "
               f"AND o_totalprice > {cutoff})")
    else:
        # NOT IN needs a null-free subquery column for portable semantics
        sub = (f"l_orderkey {kind} (SELECT o_orderkey FROM orders "
               f"WHERE o_totalprice > {cutoff} AND o_orderkey IS NOT NULL)")
    return (
        f"SELECT {group}, count(*) AS n, {_exact_sum('l_extendedprice')} AS s "
        f"FROM lineitem WHERE {sub} GROUP BY {group}"
    )


def _run_case(spark_lineitem, duck, sql: str) -> None:
    srows = [tuple(r) for r in spark_lineitem.sql(sql).collect()]
    drows = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(srows) == len(drows), f"{sql}\nrowcount {len(srows)} vs {len(drows)}"

    def norm(rows):
        return sorted(
            (tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows),
            key=str,
        )

    assert norm(srows) == norm(drows), f"value mismatch for:\n{sql}"


@pytest.fixture(scope="module")
def spark_two_tables(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    return spark


@pytest.mark.parametrize("case_id", range(15))
def test_fuzz_join_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_join_case(random.Random(43_000 + case_id)))


@pytest.mark.parametrize("case_id", range(15))
def test_fuzz_window_case(case_id, spark_two_tables, duck, sf_dir):
    # _SEED_OFFSET included since r9: scale promotions of the window
    # family exercise NEW cases (r8 verdict ask #8)
    _run_case(
        spark_two_tables, duck, _gen_window_case(random.Random(_SEED_OFFSET + 44_000 + case_id))
    )


@pytest.mark.parametrize("case_id", range(10))
def test_fuzz_subquery_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_subquery_case(random.Random(45_000 + case_id)))


def _gen_setop_having_case(rng: random.Random) -> str:
    """Set ops (ANSI distinct semantics) over two grouped+HAVING branches —
    Catalyst's set-op planning vs DuckDB's on identical text."""
    op = rng.choice(["INTERSECT", "EXCEPT", "UNION"])
    c = rng.choice(NUMERIC_COLS)
    lit = {"l_quantity": (10, 40), "l_extendedprice": (5000, 60000),
           "l_discount": (0.01, 0.08), "l_tax": (0.01, 0.07)}[c]
    a, b = (round(rng.uniform(*lit), 3) for _ in range(2))
    n = rng.randint(1, 20)
    branch = (
        "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM lineitem WHERE {c} {op} {v} GROUP BY l_returnflag, l_linestatus "
        "HAVING COUNT(*) > {n}"
    )
    b1 = branch.format(c=c, op="<", v=max(a, b), n=n)
    b2 = branch.format(c=c, op=">", v=min(a, b), n=n)
    return f"{b1} {op} {b2}"


def _gen_full_join_case(rng: random.Random) -> str:
    """FULL OUTER join of two aggregates on different key slices —
    unmatched sides survive via COALESCE, exercising outer-join null
    paths both engines must agree on."""
    cut1 = round(rng.uniform(100000, 300000), 2)
    cut2 = round(rng.uniform(10, 40), 1)
    return (
        "SELECT COALESCE(a.k, b.k) AS k, a.n AS n_orders, b.n AS n_items "
        "FROM (SELECT o_orderstatus AS k, CAST(COUNT(*) AS BIGINT) AS n FROM orders "
        f"      WHERE o_totalprice > {cut1} GROUP BY o_orderstatus) a "
        "FULL JOIN (SELECT l_linestatus AS k, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem "
        f"      WHERE l_quantity > {cut2} GROUP BY l_linestatus) b "
        "ON a.k = b.k"
    )


@pytest.mark.parametrize("case_id", range(10))
def test_fuzz_setop_having_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_setop_having_case(random.Random(46_000 + case_id)))


@pytest.mark.parametrize("case_id", range(8))
def test_fuzz_full_join_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_full_join_case(random.Random(47_000 + case_id)))


def _gen_datetime_case(rng: random.Random) -> str:
    """Datetime function sweep over orders.o_orderdate (a TIMESTAMP in the
    fixture): EXTRACT fields, date_trunc buckets, last_day — functions
    whose edge semantics (month ends, truncation boundaries) both engines
    must agree on. Literal bounds keep groups small."""
    y1 = rng.randint(1995, 1997)
    m1 = rng.randint(1, 12)
    field = rng.choice(["YEAR", "MONTH", "DAY", "QUARTER"])
    unit = rng.choice(["month", "quarter", "year", "week", "day"])
    return (
        f"SELECT EXTRACT({field} FROM o_orderdate) AS f, "
        f"CAST(date_trunc('{unit}', o_orderdate) AS TIMESTAMP) AS tb, "
        f"CAST(COUNT(*) AS BIGINT) AS n, MIN(last_day(o_orderdate)) AS ld, "
        f"MIN(o_orderkey) AS mk "
        f"FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{y1}-{m1:02d}-01 00:00:00' "
        f"GROUP BY 1, 2"
    )


def _gen_string_fn_case(rng: random.Random) -> str:
    """String-function sweep over part: nested upper/lower/substr/trim/
    replace/reverse/lpad compositions aggregated per group — the scalar
    string kernels both engines must evaluate identically (1-based substr,
    pad truncation, empty-string edges)."""
    col = rng.choice(["p_name", "p_type", "p_brand"])
    exprs = [
        f"upper(substr({col}, 1, {rng.randint(1, 6)}))",
        f"replace(lower({col}), ' ', '_')",
        f"lpad({col}, {rng.randint(2, 12)}, 'x')",
        f"reverse(trim({col}))",
        f"substr({col}, {rng.randint(1, 4)}, {rng.randint(0, 8)})",
        f"concat({col}, '-', p_brand)",
    ]
    sexpr = rng.choice(exprs)
    group = rng.choice(["p_type", "p_brand"])
    like = rng.choice(["'%wi%'", "'%ol%'", "'s%'", "'%t'"])
    return (
        f"SELECT {group}, CAST(COUNT(*) AS BIGINT) AS n, "
        f"MIN({sexpr}) AS mn, MAX({sexpr}) AS mx, "
        f"CAST(SUM(length({sexpr})) AS BIGINT) AS tot_len "
        f"FROM part WHERE p_name LIKE {like} GROUP BY {group}"
    )


def _gen_grouping_case(rng: random.Random) -> str:
    """ROLLUP / CUBE / GROUPING SETS sweep: super-aggregate rows carry
    engine-generated NULLs and GROUPING() markers — the multi-level
    aggregation semantics both planners must agree on exactly."""
    c = rng.choice(NUMERIC_COLS)
    lit = {"l_quantity": 30, "l_extendedprice": 50000,
           "l_discount": 0.06, "l_tax": 0.05}[c]
    form = rng.choice([
        "ROLLUP (l_returnflag, l_linestatus)",
        "CUBE (l_returnflag, l_linestatus)",
        "GROUPING SETS ((l_returnflag), (l_linestatus), ())",
        "GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())",
    ])
    agg = rng.choice(NUMERIC_COLS)
    return (
        f"SELECT l_returnflag, l_linestatus, "
        f"CAST(GROUPING(l_returnflag) AS INTEGER) AS g1, "
        f"CAST(GROUPING(l_linestatus) AS INTEGER) AS g2, "
        f"CAST(COUNT(*) AS BIGINT) AS n, {_exact_sum(agg)} AS s "
        f"FROM lineitem WHERE {c} < {lit} "
        f"GROUP BY {form}"
    )


@pytest.mark.parametrize("case_id", range(10))
def test_fuzz_datetime_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_datetime_case(random.Random(48_000 + case_id)))


@pytest.mark.parametrize("case_id", range(8))
def test_fuzz_grouping_case(case_id, spark_two_tables, duck, sf_dir):
    _run_case(spark_two_tables, duck, _gen_grouping_case(random.Random(50_000 + case_id)))


@pytest.fixture(scope="module")
def spark_part(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView("part")
    return spark


@pytest.mark.parametrize("case_id", range(10))
def test_fuzz_string_fn_case(case_id, spark_part, duck, sf_dir):
    _run_case(spark_part, duck, _gen_string_fn_case(random.Random(49_000 + case_id)))


# ---------------------------------------------------------------------------
# Round-5 families (VERDICT r4 #10): the grammar was thin on as-of joins,
# array higher-order functions, and LISTAGG shapes. The first two need a
# DIALECT-PAIR runner (the semantics are identical but the surface syntax
# is not shared: Spark `transform`/`LISTAGG ... WITHIN GROUP` vs DuckDB
# `list_transform`/`string_agg(... ORDER BY)`), and the as-of family
# compares the engine's asof_join OPERATOR against DuckDB's native ASOF
# LEFT JOIN — fuzzing the operator itself, not just a SQL string.
# ---------------------------------------------------------------------------


def _run_pair_case(spark, duck, spark_sql: str, duck_sql: str) -> None:
    srows = [tuple(r) for r in spark.sql(spark_sql).collect()]
    drows = [tuple(r) for r in duck.execute(duck_sql).fetchall()]
    assert len(srows) == len(drows), (
        f"rowcount {len(srows)} vs {len(drows)}\nspark: {spark_sql}\nduck: {duck_sql}"
    )

    def norm(rows):
        return sorted(
            (tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows),
            key=str,
        )

    assert norm(srows) == norm(drows), f"value mismatch:\nspark: {spark_sql}\nduck: {duck_sql}"


def _gen_hof_case(rng: random.Random) -> tuple[str, str]:
    """Array HOF compositions over a per-row 4-element array: lambda
    transform + fold-sum, lambda filter + count, and sorted k-th element.
    Exercises Spark's transform/filter/aggregate/array_sort against
    DuckDB's list_transform/list_filter/list_sum/list_sort on identical
    inputs. Float outputs use the integer-unit discipline (CAST(ROUND(x *
    1000) AS BIGINT)): ``l_extendedprice / 1000`` has 5 decimal digits, so
    a plain ROUND(_, 4) sits exactly on the .xxxx5 half-ulp boundary where
    the engines' decimal rounding of the same binary double disagrees
    (surfaced by this family's sf0.1 run: 14819.05 / 1000 → 14.819 vs
    14.8191)."""
    a = round(rng.uniform(0.5, 3.0), 2)
    b = round(rng.uniform(-5, 5), 2)
    c = round(rng.uniform(0, 50), 1)
    k = rng.randint(1, 4)
    arr = "l_quantity, l_extendedprice / 1000, l_discount * 100, l_tax * 100"
    pred = f"l_orderkey % 97 = 0 AND l_quantity {rng.choice(CMP)} {rng.randint(5, 45)}"
    spark_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(ROUND(aggregate(transform(array({arr}), x -> x * {a} + {b}), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) * 1000) AS BIGINT) AS hof_sum, "
        f"size(filter(array({arr}), x -> x > {c})) AS nkeep, "
        f"CAST(ROUND(element_at(array_sort(array({arr})), {k}) * 1000) AS BIGINT) AS kth "
        f"FROM lineitem WHERE {pred}"
    )
    duck_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(ROUND(list_sum(list_transform([{arr}], x -> x * {a} + {b})) * 1000) "
        f"AS BIGINT) AS hof_sum, "
        f"CAST(len(list_filter([{arr}], x -> x > {c})) AS INTEGER) AS nkeep, "
        f"CAST(ROUND(list_sort([{arr}])[{k}] * 1000) AS BIGINT) AS kth "
        f"FROM lineitem WHERE {pred}"
    )
    return spark_sql, duck_sql


def _gen_listagg_case(rng: random.Random) -> tuple[str, str]:
    """SQL:2023 LISTAGG / string_agg shapes: DISTINCT ordered-value lists
    and non-distinct ordered aggregation over a filtered subset, with
    random separator and direction — both deterministic because WITHIN
    GROUP / ORDER BY pins element order."""
    sep = rng.choice([",", "|", "-", ";"])
    direction = rng.choice(["ASC", "DESC"])
    group = rng.choice(["o_orderstatus", "o_orderpriority"])
    if rng.random() < 0.5:
        val = "o_orderpriority" if group == "o_orderstatus" else "o_orderstatus"
        spark_sql = (
            f"SELECT {group}, listagg(DISTINCT {val}, '{sep}') "
            f"WITHIN GROUP (ORDER BY {val} {direction}) AS lst, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY {group}"
        )
        duck_sql = (
            f"SELECT {group}, string_agg(DISTINCT {val}, '{sep}' "
            f"ORDER BY {val} {direction}) AS lst, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY {group}"
        )
    else:
        cutoff = rng.randint(400_000, 500_000)
        spark_sql = (
            f"SELECT {group}, listagg(CAST(o_orderkey AS STRING), '{sep}') "
            f"WITHIN GROUP (ORDER BY o_orderkey {direction}) AS lst, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM orders "
            f"WHERE o_totalprice > {cutoff} GROUP BY {group}"
        )
        duck_sql = (
            f"SELECT {group}, string_agg(CAST(o_orderkey AS VARCHAR), '{sep}' "
            f"ORDER BY o_orderkey {direction}) AS lst, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM orders "
            f"WHERE o_totalprice > {cutoff} GROUP BY {group}"
        )
    return spark_sql, duck_sql


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_hof_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(spark_two_tables, duck, *_gen_hof_case(random.Random(51_000 + case_id)))


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_listagg_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(
        spark_two_tables, duck, *_gen_listagg_case(random.Random(52_000 + case_id))
    )


# ---------------------------------------------------------------------------
# Round-6 families (VERDICT r5 #6): lateral joins / UNNEST-style
# compositions, QUALIFY-style window filters, and map-function
# compositions. Lateral(a) is shared-text (both engines parse ANSI
# `, LATERAL (subquery)`); the rest are dialect pairs. The map family
# deliberately gives DuckDB a map-free twin (CASE/arithmetic with the
# same semantics): the subject under test is SPARK's map kernels, and an
# independent formulation is a stronger oracle than the same bug twice.
# ---------------------------------------------------------------------------


def _gen_lateral_case(rng: random.Random) -> tuple[str, str]:
    if rng.random() < 0.5:
        # (a) correlated LATERAL aggregate — identical text on both engines
        cutoff = rng.randint(150_000, 400_000)
        agg_col = rng.choice(NUMERIC_COLS)
        sql = (
            f"SELECT o.o_orderkey, o.o_orderstatus, t.n, t.mx, t.s "
            f"FROM orders o, LATERAL ("
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX({agg_col}) AS mx, "
            f"{_exact_sum(agg_col)} AS s "
            f"FROM lineitem WHERE l_orderkey = o.o_orderkey) t "
            f"WHERE o.o_totalprice > {cutoff}"
        )
        return sql, sql
    # (b) positional array explode: Spark LATERAL VIEW posexplode vs
    # DuckDB's positionally-zipped unnest pair
    pool = [
        "l_quantity",
        "l_extendedprice / 1000",
        "l_discount * 100",
        "l_tax * 100",
        "l_quantity * 2 + 1",
    ]
    arr = ", ".join(rng.sample(pool, 3))
    mod = rng.choice([30, 40, 50, 70])
    spark_sql = (
        f"SELECT l_orderkey, l_linenumber, pos, "
        f"CAST(ROUND(x * 1000) AS BIGINT) AS xv "
        f"FROM lineitem LATERAL VIEW posexplode(array({arr})) t AS pos, x "
        f"WHERE l_orderkey % {mod} = 0"
    )
    duck_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"unnest(generate_series(0, 2)) AS pos, "
        f"CAST(ROUND(unnest([{arr}]) * 1000) AS BIGINT) AS xv "
        f"FROM lineitem WHERE l_orderkey % {mod} = 0"
    )
    return spark_sql, duck_sql


_QUALIFY_TIEBREAK = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_shipdate"
)


def _gen_qualify_case(rng: random.Random) -> tuple[str, str]:
    """QUALIFY-style window filters: DuckDB's native QUALIFY vs Spark's
    subquery-filter formulation of the identical semantics."""
    part = rng.choice(STRING_COLS)
    c = rng.choice(NUMERIC_COLS)
    lit = {"l_quantity": 30, "l_extendedprice": 40000,
           "l_discount": 0.07, "l_tax": 0.06}[c]
    if rng.random() < 0.6:
        fn = rng.choice(["ROW_NUMBER", "RANK", "DENSE_RANK"])
        order = rng.choice(NUMERIC_COLS)
        k = rng.randint(1, 5)
        w = f"PARTITION BY {part} ORDER BY {order} DESC, {_QUALIFY_TIEBREAK}"
        spark_sql = (
            f"SELECT l_orderkey, l_linenumber, rn FROM ("
            f"SELECT l_orderkey, l_linenumber, {fn}() OVER ({w}) AS rn "
            f"FROM lineitem WHERE {c} < {lit}) WHERE rn <= {k}"
        )
        duck_sql = (
            f"SELECT l_orderkey, l_linenumber, {fn}() OVER ({w}) AS rn "
            f"FROM lineitem WHERE {c} < {lit} QUALIFY rn <= {k}"
        )
        return spark_sql, duck_sql
    # windowed-aggregate qualify: rows above their partition average
    spark_sql = (
        f"SELECT l_orderkey, l_linenumber, qv FROM ("
        f"SELECT l_orderkey, l_linenumber, l_quantity, "
        f"ROUND(AVG(l_quantity) OVER (PARTITION BY {part}), 4) AS qv "
        f"FROM lineitem WHERE {c} < {lit}) WHERE l_quantity > qv"
    )
    duck_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"ROUND(AVG(l_quantity) OVER (PARTITION BY {part}), 4) AS qv "
        f"FROM lineitem WHERE {c} < {lit} QUALIFY l_quantity > qv"
    )
    return spark_sql, duck_sql


def _gen_map_case(rng: random.Random) -> tuple[str, str]:
    """Spark map-function compositions (map_from_arrays / element_at /
    map_filter / map_values folds) vs a map-free DuckDB twin computing the
    same values directly."""
    entries = [
        ("q", "l_quantity", 1),
        ("p", "l_extendedprice / 1000", 1000),
        ("d", "l_discount * 100", 1000),
        ("t", "l_tax * 100", 1000),
    ]
    picked = rng.sample(entries, 3)
    keys = ", ".join(f"'{k}'" for k, _, _ in picked)
    vals = ", ".join(v for _, v, _ in picked)
    get_k, get_v, get_u = picked[rng.randint(0, 2)]
    thr = rng.randint(1, 40)
    mod = rng.choice([40, 60, 80])
    m = f"map_from_arrays(array({keys}), array({vals}))"
    spark_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(ROUND(element_at({m}, '{get_k}') * {get_u}) AS BIGINT) AS mv, "
        f"size(map_filter({m}, (k, v) -> v > {thr})) AS nbig, "
        f"CAST(ROUND(aggregate(map_values({m}), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) * 1000) AS BIGINT) AS vsum "
        f"FROM lineitem WHERE l_orderkey % {mod} = 0"
    )
    big_terms = " + ".join(
        f"CASE WHEN {v} > {thr} THEN 1 ELSE 0 END" for _, v, _ in picked
    )
    duck_sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(ROUND(({get_v}) * {get_u}) AS BIGINT) AS mv, "
        f"CAST({big_terms} AS INTEGER) AS nbig, "
        f"CAST(ROUND(({' + '.join(v for _, v, _ in picked)}) * 1000) AS BIGINT) AS vsum "
        f"FROM lineitem WHERE l_orderkey % {mod} = 0"
    )
    return spark_sql, duck_sql


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_lateral_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(
        spark_two_tables, duck, *_gen_lateral_case(random.Random(54_000 + case_id))
    )


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_qualify_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(
        spark_two_tables, duck, *_gen_qualify_case(random.Random(55_000 + case_id))
    )


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_map_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(
        spark_two_tables, duck, *_gen_map_case(random.Random(56_000 + case_id))
    )


_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


def _gen_asof_config(rng: random.Random) -> dict:
    lt, rt = rng.sample(_EVENT_TYPES, 2)
    return {
        "left_type": lt,
        "right_type": rt,
        "direction": rng.choice(["backward", "forward"]),
        # bound the left side so row-level outputs stay comparable-sized
        "left_pred_mod": rng.choice([1, 2, 3, 5]),
    }


@pytest.fixture(scope="module")
def spark_events(spark, sf_dir):
    from fineventstream_spark.catalog import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark


@pytest.mark.parametrize("case_id", range(10))
def test_fuzz_asof_case(case_id, spark_events, duck, sf_dir):
    """Fuzz the asof_join OPERATOR (both directions, random type pairs and
    left subsets) against DuckDB's native ASOF LEFT JOIN. The right side
    is pre-deduplicated to unique (user_id, ts) so tie handling cannot
    differ between the engines."""
    from pyspark.sql import functions as F

    from fineventstream_spark.operators.asof import asof_join

    cfg = _gen_asof_config(random.Random(_SEED_OFFSET + 53_000 + case_id))
    lt, rt, mod = cfg["left_type"], cfg["right_type"], cfg["left_pred_mod"]

    left = spark_events.sql(
        f"SELECT user_id, event_id, ts FROM events "
        f"WHERE event_type = '{lt}' AND event_id % {mod} = 0"
    )
    right = spark_events.sql(
        f"SELECT user_id, ts, ROUND(MAX(value), 4) AS rv FROM events "
        f"WHERE event_type = '{rt}' GROUP BY user_id, ts"
    )
    if cfg["direction"] == "backward":
        joined = asof_join(left, right, "user_id", "ts", "ts", ["rv"])
        duck_cmp = "r.ts <= l.ts"
    else:
        neg = (-F.unix_micros(F.col("ts"))).alias("__nts")
        joined = asof_join(
            left.select("user_id", "event_id", "ts", neg),
            right.select("user_id", "rv", neg),
            "user_id",
            "__nts",
            "__nts",
            ["rv"],
        )
        duck_cmp = "r.ts >= l.ts"
    srows = [
        tuple(r)
        for r in joined.select("user_id", "event_id", "rv_asof").collect()
    ]
    duck_sql = f"""
        WITH l AS (
          SELECT user_id, event_id, ts FROM events
          WHERE event_type = '{lt}' AND event_id % {mod} = 0
        ), r AS (
          SELECT user_id, ts, ROUND(MAX(value), 4) AS rv FROM events
          WHERE event_type = '{rt}' GROUP BY user_id, ts
        )
        SELECT l.user_id, l.event_id, r.rv
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND {duck_cmp}
    """
    drows = duck.execute(duck_sql).fetchall()
    assert len(srows) == len(drows)

    def norm(rows):
        return sorted(
            (tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows),
            key=str,
        )

    assert norm(srows) == norm(drows), f"as-of mismatch for {cfg}"


def _gen_hash_bridge_case(rng: random.Random) -> tuple[str, str]:
    """Portable-hash bridge compositions: the md5-prefix-to-integer
    arithmetic that q_agg_count_min_freq / q_llm_sample_weighted build
    their cross-engine determinism on — Spark's
    conv(substr(md5(CAST(k AS BINARY)), a, b), 16, 10) against DuckDB's
    ('0x' || substr(md5(k), a, b))::BIGINT — fuzzed over random key
    expressions, prefix windows, and moduli, in three shapes: cell
    histogram (GROUP BY + HAVING), global cell stats, and total-order
    top-k by hash value. Any divergence in md5 bytes, hex slicing, int
    parsing, or % semantics breaks a shape."""
    keys = [
        ("CAST(o_orderkey AS STRING)", "CAST(o_orderkey AS VARCHAR)"),
        ("o_orderpriority", "o_orderpriority"),
        (
            "CAST(o_custkey AS STRING) || ':' || o_orderstatus",
            "CAST(o_custkey AS VARCHAR) || ':' || o_orderstatus",
        ),
        (
            "o_orderpriority || '#' || CAST(o_orderdate AS STRING)",
            "o_orderpriority || '#' || CAST(o_orderdate AS VARCHAR)",
        ),
    ]
    skey, dkey = rng.choice(keys)
    if rng.random() < 0.4:
        salt = rng.randint(1, 99)
        skey, dkey = f"{skey} || ':{salt}'", f"{dkey} || ':{salt}'"
    a = rng.randint(1, 3)
    b = rng.randint(4, 13)
    w = rng.choice([7, 64, 97, 256, 513, 1024])
    scell = f"CAST(conv(substring(md5(CAST({skey} AS BINARY)), {a}, {b}), 16, 10) AS BIGINT) % {w}"
    dcell = f"CAST(('0x' || substr(md5({dkey}), {a}, {b})) AS BIGINT) % {w}"
    pred = f"o_orderkey % {rng.randint(3, 9)} = 0"
    shape = rng.randrange(3)
    if shape == 0:
        h = rng.randint(1, 4)
        spark_sql = (
            f"SELECT {scell} AS cell, CAST(COUNT(*) AS BIGINT) AS n FROM orders "
            f"WHERE {pred} GROUP BY cell HAVING COUNT(*) > {h}"
        )
        duck_sql = (
            f"SELECT {dcell} AS cell, CAST(COUNT(*) AS BIGINT) AS n FROM orders "
            f"WHERE {pred} GROUP BY cell HAVING COUNT(*) > {h}"
        )
    elif shape == 1:
        spark_sql = (
            f"SELECT MIN({scell}) AS lo, MAX({scell}) AS hi, "
            f"CAST(SUM({scell}) AS BIGINT) AS s, "
            f"CAST(COUNT(DISTINCT {scell}) AS BIGINT) AS nd "
            f"FROM orders WHERE {pred}"
        )
        duck_sql = (
            f"SELECT MIN({dcell}) AS lo, MAX({dcell}) AS hi, "
            f"CAST(SUM({dcell}) AS BIGINT) AS s, "
            f"CAST(COUNT(DISTINCT {dcell}) AS BIGINT) AS nd "
            f"FROM orders WHERE {pred}"
        )
    else:
        k = rng.randint(10, 60)
        spark_sql = (
            f"SELECT o_orderkey, {scell} AS cell FROM orders WHERE {pred} "
            f"ORDER BY cell, o_orderkey LIMIT {k}"
        )
        duck_sql = (
            f"SELECT o_orderkey, {dcell} AS cell FROM orders WHERE {pred} "
            f"ORDER BY cell, o_orderkey LIMIT {k}"
        )
    return spark_sql, duck_sql


@pytest.mark.parametrize("case_id", range(12))
def test_fuzz_hash_bridge_case(case_id, spark_two_tables, duck, sf_dir):
    _run_pair_case(
        spark_two_tables,
        duck,
        *_gen_hash_bridge_case(random.Random(_SEED_OFFSET + 97_000 + case_id)),
    )


@pytest.mark.parametrize("case_id", range(6))
def test_fuzz_rolling_equivalence_case(case_id, spark_events, sf_dir, monkeypatch):
    """Fresh-seed equivalence fuzz of the size-selected rolling family
    (r8 verdict ask #8): random trailing-frame sums (with_trailing_sums,
    checked against the plain sliding window too) and running-prefix
    (with_distributed_prefix) specs over events, the DISTRIBUTED form
    (threshold 0) vs the SERIAL per-key window (threshold huge) on
    identical input. The compare is ENGINE-SIDE (row counts + one-sided
    exceptAll) so the check scales to sf30, where the distributed paths
    engage naturally; values are exact integer cents, so equality is
    bit-level, not tolerance-based."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import load_table
    from fineventstream_spark.operators import rolling
    from fineventstream_spark.operators.rolling import (
        with_distributed_prefix,
        with_trailing_sums,
    )

    rng = random.Random(_SEED_OFFSET + 61_000 + case_id)
    spark = spark_events
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    order_cols = ["ts", "event_id"]  # unique total order within a user
    plain = None
    if rng.random() < 0.5:
        frame = rng.choice([1, 2, 3, 5, 8, 13, 100])
        kind = "trailing sum"

        def run(threshold):
            monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_INPUT_BYTES", threshold)
            return with_trailing_sums(
                ev, ["user_id"], order_cols, frame, {"out": "cents"}, n_col="n"
            )

        w = Window.partitionBy("user_id").orderBy(*order_cols)
        plain = ev.select(
            *ev.columns,
            F.sum("cents").over(w.rowsBetween(-(frame - 1), 0)).alias("out"),
            F.count("*").over(w.rowsBetween(-(frame - 1), 0)).alias("n"),
        )
    else:
        kind = rng.choice(["sum", "max", "min"])

        def run(threshold):
            return with_distributed_prefix(
                ev, ["user_id"], order_cols, {"out": (kind, "cents")},
                serial_below_bytes=threshold,
            )

    serial = run(1 << 60)
    dist = run(0)
    n_serial, n_dist = serial.count(), dist.count()
    assert n_serial == n_dist, f"row counts diverge: {n_serial} vs {n_dist}"
    # counts equal + one-sided multiset difference empty ⇒ multisets equal
    assert dist.exceptAll(serial).count() == 0, (
        f"case {case_id}: distributed {kind} diverges from serial window"
    )
    if plain is not None:
        assert serial.exceptAll(plain).count() == 0, (
            f"case {case_id}: trailing sums diverge from the sliding window"
        )


@pytest.mark.parametrize("case_id", range(4))
def test_fuzz_skew_split_sum_frames_case(case_id, spark_events, sf_dir, monkeypatch):
    """Fresh-seed equivalence fuzz of the r10 hot/cold split window
    (skew_split_sum_frames): random frame widths, the SPLIT form (1-byte
    per-partition budget → every key routes through the salted bucketed
    branch with carry scalars) vs the PLAIN per-key window (budget
    disabled) on identical input. Engine-side compare; integer cents ⇒
    bit-level equality across routes — the invariant that lets the
    router switch freely without touching oracle hashes."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import load_table
    from fineventstream_spark.operators import rolling

    rng = random.Random(_SEED_OFFSET + 62_000 + case_id)
    spark = spark_events
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    frame = rng.choice([2, 3, 4, 7])

    def run(budget):
        monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_PARTITION_BYTES", budget)
        return rolling.skew_split_sum_frames(
            ev, ["user_id"], ["ts", "event_id"], frame, "cents",
            out_cols=("ss", "sc", "rs"),
        )

    plain = run(0)
    split = run(1)
    n_plain, n_split = plain.count(), split.count()
    assert n_plain == n_split, f"row counts diverge: {n_plain} vs {n_split}"
    assert split.exceptAll(plain).count() == 0, (
        f"case {case_id}: split frame-{frame} diverges from plain window"
    )
