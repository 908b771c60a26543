"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All declared queries live in the package registry
(``fineventstream_spark.registry``) — one source of truth shared by this
contract file, the pytest differential suite, and bench.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package beside this file, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"


def _registry():
    from fineventstream_spark.registry import all_queries

    return all_queries()


def _pin_confs(spark: SparkSession) -> None:
    """Defensive: the driver may hand us a session without our configs,
    and with Python workers that cannot import the package."""
    from fineventstream_spark.session import PACKAGE_PARENT, SESSION_SQL_CONFS

    for key, value in SESSION_SQL_CONFS:
        spark.conf.set(key, value)
    # a running session takes no executorEnv conf; Python functions built
    # from here on carry the context's environment to their workers
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_PARENT])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the as-of join (latest click value at-or-before each
    purchase, per user) — the quotes↔news query the reference's lake is
    shaped for, via the union+window single-shuffle formulation."""
    _pin_confs(spark)
    return _registry()["q_join_asof"].fn(spark, SF_SMOKE)


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_confs(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _wrap(q.fn) for name, q in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every declared query."""
    return {name: q.oracle for name, q in _registry().items()}
