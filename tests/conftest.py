from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fineventstream_spark.catalog import TABLES
from fineventstream_spark.session import get_spark

# sf0.001 keeps the suite fast for iteration; CI/driver parity runs use
# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The at-scale side of every size gate: each threshold constant set so the
# fixture-sized inputs take the branch a lake-sized input would. Serial
# windows, broadcast hints, driver union-find and the exact phi GROUP BY
# are off; the pre-kernel spread, the per-partition window budget and the
# bucket-skew routing trip on any input.
AT_SCALE = {
    "fineventstream_spark.operators.rolling.SERIAL_WINDOW_MAX_INPUT_BYTES": 0,
    "fineventstream_spark.operators.rolling.SERIAL_WINDOW_MAX_PARTITION_BYTES": 1,
    "fineventstream_spark.operators.sizing.BROADCAST_MAX_INPUT_BYTES": 0,
    "fineventstream_spark.operators.sizing.KERNEL_SPREAD_MAX_INPUT_BYTES": 1,
    "fineventstream_spark.operators.bucketed.SKEW_RATIO_THRESHOLD": 1e-6,
    "fineventstream_spark.operators.cluster.CC_LOCAL_MAX_EDGES": 0,
    "fineventstream_spark.operators.frequent.PHI_EXACT_MAX_INPUT_BYTES": 0,
}


@pytest.fixture(scope="session")
def spark():
    # 8 cores / 8g keeps parallel pytest invocations friendly; large-sf
    # sweeps override via env (SPARK_GRAFT_TEST_CPUS=32 halves the sf1
    # suite wall time)
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    mem = os.environ.get("SPARK_GRAFT_TEST_MEM", "8g")
    s = get_spark(app_name="fes-tests", cpus=cpus, driver_memory=mem)
    yield s


@pytest.fixture
def at_scale(spark, monkeypatch):
    """Run the test on the at-scale side of every size gate, with Spark's
    own size-based broadcast off as well."""
    for target, value in AT_SCALE.items():
        monkeypatch.setattr(target, value)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
