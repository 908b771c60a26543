"""Preparation of the ``lake_analytics`` inputs in a checkout.

Generates the lake once under ``.perfbench/`` with the repository's own
fixture generator (``scripts/gen_sf.py``, seed 42), then, in every
measured run, builds any missing ``.cache/`` derivative the engine reads.
Both happen in a Spark process of its own before the measured process
starts its clock, so no measured run pays a cold derivative build (22 s
on a fresh tree against 2 s on a built one, 4 cores): not after the
``.cache/`` tree was removed, and not after a change to the engine added
a derivative. The last cold build time is kept in the marker file and
reported as ``catalog.derive_cold_s``.

    python3 -m perfbench.prepare            # prepare (the lake only once)
    python3 -m perfbench.prepare --record   # also rewrite expected.json
"""

from __future__ import annotations

import argparse
import fcntl
import importlib.util
import json
import os
import subprocess
import sys
import time

from perfbench import lake

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
LAKE_DIR = os.path.join(WORK, lake.DATA_NAME)
CACHE_DIR = os.path.join(ROOT, ".cache", lake.DATA_NAME)  # where the engine keeps the derivatives
MARKER = os.path.join(LAKE_DIR, "_PREPARED.json")
GEN_SF = os.path.join(ROOT, "scripts", "gen_sf.py")
DATA_SEED = 42  # the seed of the engine's reference fixtures; expected.json describes this lake


def ensure() -> dict:
    """Prepare the checkout; return the marker's contents."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "prepare.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        # stdout is the measured run's result channel
        subprocess.run([sys.executable, "-m", "perfbench.prepare"], cwd=ROOT, stdout=sys.stderr,
                       env=os.environ.copy(), check=True, timeout=850)
    with open(MARKER) as fh:
        return json.load(fh)


def generate() -> None:
    spec = importlib.util.spec_from_file_location("gen_sf", GEN_SF)
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    gen_sf.generate(lake.SF, LAKE_DIR, seed=DATA_SEED)


def record(spark) -> None:
    """Rewrite expected.json: the DuckDB oracle's result digest for every
    query, cross-checked against the engine's own result."""
    import duckdb

    from fineventstream_spark.registry import all_queries

    registry = all_queries()
    con = duckdb.connect()
    for table in lake.TABLES:
        path = os.path.join(LAKE_DIR, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    out, mismatched = {}, []
    for name in lake.QUERIES:
        q = registry[name]
        df = q.fn(spark, LAKE_DIR)
        got = lake.digest(df.columns, df.collect())
        spark.catalog.clearCache()
        if q.oracle:
            rel = con.execute(q.oracle)
            out[name] = lake.digest([d[0] for d in rel.description], rel.fetchall())
            if out[name] != got:
                mismatched.append(name)
        else:
            out[name] = got
        print(f"# {name}: {out[name]}", file=sys.stderr)
    with open(lake.EXPECTED, "w") as fh:
        json.dump({"sf": lake.SF, "source": "duckdb oracle_sql, engine result where none",
                   "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if mismatched:
        raise SystemExit(f"engine result differs from the oracle: {mismatched}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    from fineventstream_spark.queries.scans import prewarm_derivatives
    from fineventstream_spark.session import get_spark

    marker = {}
    cold = not os.path.isdir(CACHE_DIR)
    if os.path.exists(MARKER):
        with open(MARKER) as fh:
            marker = json.load(fh)
    else:
        t0 = time.perf_counter()
        generate()
        marker["gen_s"] = time.perf_counter() - t0
        cold = True  # derivatives are keyed by the source files' fingerprint
    spark = get_spark(app_name="perfbench-prepare")
    try:
        t0 = time.perf_counter()
        prewarm_derivatives(spark, LAKE_DIR)
        if cold:
            marker["derive_cold_s"] = time.perf_counter() - t0
        if args.record:
            record(spark)
    finally:
        spark.stop()
    with open(MARKER + ".tmp", "w") as fh:
        json.dump(marker, fh)
    os.replace(MARKER + ".tmp", MARKER)


if __name__ == "__main__":
    main()
