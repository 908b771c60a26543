#!/usr/bin/env python
"""Time the DuckDB oracle twins of bench.py's headline queries at a given
scale dir — the other half of the Spark-vs-DuckDB scaling curve
(round-3 VERDICT: measure where the per-row ratio settles as sf grows;
at sf0.1 Spark's constant per-query JVM overhead dominates).

Prints one JSON line mirroring bench.py's shape:
  {"metric": "duckdb_twin_total_sec", "value": N, "queries": {...},
   "sf": "...", "n_queries": K, "skipped": [names not registered]}

Methodology matches bench.py: 32 threads, each query executed to
completion (fetchall), best-of-reps until the two fastest agree within
30% (cap 4).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from fineventstream_spark.catalog import TABLES
from fineventstream_spark.registry import all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    con = duckdb.connect()
    con.execute(f"SET threads={int(os.environ.get('SPARK_GRAFT_CPUS', '32'))}")
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # Solo mode (mirrors bench.py): `python bench_duckdb.py q_a q_b` runs
    # only the named twins with a min-of-3 floor — the matched other half
    # of a single-query Spark solo re-measure.
    solo = sys.argv[1:]
    names = list(solo) if solo else list(HEADLINE)
    min_reps = 3 if solo else 2
    registry = all_queries()
    timings: dict[str, float] = {}
    skipped: list[str] = []
    total = 0.0
    for name in names:
        q = registry.get(name)
        if q is None:
            skipped.append(name)
            continue
        runs: list[float] = []
        while True:
            t0 = time.perf_counter()
            con.execute(q.oracle).fetchall()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= min_reps:
                lo, lo2 = sorted(runs)[:2]
                if lo2 <= 1.3 * lo or len(runs) >= 4:
                    break
        dt = round(min(runs), 3)
        timings[name] = dt
        total += dt
        print(f"# {name}: {dt}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "duckdb_twin_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": os.path.basename(os.path.normpath(SF_DIR)),
                "n_queries": len(timings),
                "skipped": skipped,
            }
        )
    )


if __name__ == "__main__":
    main()
