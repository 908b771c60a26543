#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line (bounded — see compact_result):
  {"metric": "total_headline_sec", "value": N, "unit": "sec",
   "queries": {...}, "queries_cold": {...}, "persist_bearing": [...],
   "order_seed": N, "sf": "...", "n_queries": N, "n_failed": N}
The full result (order map, cold disagreements, failure detail and the
per-query "layers") is written to BENCH_LOCAL_r<N>.json.

"queries" holds min-of-reps; "queries_cold" the first rep. For queries
whose plan persist()s an intermediate (detected mechanically, listed in
"persist_bearing"), the headline total counts the COLD rep — min-of-reps
would read the warm cache while every other query pays per-rep cost
(r8 verdict #5). The headline order is shuffled per sweep with the
recorded "order_seed" (pin via SPARK_GRAFT_BENCH_SEED) so the in-suite
positional tax lands on different queries each sweep instead of biasing
fixed victims (r8 verdict #7).

Methodology: one shared SparkSession (local[$SPARK_GRAFT_CPUS]); each query
is planned + executed to completion via a count-collapsing action that still
computes full results (``df.write.format("noop")`` — materializes every row,
no sink cost, no driver collect). Warm-up run excluded per query? No — the
driver wants honest cold numbers; we warm only the JVM/session with one
trivial action, which a long-running cluster would have amortized anyway.

Every rep runs through perfbench's traced query (``Tracer``), so this
harness and ``perfbench`` read the same probes. "layers" maps each query
to the layer split of its counted rep (the min rep, or the counted cold
rep of a persist-bearing query): ``construct_s``, ``catalyst.*``,
``execute.*``, ``python.*``, ``py4j_calls`` and ``eager_jobs``. The rep
wall the headline counts is ``construct_s + execute.wall_s``.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fineventstream_spark.registry import all_queries
from fineventstream_spark.session import get_spark
from perfbench import lake, probes

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the heavy/representative operators (scan+agg, joins incl
# as-of, windows, dedup families, knn, text) — not the trivial projections.
# Order note: round 1's driver run charged ~18 s of residual warm-up to
# whichever queries ran first (q_agg_groupby_basic 6.5 s vs 0.5 s steady
# state), so light queries lead and the heavy aggregates run later; the
# table-touching warm pass below removes the cold-page-cache component.
HEADLINE = [
    "q_limit_topk",
    "q_llm_text_stats",
    "q_scan_partition_prune",
    "q_dedup_highwater",
    "q_stream_tumbling",
    "q_agg_groupby_basic",
    "q_agg_stats",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_asof",
    "q_win_rank",
    "q_win_frame_rows",
    "q_llm_dedup_exact",
    "q_llm_dedup_near",
    "q_llm_knn_cosine",
    "q_llm_dedup_cluster",
    "q_subquery_correlated",
    "q_dq_violations",
    "q_news_lookback",
    "q_report_nation_volume",
    "q_report_order_priority",
    "q_event_ohlc_bars",
    "q_llm_pack_sequences",
    "q_upsert_latest",
    "q_report_pricing_summary",
    "q_report_shipping_priority",
    # round-3 additions: TPC-H completion + incremental rollup
    "q_report_min_cost_supplier",
    "q_report_product_profit",
    "q_report_important_stock",
    "q_report_ship_priority_split",
    "q_report_supplier_part_count",
    "q_report_dominant_supplier",
    "q_rollup_incremental",
    "q_event_vwap",
    "q_event_twap",
    "q_event_resample_ffill",
    "q_event_rolling_zscore",
    "q_event_correlation",
    "q_scan_orc",
    "q_llm_substring_dedup",
    "q_event_drawdown",
    "q_event_volatility",
    "q_join_asof_forward",
    "q_event_gap_detection",
    # round-4 additions: mergeable-sketch analytics + count-only token scan
    "q_agg_kll_quantile_rollup",
    "q_event_theta_overlap",
    "q_llm_token_count",
    # round-7 addition: MG-candidate heavy hitters (Python candidate pass
    # + candidate-broadcast exact verify)
    "q_event_heavy_hitters",
    # round-7 additions: relational Count-Min sketch (the only exactly-
    # oracled sketch) and A-Res weighted sampling (TakeOrdered, 0 exchanges)
    "q_agg_count_min_freq",
    "q_llm_sample_weighted",
    "q_agg_approx_topk_rollup",
    "q_llm_bm25",
    # round-12 addition: incremental shard-vs-store near-dedup (the
    # production daily-ingest form; store build amortizes via .cache)
    "q_llm_dedup_incremental",
]


class Tracer:
    """Times reps through perfbench's traced query, one probe set per sweep.

    ``rep`` returns the rep's wall (building the DataFrame, then executing
    it in full through the noop sink; the Catalyst probe and the
    status-store reads run outside it) and its layers.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans = probes.Spans()
        self.counter = probes.Py4jCounter(spark.sparkContext._gateway._gateway_client)
        self.sql = probes.SqlExecutions(spark)
        self.reps = 0

    def rep(self, query, sf_dir: str) -> tuple[float, dict]:
        self.reps += 1
        got = lake._traced_query(self.spark, self.spans, query, sf_dir, self.reps,
                                 self.counter, self.sql)
        wall = got.pop("wall_s")
        got["execute.wall_s"] = got.pop("exec_s")
        return wall, {k: round(v, 4) for k, v in sorted(got.items())}

    def close(self) -> None:
        self.counter.close()


# Keys the ONE-LINE stdout JSON keeps (r15, r14 verdict #2): the r13 driver
# artifact lost its per-query map because the full line (5,022 bytes with
# the 53-entry "order" map and "cold_disagreement") outgrew the driver's
# ~4 KB tail capture and the head of the line was truncated away. The
# printed line now carries the contract fields plus per-query min + cold
# ONLY; the complete result (order map, cold disagreements, failures
# detail) still lands in BENCH_LOCAL_r<N>.json. Additions-only: no key in
# the driver contract is renamed or removed, and "queries" entries are
# unchanged. A test pins the line under 4 KB for the current headline set.
_COMPACT_KEYS = (
    "metric",
    "value",
    "unit",
    "queries",
    "queries_cold",
    "persist_bearing",
    "order_seed",
    "sf",
    "n_queries",
    "n_failed",
    "total_is_partial",
)


# Hard byte budget for the printed line: the r13 driver capture held
# ~4 KB; stay under it with margin. Contract fields (metric/value/unit/
# queries/sf + the failure markers) are never shed — only the added
# diagnostics, which remain complete in BENCH_LOCAL_r<N>.json.
LINE_BUDGET_BYTES = 4000


def compact_result(result: dict) -> dict:
    """The bounded subset of ``result`` printed as the one-line JSON.

    If the compact form still exceeds LINE_BUDGET_BYTES (e.g. a
    pathological sweep where most queries turn persist-bearing, fattening
    both the persist_bearing list and queries_cold), shed the added
    diagnostics in order of redundancy: first restrict queries_cold to
    the persist-bearing queries (elsewhere cold is a near-duplicate of
    the min), then drop it entirely. "queries" entries are NEVER removed
    or renamed (driver contract).
    """
    compact = {k: result[k] for k in _COMPACT_KEYS if k in result}
    if len(json.dumps(compact)) > LINE_BUDGET_BYTES and "queries_cold" in compact:
        bearing = set(compact.get("persist_bearing", ()))
        compact["queries_cold"] = {
            k: v for k, v in compact["queries_cold"].items() if k in bearing
        }
    if len(json.dumps(compact)) > LINE_BUDGET_BYTES:
        compact.pop("queries_cold", None)
    return compact


def main() -> None:
    # Solo mode (VERDICT r4 methodology): `python bench.py q_a q_b` runs
    # only the named queries with a MIN-OF-3 floor instead of the adaptive
    # 2-concordant rule — the documented way to verify a single query's
    # regression/recovery without co-tenant noise from the full sweep.
    # The driver's no-arg invocation is unchanged.
    solo = sys.argv[1:]
    headline = list(solo) if solo else list(HEADLINE)
    min_reps = 3 if solo else 2
    # Seeded order shuffle (r8 verdict #7): in-suite timings carry a
    # POSITIONAL tax (whoever runs late pays accumulated block-manager/GC
    # pressure — observed 2× on zscore at sf60). A fixed order pins that
    # tax to the same queries every sweep; a per-sweep seeded shuffle
    # spreads it uniformly, making round-over-round in-suite totals
    # honest. The seed is recorded (and pinnable via
    # SPARK_GRAFT_BENCH_SEED) so any sweep is reproducible. Solo runs
    # keep their explicit order.
    import random

    seed_env = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    order_seed = int(seed_env) if seed_env else int.from_bytes(os.urandom(4), "big")
    if not solo:
        random.Random(order_seed).shuffle(headline)
    registry = all_queries()
    spark = get_spark(app_name="fes-bench")
    # Warm-up (not query work): JVM codegen compiler + the Python worker
    # pool (fork + pandas/numpy import per core — a cluster's long-lived
    # executors amortize this; cold-forking 32 workers inside a measured
    # query would charge ~8 s of import time to whichever query runs first)
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def _warm(s: pd.Series) -> pd.Series:
            return s

        lake.materialize(spark.range(10_000).repartition(64).select(_warm("id")))
        # Warm the OS page cache + parquet footers for every input table: the
        # first scan of a ~100 MB table otherwise pays cold disk reads that a
        # long-running cluster never sees, charged to whichever query runs
        # first (observed: 6.5 s vs 0.5 s steady state on the same query).
        for tbl in ("lineitem", "orders", "customer", "nation",
                    "part", "supplier", "region",
                    "events", "documents", "embeddings"):
            p = os.path.join(SF_DIR, f"{tbl}.parquet")
            if os.path.exists(p):
                lake.materialize(spark.read.parquet(p))
        # Materialize .cache/ derivatives (JSONL/CSV/ORC/partitioned copies)
        # so no timed query pays a one-off derivative build: the round-3
        # driver bench charged the partitioned-events rebuild to
        # q_scan_partition_prune (0.74 s recorded vs 0.40 s solo). On a real
        # lake these derivatives ARE the lake — building them is ingest
        # work, not query work.
        from fineventstream_spark.queries.scans import prewarm_derivatives

        prewarm_derivatives(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort
        print(f"# warm-up failed (continuing cold): {exc}", file=sys.stderr)

    tracer = Tracer(spark)
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    cold_timings: dict[str, float] = {}
    persist_bearing: list[str] = []
    cold_disagreement: dict[str, list[float]] = {}
    failures: dict[str, str] = {}
    total = 0.0
    for name in headline:
        q = registry.get(name)
        if q is None:
            failures[name] = "not in registry"
            continue
        # Fault isolation (round-2 lesson: ONE failing query aborted the
        # whole run and the round recorded zero numbers): each query runs
        # inside its own try/except; a failure is recorded and the loop
        # continues, so the emitted JSON line always exists.
        #
        # Adaptive repetition: the first run includes plan compilation
        # (amortized on any long-lived cluster) and this host shows
        # sustained co-tenant contention windows that can span several
        # reps (observed: 9.1 s recorded vs 1.9 s steady state on the
        # same query minutes apart). Keep sampling until the two fastest
        # reps agree within 30% — a recorded time then has two concordant
        # witnesses — capped at 4 reps.
        runs: list[tuple[float, dict]] = []
        # snapshot BEFORE the query: unpersist from the previous query's
        # clearCache is async, so a leftover entry must not flag THIS
        # query as persist-bearing (observed: order-dependent false
        # positive on q_agg_stats in the r9 two-seed sf30 sweeps)
        rdds_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        try:
            while True:
                runs.append(tracer.rep(q, SF_DIR))
                if len(runs) >= min_reps:
                    lo, lo2 = sorted(w for w, _ in runs)[:2]
                    if lo2 <= 1.3 * lo or len(runs) >= 4:
                        break
        except Exception as exc:  # noqa: BLE001 — isolate per query
            msg = f"{type(exc).__name__}: {exc}"
            failures[name] = msg[:500]
            print(f"# {name}: FAILED {msg.splitlines()[0][:200]}", file=sys.stderr)
            continue
        best = min(runs, key=lambda r: r[0])
        dt = round(best[0], 3)
        timings[name] = dt
        cold_timings[name] = round(runs[0][0], 3)
        counted = best
        # Persist-bearing plans (r8 verdict #5): when a query persist()s an
        # intermediate, later reps read the cache and min-of-reps reports
        # WARM steady-state while every other query pays per-rep cost. The
        # honest headline number for those queries is the first (cold) rep.
        # Detection is mechanical — any NEW RDD persisted since the
        # pre-query snapshot (a plain emptiness check misfires when the
        # previous query's async unpersist hasn't completed).
        rdds_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        is_persist_bearing = bool(rdds_after - rdds_before)
        if is_persist_bearing:
            persist_bearing.append(name)
            # COLD-OF-2 (r9 advisor): rep 1 alone was a single witness while
            # every other headline number needs two concordant reps — one
            # co-tenant spike on rep 1 landed unchallenged in the total.
            # Re-run once from a cleared cache and take the min; flag >30%
            # disagreement so a noisy cold pair is visible in the JSON.
            spark.catalog.clearCache()
            counted = runs[0]
            try:
                cold2 = tracer.rep(q, SF_DIR)
            except Exception:  # noqa: BLE001 — keep the rep-1 witness
                cold2 = None
            if cold2 is not None:
                pair = [round(runs[0][0], 3), round(cold2[0], 3)]
                if max(pair) > 1.3 * min(pair):
                    cold_disagreement[name] = pair
                cold_timings[name] = min(pair)
                counted = min(runs[0], cold2, key=lambda r: r[0])
            total += cold_timings[name]
        else:
            total += dt
        layers[name] = counted[1]
        tag = " (cold counted)" if is_persist_bearing else ""
        print(f"# {name}: {dt}s cold={cold_timings[name]}s{tag}", file=sys.stderr)
        # Per-query cache hygiene: every rep of a persist()-ing query
        # registers a fresh InMemoryRelation (Python UDF expressions never
        # canonicalize equal, so reps don't share entries) and nobody
        # unpersists — by mid-suite the block manager holds GBs of dead
        # cached blocks whose GC/eviction pressure taxes LATER queries
        # (observed: q_llm_dedup_cluster 10.9 s in-suite vs 2.5 s solo at
        # sf1). Clearing between queries makes each recorded number the
        # query's own cost, the same isolation the solo method has.
        spark.catalog.clearCache()
    tracer.close()

    result = {
        "metric": "total_headline_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold_timings,
        "persist_bearing": persist_bearing,
        "cold_disagreement": cold_disagreement,
        "layers": layers,
        "order_seed": order_seed,
        "order": {n: i for i, n in enumerate(headline)},
        "sf": os.path.basename(os.path.normpath(SF_DIR)),
        "n_queries": len(timings),
        "n_failed": len(failures),
    }
    if failures:
        # a total over a SUBSET of the headline set is not comparable to a
        # green round's total — mark it so a failing round can never read
        # as a speedup
        result["failures"] = failures
        result["total_is_partial"] = True
    # Durable artifact (r12 verdict #7): the driver's BENCH_r{N}.json
    # truncates the per-query map (~9 of 53 timings recoverable in r12),
    # so cross-round per-query comparison depended on BASELINE.md prose.
    # Persist the COMPLETE result to a repo-tracked file. The round is
    # inferred as max(BENCH_r*.json)+1 (the driver writes its artifact
    # AFTER running bench), overridable via SPARK_GRAFT_ROUND. Solo runs
    # (explicit query args) don't overwrite the sweep artifact.
    if not solo:
        import glob as _glob
        import re as _re

        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        # a malformed env value must never crash AFTER the sweep ran and
        # BEFORE the result JSON prints (r13 review) — fall back to the
        # artifact scan instead
        if not rnd or not rnd.isdigit():
            seen = [
                int(m.group(1))
                for f in _glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json"))
                if (m := _re.search(r"BENCH_r(\d+)\.json$", f))
            ]
            rnd = str(max(seen, default=0) + 1)
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL_r{int(rnd):02d}.json"
        )
        try:
            with open(local_path, "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError as exc:
            print(f"# could not write {local_path}: {exc}", file=sys.stderr)
    # failure DETAIL (per-query messages, unbounded length) stays in the
    # LOCAL artifact; the printed line keeps the n_failed count and the
    # total_is_partial marker so a failing round still can't read as a
    # speedup (query names of failures are recoverable from the missing
    # "queries" entries).
    print(json.dumps(compact_result(result)))


if __name__ == "__main__":
    main()
