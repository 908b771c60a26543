"""``lake_analytics``: the read side of the lake, closed loop, one client.

A pinned list of registered queries runs back to back through a noop
write. Set-up ends with two untimed warm-up passes; the first collects
every result and checks it against ``expected.json``. The timed phase
then runs whole passes until ``--seconds`` have elapsed. The inputs are a
fixed fixture and a fixed query order, so the seed changes nothing here.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import statistics
import time

from perfbench import probes

SF = 0.01
DATA_NAME = "perfbench_sf0.01"  # the engine keys its .cache/ derivatives by this name

# A pinned slice of the engine's headline query list: the five per-query
# cost centres ROADMAP names, then ten cheap queries, one or two per
# operator family. The cheap ones take 0.15-0.4 s each, so the median
# per-query wall falls inside a dense cluster and does not jump between
# two distant queries. The whole 53-query headline list takes about 30 s
# per warm pass on 4 cores at this scale, which does not fit a run;
# q_llm_dedup_incremental alone (18 jobs, 5.6 s warm) would be half of
# this pass.
QUERIES = (
    "q_llm_dedup_near",
    "q_event_rolling_zscore",
    "q_agg_kll_quantile_rollup",
    "q_agg_stats",
    "q_join_asof_forward",
    "q_agg_groupby_basic",
    "q_report_pricing_summary",
    "q_event_vwap",
    "q_llm_knn_cosine",
    "q_event_heavy_hitters",
    "q_win_rank",
    "q_subquery_correlated",
    "q_upsert_latest",
    "q_scan_partition_prune",
    "q_llm_dedup_exact",
)
SPOTLIGHT = QUERIES[:5]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _norm(v):
    """One result cell in the form both engines agree on."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6) + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(columns: list[str], rows) -> dict:
    """Row count and order-insensitive hash of normalized rows, columns
    aligned by lower-cased name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(repr(tuple(_norm(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "hash": h.hexdigest()[:16]}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from fineventstream_spark.queries.scans import prewarm_derivatives
    from fineventstream_spark.registry import all_queries

    spark, sf_dir, spans = ctx.spark, ctx.lake_dir, ctx.spans
    registry = all_queries()
    # A fixed order: with a seeded one, the median per-query wall moved by
    # up to 30 % between seeds with where the three heavy queries fell (the
    # light queries that follow a heavy one run slower).
    order = QUERIES
    with open(EXPECTED) as fh:
        expected = json.load(fh)["queries"]

    with spans.span("catalog.prewarm"):
        prewarm_derivatives(spark, sf_dir)

    attempted = failed = 0
    with spans.span("session.warm"):
        for name in order:
            attempted += 1
            try:
                df = registry[name].fn(spark, sf_dir)
                got = digest(df.columns, df.collect())
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                ctx.log(f"{name}: warm-up FAILED {type(exc).__name__}: {str(exc)[:200]}")
                failed += 1
                continue
            finally:
                spark.catalog.clearCache()
            if got != expected.get(name):
                ctx.log(f"{name}: result {got} != expected {expected.get(name)}")
                failed += 1
        # a second, unchecked pass: the first timed pass is otherwise still
        # about 15 % slower than later ones (JIT compilation)
        for name in order:
            try:
                materialize(registry[name].fn(spark, sf_dir))
            except Exception:  # noqa: BLE001 — counted when the timed pass fails too
                pass
            finally:
                spark.catalog.clearCache()
    ctx.setup_done()

    sc = spark.sparkContext
    counter = probes.Py4jCounter(sc._gateway._gateway_client) if ctx.trace else None
    sql = probes.SqlExecutions(spark) if ctx.trace else None
    layer: dict[str, float] = {}
    per_query: dict[str, dict[str, float]] = {n: {} for n in SPOTLIGHT}
    latencies: list[float] = []
    passes = 0
    t_start = time.perf_counter()
    with spans.span("timed"):
        while passes == 0 or time.perf_counter() - t_start < ctx.seconds:
            passes += 1
            for name in order:
                attempted += 1
                try:
                    if ctx.trace:
                        got = _traced_query(spark, spans, registry[name], sf_dir, passes,
                                            counter, sql)
                        latencies.append(got.pop("wall_s"))
                        for k, v in got.items():
                            layer[k] = layer.get(k, 0.0) + v
                        if name in per_query:
                            for k in ("construct_s", "exec_s", "py4j_calls"):
                                per_query[name][k] = per_query[name].get(k, 0.0) + got[k]
                    else:
                        t0 = time.perf_counter()
                        materialize(registry[name].fn(spark, sf_dir))
                        latencies.append(time.perf_counter() - t0)
                        ctx.log(f"{name}: {latencies[-1]:.3f} s")
                except Exception as exc:  # noqa: BLE001
                    ctx.log(f"{name}: FAILED {type(exc).__name__}: {str(exc)[:200]}")
                    failed += 1
                finally:
                    spark.catalog.clearCache()
    wall = time.perf_counter() - t_start
    ctx.timed_done()
    if counter:
        counter.close()

    metrics = {
        "throughput_per_s": (len(latencies) / wall, "1/s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
    }
    ctx.log(f"timed: {passes} passes, {len(latencies)} queries in {wall:.2f} s")
    if ctx.trace:
        metrics.update(_layer_metrics(layer, per_query, passes))
        metrics["catalog.prewarm_s"] = (spans.total("catalog.prewarm"), "s")
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def _traced_query(spark, spans, query, sf_dir, pass_no, counter, sql) -> dict:
    """One query with a span per layer: construct, Catalyst, execute."""
    sc = spark.sparkContext
    group = f"{query.name}#{pass_no}"
    sql.mark()
    with spans.span("query", query=query.name, pass_no=pass_no):
        sc.setJobGroup(f"c:{group}", query.name)
        calls0 = counter.calls
        with spans.span("construct") as construct:
            df = query.fn(spark, sf_dir)
        calls = counter.calls - calls0
        sc.setJobGroup(f"x:{group}", query.name)
        with spans.span("catalyst"):
            phases = probes.catalyst_phases(df)
        with spans.span("execute") as execute:
            materialize(df)
        sc.setJobGroup(None, None)
    construct_s = construct["end"] - construct["start"]
    exec_s = execute["end"] - execute["start"]
    eager = probes.job_stats(spark, f"c:{group}")
    stats = probes.job_stats(spark, f"x:{group}")
    out = {"wall_s": construct_s + exec_s, "construct_s": construct_s, "exec_s": exec_s,
           "py4j_calls": calls, "eager_jobs": eager["jobs"], **phases, **sql.python_metrics()}
    # jobs started inside construct are the query's work too
    out.update({f"execute.{k}": v + eager[k] for k, v in stats.items()})
    return out


def _layer_metrics(layer: dict, per_query: dict, passes: int) -> dict:
    units = {"construct_s": "s", "py4j_calls": "count", "eager_jobs": "count",
             "catalyst.plan_s": "s", "catalyst.analysis_s": "s",
             "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
             "python.udf_s": "s", "python.bytes_sent": "B", "python.bytes_received": "B",
             "execute.jobs": "count", "execute.stages": "count", "execute.tasks": "count",
             "execute.shuffle_write_bytes": "B", "execute.shuffle_write_records": "count",
             "execute.input_bytes": "B",
             "execute.spill_bytes": "B", "execute.executor_run_s": "s",
             "execute.executor_cpu_s": "s", "execute.jvm_gc_s": "s"}
    out = {k: (layer.get(k, 0.0) / passes, u) for k, u in units.items()}
    out["execute.wall_s"] = (layer.get("exec_s", 0.0) / passes, "s")
    med = layer.get("execute.task_med_s", 0.0)
    out["execute.task_skew"] = (layer.get("execute.task_max_s", 0.0) / med if med else 1.0, "ratio")
    for name, vals in per_query.items():
        for k, u in (("construct_s", "s"), ("exec_s", "s"), ("py4j_calls", "count")):
            out[f"query.{name}.{k}"] = (vals.get(k, 0.0) / passes, u)
    return out
