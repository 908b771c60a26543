"""Layer-boundary probes: spans, py4j round trips and Spark's own counters.

Everything here reads state that Spark or py4j keeps anyway: the job and
stage data of the app status store, the SQL status store's plan metrics,
streaming progress and the file sink's commit log. Nothing is counted by
the program under test.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

# py4j's proxy-release command ("m\nd\n<id>"): sent whenever Python's
# garbage collector drops a JVM proxy, at times that vary between identical
# runs. Every other command is a round trip the calling code asked for.
_PROXY_RELEASE = "m\nd\n"


class Spans:
    """In-memory spans (name, start, end, parent index, attributes), written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts py4j commands sent from Python, proxy releases excluded."""

    def __init__(self, gateway_client) -> None:
        self.calls = 0
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith(_PROXY_RELEASE):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        gateway_client.send_command = counting_send

    def close(self) -> None:
        self._client.send_command = self._orig


def job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and executor metrics of one job group, from the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_write_records": 0, "input_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "jvm_gc_s": 0.0, "task_max_s": 0.0, "task_med_s": 0.0}
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — the stage never ran (plan reuse)
            continue
        if sd.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_write_records"] += sd.shuffleWriteRecords()
        out["input_bytes"] += sd.inputBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
        summary = store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out["task_med_s"] += run.apply(0) / 1e3
            out["task_max_s"] += run.apply(1) / 1e3
    return out


_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PYTHON_METRICS = {
    "time to run Python workers": "python.udf_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def _metric_total(text: str) -> float:
    """Total of one SQL metric as the status store renders it ("1.2 s" or
    "total (min, med, max ...)\\n795.2 KiB (...)")."""
    m = re.match(r"\s*([0-9.]+)\s*([A-Za-z]+)", text.splitlines()[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class SqlExecutions:
    """Python-boundary metrics of the SQL executions started since ``mark()``."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()

    def mark(self) -> None:
        self._seen = self._store.executionsCount()

    def python_metrics(self) -> dict:
        out = dict.fromkeys(_PYTHON_METRICS.values(), 0.0)
        now = self._store.executionsCount()
        execs = self._store.executionsList(int(self._seen), int(now - self._seen))
        self._seen = now
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._store.executionMetrics(ex.executionId())
            seen_acc: set[int] = set()
            metrics = ex.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                key = _PYTHON_METRICS.get(metric.name())
                acc = metric.accumulatorId()
                if key is None or acc in seen_acc:
                    continue
                seen_acc.add(acc)
                value = values.get(acc)
                if value.isDefined():
                    out[key] += _metric_total(value.get())
        return out


def catalyst_phases(df) -> dict:
    """Force the physical plan and read the planning tracker's phases (seconds)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    plan_s = time.perf_counter() - t0
    phases = qe.tracker().phases()
    out = {"catalyst.plan_s": plan_s}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def quantile(values: list[float], q: float) -> float:
    """The q-quantile by Python's inclusive method (q in (0, 1))."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def log_entries(directory: str) -> list[dict]:
    """Entries of a Spark streaming metadata log: the sink's ``_spark_metadata``
    or a source's offsets log. Reads plain and ``.compact`` batch files (a
    compact file repeats earlier entries); the first line of each is the
    log version."""
    out = []
    for name in os.listdir(directory) if os.path.isdir(directory) else ():
        if name.split(".")[0].isdigit() and not name.endswith(".tmp"):
            with open(os.path.join(directory, name)) as fh:
                out.extend(json.loads(x) for x in fh.read().splitlines()[1:] if x.strip())
    return out


def sink_files(lake: str) -> list[dict]:
    """Every file the sink committed, once each."""
    return list({e["path"]: e for e in log_entries(os.path.join(lake, "_spark_metadata"))}.values())
