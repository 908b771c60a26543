"""bench.py one-line JSON contract (r15, r14 verdict #2).

The r13 driver artifact lost its per-query map because the full result
line (5,022 bytes with the 53-entry "order" map and "cold_disagreement")
outgrew the driver's ~4 KB tail capture — the HEAD of the line was cut
off, `parsed` came back absent, and the round lost its ground-truth
round-over-round pair (`prev_bench_ok: false`, `n_common: 0`).

These tests pin the fix: the printed line is `compact_result(result)`,
which must (a) stay under 4 KB for the CURRENT headline set even with
worst-plausible timing widths, (b) keep every driver-contract key
verbatim, and (c) keep the failure markers (`n_failed`,
`total_is_partial`) so a failing round can never read as a speedup.
No Spark session is needed for those — they are pure-dict contract
tests. The layer-schema test traces one real rep.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, _COMPACT_KEYS, Tracer, compact_result

SCRIPTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)

# Per-query keys of BENCH_LOCAL_r<N>.json's "layers": perfbench's layer
# split of one rep (perfbench/lake.py::_traced_query).
LAYER_KEYS = frozenset({
    "construct_s", "py4j_calls", "eager_jobs",
    "catalyst.plan_s", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s",
    "execute.wall_s", "execute.jobs", "execute.stages", "execute.tasks",
    "execute.shuffle_write_bytes", "execute.shuffle_write_records",
    "execute.input_bytes", "execute.spill_bytes", "execute.executor_run_s",
    "execute.executor_cpu_s", "execute.jvm_gc_s", "execute.task_max_s",
    "execute.task_med_s",
    "python.udf_s", "python.bytes_sent", "python.bytes_received",
})

# The driver's tail capture demonstrably held ~4 KB lines and lost the
# 5,022-byte r13 line; bound with margin below the observed cliff.
LINE_BUDGET_BYTES = 4096


def _worst_case_result() -> dict:
    """A full bench result with worst-plausible field widths.

    Every timing rendered at max width (9999.999 — four integer digits is
    an hour-and-a-half per query, far past any plausible sf0.1 number),
    every query flagged persist-bearing, every cold pair in disagreement,
    and the order map present — the compact line must stay bounded no
    matter how fat the full result gets.
    """
    t = {name: 9999.999 for name in HEADLINE}
    return {
        "metric": "total_headline_sec",
        "value": 99999.999,
        "unit": "sec",
        "queries": dict(t),
        "queries_cold": dict(t),
        "persist_bearing": list(HEADLINE),
        "cold_disagreement": {n: [9999.999, 9999.999] for n in HEADLINE},
        "order_seed": 4294967295,
        "order": {n: i for i, n in enumerate(HEADLINE)},
        "layers": {n: dict.fromkeys(LAYER_KEYS, 9999.999) for n in HEADLINE},
        "sf": "sf0.001",
        "n_queries": len(HEADLINE),
        "n_failed": len(HEADLINE),
        "failures": {n: "x" * 500 for n in HEADLINE},
        "total_is_partial": True,
    }


def test_compact_line_is_bounded():
    line = json.dumps(compact_result(_worst_case_result()))
    assert len(line.encode()) < LINE_BUDGET_BYTES, (
        f"one-line JSON is {len(line)} bytes with persist_bearing covering "
        f"all {len(HEADLINE)} headline queries — over the driver tail-capture "
        f"budget; trim _COMPACT_KEYS or shorten query names"
    )


def test_compact_line_keeps_driver_contract_keys():
    result = _worst_case_result()
    compact = compact_result(result)
    # contract keys (driver parses these; additions-only rule) — these
    # survive even when the shedding path fires
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in compact
    # per-query "queries" entries verbatim — the driver's per-query
    # comparison; NEVER shed
    assert compact["queries"] == result["queries"]
    # failure markers survive so a partial total can't read as a speedup
    assert compact["n_failed"] == len(HEADLINE)
    assert compact["total_is_partial"] is True
    # the fat diagnostics are what gets dropped (they live in
    # BENCH_LOCAL_r<N>.json)
    for key in ("order", "cold_disagreement", "failures", "layers"):
        assert key not in compact


def test_compact_line_typical_sweep_keeps_cold_map_verbatim():
    # a realistic sweep (r14/r15: 6 persist-bearing queries, no failures,
    # sub-100 s timings) must NOT trigger the shedding path — the driver
    # sees the full cold map
    result = _worst_case_result()
    result["persist_bearing"] = result["persist_bearing"][:6]
    result["queries"] = {n: 12.345 for n in HEADLINE}
    result["queries_cold"] = {n: 12.345 for n in HEADLINE}
    del result["failures"]
    del result["total_is_partial"]
    result["n_failed"] = 0
    compact = compact_result(result)
    assert compact["queries_cold"] == result["queries_cold"]
    assert len(json.dumps(compact).encode()) < LINE_BUDGET_BYTES


def test_compact_keys_do_not_drop_contract_fields():
    # regression guard: someone trimming _COMPACT_KEYS must not remove a
    # field the driver's parser reads
    for key in ("metric", "value", "unit", "queries", "queries_cold",
                "persist_bearing", "order_seed", "sf", "n_queries",
                "n_failed", "total_is_partial"):
        assert key in _COMPACT_KEYS


def test_traced_rep_writes_every_layer(spark, sf_dir):
    from fineventstream_spark.registry import all_queries

    tracer = Tracer(spark)
    try:
        wall, layers = tracer.rep(all_queries()["q_agg_groupby_basic"], sf_dir)
    finally:
        tracer.close()
    assert set(layers) == LAYER_KEYS
    # the headline wall is construct + execute; Catalyst sits outside it
    assert wall == pytest.approx(layers["construct_s"] + layers["execute.wall_s"], abs=1e-3)
    assert layers["execute.jobs"] >= 1 and layers["execute.tasks"] >= 1
    assert layers["py4j_calls"] > 0


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(SCRIPTS_DIR, "*.py"))),
    ids=lambda p: os.path.splitext(os.path.basename(p))[0],
)
def test_script_imports(path):
    # every kept script must still import against the engine: a deleted
    # engine name surfaces here, not on the next manual run. Only the
    # module body runs (main() and the __main__ block do not), so no
    # session starts.
    spec = importlib.util.spec_from_file_location(
        "script_" + os.path.splitext(os.path.basename(path))[0], path
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_default_driver_memory_is_half_of_ram_capped_at_32g():
    # a fixed 32g default let a bench.py sweep's driver JVM outgrow a 16 GB
    # host; half of physical memory leaves the rest to the Python workers
    from fineventstream_spark.session import default_driver_memory

    assert default_driver_memory(16 << 30) == "8192m"
    assert default_driver_memory(15_600_000_000) == "7438m"
    assert default_driver_memory(64 << 30) == "32768m"
    assert default_driver_memory(1 << 40) == "32768m"


ENGINE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fineventstream_spark"
)


def _env_reads(tree) -> set[str]:
    """Names read through ``os.environ.get``, ``os.getenv`` and
    ``os.environ[...]``; a non-literal name reads as its source text."""

    def is_environ(node):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args and isinstance(
            node.func, ast.Attribute
        ):
            f = node.func
            if (f.attr == "get" and is_environ(f.value)) or (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            key = node.slice
        if key is not None:
            names.add(
                key.value
                if isinstance(key, ast.Constant) and isinstance(key.value, str)
                else ast.unparse(key)
            )
    return names


def test_engine_reads_only_deployment_env_vars():
    # the engine's environment is where it runs (lake path, CPUs, driver
    # heap), never how a query behaves: a query has one form, so a
    # behaviour switch cannot come back through an env var
    names = set()
    for path in glob.glob(os.path.join(ENGINE_DIR, "**", "*.py"), recursive=True):
        with open(path) as f:
            names |= _env_reads(ast.parse(f.read(), path))
    assert names == {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _cache_path_literals(tree) -> list[int]:
    """Lines of string literals (docstrings aside) with a ``.cache`` path
    segment."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and ".cache" in node.value.replace("\\", "/").split("/")
    ]


def test_only_the_catalog_builds_the_cache_root():
    # every derivative lives under catalog.CACHE_ROOT, where one rule
    # prunes its stale fingerprints; a second root would escape it
    found = {}
    for path in glob.glob(os.path.join(ENGINE_DIR, "**", "*.py"), recursive=True):
        with open(path) as f:
            lines = _cache_path_literals(ast.parse(f.read(), path))
        if lines:
            found[os.path.relpath(path, ENGINE_DIR)] = lines
    assert list(found) == ["catalog.py"], found


def _raw_persist_scopes(tree) -> set[str]:
    """Names of the functions (``<module>`` at top level) that call
    ``.persist()`` or ``.cache()`` directly."""
    scopes: set[str] = set()

    def visit(node, scope):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
        ):
            scopes.add(scope)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "<module>")
    return scopes


def test_engine_persists_go_through_persist_tracked():
    # a raw persist is invisible to dedup.released_on_exit, so the
    # streaming sink's per-batch scope would leak it; only the two
    # operators that unpersist their own frames may persist directly
    found = {}
    for path in glob.glob(os.path.join(ENGINE_DIR, "**", "*.py"), recursive=True):
        with open(path) as f:
            scopes = _raw_persist_scopes(ast.parse(f.read(), path))
        if scopes:
            found[os.path.relpath(path, ENGINE_DIR)] = scopes
    assert found.pop(os.path.join("operators", "dedup.py")) == {"persist_tracked"}
    assert set(found) <= {
        os.path.join("operators", "ann_index.py"),
        os.path.join("operators", "cluster.py"),
    }, found


def test_contract_imports_the_package_beside_it(tmp_path):
    # a checkout anywhere runs its own package, not one at a fixed path
    import shutil
    import subprocess

    repo = os.path.dirname(ENGINE_DIR)
    shutil.copy(os.path.join(repo, "__spark_entry__.py"), tmp_path)
    shutil.copytree(
        ENGINE_DIR,
        tmp_path / "fineventstream_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', sys.argv[1])\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import fineventstream_spark.registry as r\n"
        "print(r.__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "__spark_entry__.py")],
        cwd=elsewhere,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert os.path.realpath(out.strip()).startswith(os.path.realpath(tmp_path) + os.sep)
