"""Lint-style plan audit for the skew-routing policy (r10 verdict).

The bucketed zero-exchange SMJ (operators/bucketed.py) is the right
default for cheap-per-row consumers: partial aggregation collapses even
an adversarially hot bucket inside its one task (measured: forced-
bucketed 6.5 s vs routed 10.6 s on the 18%-hot zipf fixture —
`q_join_enrich_priority`). The one shape where the shuffle+AQE route
wins instead is EXPENSIVE PER-ROW POST-JOIN CPU: per-joined-row Python
kernels or heavy JVM expressions (hashing every column, regexp, JSON
parsing) that AQE could split across tasks but a hot co-located bucket
serializes. That policy lives in docstrings; nothing warned a query
author who builds such a consumer on the layout default — the gap the
r10 verdict named ("worth a heuristic or a lint-style plan audit").

`routing_lint(df)` is that audit: it walks the physical plan, finds
every bucket-co-located SMJ (no shuffle exchange anywhere in the join's
subtree + at least one bucketed scan), then inspects the operators
between the join and its nearest blocking ancestor (aggregate /
shuffle / another join — the span that executes once per joined ROW in
the same task as the hot bucket's merge) for per-row-expensive work:

- any Python evaluation node (ArrowEvalPython / BatchEvalPython /
  MapInPandas / FlatMapGroupsInPandas / MapInArrow) — the JVM→Arrow
  round-trip is per-row cost by definition;
- a Project whose expressions match the expensive-kernel list
  (regexp_*, levenshtein, from_json/to_json/get_json_object, xxhash64 /
  md5 / sha1 / sha2 / crc32, conv, aes_*, encode/decode, array HOFs
  transform/aggregate/zip_with) — the measured routing-favored class
  (the E2 probe xxhashes every column per row).

Each finding is a human-readable warning naming the join and the
expensive node; a flagged query should either pass ``route_skew=True``
at its `bucketed_table` call sites (letting AQE split the hot bucket
under the post-join work) or record an interleaved A/B showing the
layout still wins — `q_join_enrich_priority`'s discipline.

`lint_registry(spark, sf_dir, names)` sweeps registered queries under
``autoBroadcastJoinThreshold=-1`` (at lint scale small dims broadcast
away and the SMJ shape the lint audits would never form; the threshold
off reproduces the at-scale join structure — dims grow past the
threshold long before the fact stops dwarfing them) and returns
{query: [warnings]} — asserted empty in tests/test_plan_lint.py for
every current bucketed-layout query, with a positive control proving
the detector actually fires.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

# Python-eval physical nodes: per-row JVM→Python cost by construction.
_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)

# Expression kernels that are expensive per ROW when they run once per
# joined fact row (the measured routing-favored class). Word-ish matches
# against the Project node's expression string.
# Unambiguous per-row-expensive kernel names: these token spellings only
# appear in a ProjectExec expression string when the kernel itself runs.
# Case-insensitive: plans print some kernels upper-case (`RLIKE(`).
_EXPENSIVE_EXPRS = re.compile(
    r"\b(regexp_extract|regexp_replace|regexp_extract_all|regexp_count"
    r"|rlike|levenshtein|from_json|to_json|get_json_object|json_tuple"
    r"|schema_of_json|xxhash64|md5|sha1|sha2|crc32|conv|aes_encrypt"
    r"|aes_decrypt|base64|unbase64)\(",
    re.IGNORECASE,
)
# Higher-order functions share token spellings with unrelated plan text
# (a rewritten EXISTS predicate prints `exists(`, dataset filters print
# `filter(`), so these only count as expensive when the node string also
# carries a `lambdafunction` — the printed form of a real HOF lambda —
# keeping the registry lint sweep from going red on benign future
# queries (r11 advisor).
_EXPENSIVE_HOF = re.compile(
    r"\b(transform|aggregate|zip_with|filter|exists|forall)\("
)

# Ancestors that END the per-row span above the join: past any of these
# the work is no longer once-per-joined-row in the hot bucket's task.
# BroadcastHashJoin is deliberately NOT here — it is stream-side
# pass-through (same task, no repartition), so per-row work above a
# broadcast enrichment still serializes in the hot bucket's task.
_BLOCKING = (
    "Aggregate",          # HashAggregate / ObjectHashAggregate / SortAggregate
    "ShuffleExchange",    # repartition boundary — AQE can split past it
    "BroadcastExchange",  # our subtree is a broadcast build side (dim-sized)
    "SortMergeJoin",      # a further sort-merge re-scopes the row stream
    "ShuffledHashJoin",
    "CartesianProduct",
    "Window",             # carries its own partitioning requirement
    "Expand",
)


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _children(node):
    if _name(node) == "AdaptiveSparkPlanExec":
        # pre-execution: audit the initial plan AQE starts from
        return [node.initialPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk(node, ancestors):
    yield node, ancestors
    nxt = ancestors + (node,)
    for c in _children(node):
        yield from _walk(c, nxt)


def _subtree_has(node, pred) -> bool:
    if pred(node):
        return True
    return any(_subtree_has(c, pred) for c in _children(node))


def _is_colocated_bucketed_smj(node) -> bool:
    if _name(node) != "SortMergeJoinExec":
        return False
    if _subtree_has(node, lambda n: "ShuffleExchange" in _name(n)):
        return False
    return _subtree_has(
        node,
        lambda n: _name(n) == "FileSourceScanExec"
        and ("SelectedBucketsCount" in n.toString() or "Bucketed: true" in n.toString()),
    )


def _expensive(node) -> str | None:
    nm = _name(node)
    for p in _PYTHON_NODES:
        if p in nm:
            return f"python-eval node {nm}"
    if nm == "ProjectExec":
        why = expensive_expr_reason(node.toString())
        if why:
            return f"expensive per-row expression `{why}` in {nm}"
    return None


def expensive_expr_reason(s: str) -> str | None:
    """The per-row-expensive kernel named in a ProjectExec expression
    string, or None. A HOF token only counts when a `lambdafunction`
    sits INSIDE that call's own parenthesized argument span — checking
    the whole node string let a benign rewritten-EXISTS `exists(` go red
    whenever any unrelated lambda appeared elsewhere in a mixed
    projection (r12 advisor, refining the r11 fix). Pure string logic,
    factored out so the regression test can exercise it without
    synthesizing JVM plan nodes."""
    m = _EXPENSIVE_EXPRS.search(s)
    if m:
        return m.group(1).lower()
    for m in _EXPENSIVE_HOF.finditer(s):
        if "lambdafunction" in s[m.end() : _close_paren(s, m.end() - 1)]:
            return m.group(1)
    return None


def kernel_counts(plan: str) -> Counter:
    """Calls of each per-row-expensive kernel in a plan string, keyed by
    the lower-case kernel name. A kernel that Catalyst copied into several
    operators counts once per copy, so a count above one means the rows
    pay for it more than once."""
    return Counter(m.group(1).lower() for m in _EXPENSIVE_EXPRS.finditer(plan))


def _close_paren(s: str, open_idx: int) -> int:
    """Index just past the ')' matching ``s[open_idx] == '('``; end of
    string if unbalanced (truncated node strings print '...')."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return len(s)


def routing_lint(df: DataFrame) -> list[str]:
    """Warnings for bucket-co-located SMJs feeding per-row-expensive
    operators before the next blocking boundary — the shape the measured
    routing policy says should opt into ``route_skew=True`` (or document
    an A/B showing the layout still wins). Empty list = clean."""
    root = df._jdf.queryExecution().executedPlan()
    warnings: list[str] = []
    for node, ancestors in _walk(root, ()):
        if not _is_colocated_bucketed_smj(node):
            continue
        # nearest-first ancestors up to (excluding) the first blocking op:
        # the span that runs once per joined row in the hot bucket's task
        span = []
        for anc in reversed(ancestors):
            if any(b in _name(anc) for b in _BLOCKING):
                break
            span.append(anc)
        for anc in span:
            why = _expensive(anc)
            if why:
                warnings.append(
                    "bucket-co-located SortMergeJoin feeds "
                    f"{why} before any aggregation boundary — expensive "
                    "per-row post-join CPU serializes in the hot bucket's "
                    "task; consider route_skew=True at the bucketed_table "
                    "call site (or record an A/B keeping the layout, like "
                    "q_join_enrich_priority)"
                )
    return warnings


def lint_registry(spark, sf_dir: str, names: list[str]) -> dict[str, list[str]]:
    """Run routing_lint over registered queries with broadcast joins
    disabled (reproduces the at-scale SMJ structure at lint scale)."""
    from fineventstream_spark.registry import all_queries

    registry = all_queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    out: dict[str, list[str]] = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in names:
            out[name] = routing_lint(registry[name].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out
