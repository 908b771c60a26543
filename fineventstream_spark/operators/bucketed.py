"""Bucketed co-located joins (SURVEY §4 / 100 TB shuffle discipline).

At 100 TB, the dominant cost of a fact-to-fact equi-join is shuffling both
sides. Bucketing pre-partitions the data by the join key at *write* time
(``bucketBy(n, key).sortBy(key)``) so that repeated joins/aggregations on
that key run with ZERO exchange — each task zips bucket i of both tables.
This is ingest work, paid once, amortized over every orderkey-joining
query; on a real lake the bucketed layout IS the lake.

Implementation notes:

- The data lives as an EXTERNAL bucketed parquet directory under
  ``.cache/<sf>/`` (fingerprint-keyed like every other derivative —
  schema × data, so regenerated fixtures can never serve stale buckets).
  Bucket metadata only exists in a catalog, and the in-memory catalog is
  session-scoped, so each new session re-registers the existing files
  with ``CREATE TABLE … CLUSTERED BY … SORTED BY … INTO n BUCKETS
  LOCATION …`` — no rewrite.
- ``repartition(n, key)`` before the bucketed write uses the same
  murmur3 hash family as the bucket-id assignment, so every bucket is
  written by exactly one task → ONE file per bucket → the scan can
  report per-bucket sort order (``legacy.bucketedTableScan.outputOrdering``,
  pinned in session.py) and sort-merge joins skip their Sort entirely.
- ``N_BUCKETS`` = 32 matches local[32]; on a 1000-executor cluster the
  same derivative would use ~2-3× total cores.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineventstream_spark.catalog import (
    cache_path,
    load_table,
    prune_stale_siblings,
    source_fingerprint,
)

N_BUCKETS = 32

# the bucket keys the engine's headline queries co-locate on
# r15 adds the events/user_id layout (verdict #4 A/B at sf10, table in
# BASELINE.md "Events layout A/B at sf10"): the six user_id-clustered
# consumers (rolling_active / retention / sessionize / funnel /
# session_window / udaf_grouped) shuffled 53-280 MB of fact each at sf10;
# on the layout all six run with ~zero exchange, identical rows, walls
# 1.6-2.2x faster. Build cost 11.7 s at sf10, ingest-side (prewarm).
BUCKET_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
}


def q5_prejoin_spec() -> dict:
    """The ONE definition of Q5's pre-join projection layout (r10 — the r9
    verdict flagged the spec duplicated between queries/reports.py and the
    prewarm builder in queries/scans.py with a "lockstep" comment; both now
    splat this). lineitem in orderkey bucket order carrying supplier's
    nationkey (denormalized at layout time) and the exact-money rev_units
    product (materialized at layout time); rationale + measured
    alternatives in queries/reports.py::q_report_nation_volume."""
    from fineventstream_spark.queries._money import REV_UNITS_SQL

    return dict(
        table="lineitem",
        columns=("l_orderkey", "s_nationkey"),
        derived={"rev_units": REV_UNITS_SQL},
        prejoin=("supplier", "l_suppkey", "s_suppkey", ("s_nationkey",)),
    )

# Spark bucketed writes encode the bucket id in the file name:
# part-<task>-<uuid>_<bucketId>.c000.snappy.parquet
_BUCKET_ID_RE = re.compile(r"_(\d{5})\.c\d{3}")


def _bucket_spec(
    key: str,
    columns: tuple[str, ...] | None,
    derived: dict[str, str] | None = None,
    prejoin: tuple[str, str, str, tuple[str, ...]] | None = None,
    partition_by: str | None = None,
) -> str:
    """Canonical spec string for one layout: bucket count × key × (for
    covering projections) the projected column set × (for materialized
    expressions) the derived name→SQL map × (for pre-join projections)
    the dim-join descriptor. Everything that affects the file layout is
    in the spec, so a spec change can never re-register old files under
    new metadata."""
    spec = f"b{N_BUCKETS}-{key}"
    if columns or derived or prejoin:
        import hashlib

        ident = ",".join(columns or ())
        if derived:
            ident += "|" + ";".join(f"{k}={v}" for k, v in sorted(derived.items()))
        if prejoin:
            dt, fk, dk, dcols = prejoin
            ident += f"|J:{dt}:{fk}={dk}:{','.join(dcols)}"
        if partition_by:
            ident += f"|P:{partition_by}"
        spec += "-p" + hashlib.md5(ident.encode()).hexdigest()[:8]
    return spec


def _bucketed_paths(
    sf_dir: str, table: str, spec: str, fingerprint: str
) -> tuple[str, str]:
    """(external data dir, session-catalog table name) for one derivative.

    The bucket SPEC (count + key + projection) is part of both names (r6
    advisor): a future N_BUCKETS or key change must regenerate the
    derivative, never re-register old files under new CLUSTERED BY
    metadata — Spark trusts catalog bucketing blindly, so a spec/file
    mismatch silently returns wrong rows from co-located SMJs and
    bucket-pruned scans.
    """
    sf = os.path.basename(os.path.normpath(sf_dir))
    path = cache_path(sf_dir, f"{table}_bucketed-{spec}", fingerprint)
    name = f"fes_{table}_bkt_{spec}_{sf}_{fingerprint}".replace(".", "_").replace("-", "_")
    return path, name


def _assert_one_file_per_bucket(path: str, table: str) -> None:
    """The trusted-sort scan (``legacy.bucketedTableScan.outputOrdering``,
    session.py) is only sound when every bucket is a single file — multiple
    files per bucket would be concatenated UNSORTED while the scan still
    claims per-bucket order, and SMJ would silently merge unsorted input
    (the pre-3.0 bug the default config fixed). Verify the invariant from
    the actual file layout at register time, both branches (r6 advisor).

    Partitioned layouts (r13): the invariant holds PER HIVE PARTITION —
    one file per bucket inside each partition directory. Spark evaluates
    its own files-per-bucket==1 check on the files a scan SELECTS, so a
    partition-pruned scan of such a layout still earns the trusted sort;
    an unpruned scan sees multiple files per bucket and correctly sorts."""
    any_files = False
    for root_dir, _dirs, files in os.walk(path):
        seen: dict[str, str] = {}
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            any_files = True
            m = _BUCKET_ID_RE.search(f)
            if m is None:
                raise AssertionError(
                    f"bucketed derivative {table} at {root_dir}: file {f!r} has no "
                    "bucket-id suffix — layout is not a Spark bucketed write"
                )
            if m.group(1) in seen:
                raise AssertionError(
                    f"bucketed derivative {table} at {root_dir}: bucket {m.group(1)} "
                    f"has multiple files ({seen[m.group(1)]!r}, {f!r}) — the "
                    "trusted per-bucket sort order would be wrong; delete the "
                    "directory to regenerate"
                )
            seen[m.group(1)] = f
    if not any_files:
        raise AssertionError(f"bucketed derivative {table} at {path}: no data files")


# A hot join key concentrates in ONE bucket, and a bucketed SMJ cannot be
# split by AQE (no shuffle to re-plan) — the zipf skew evidence (BASELINE.md
# "Skew evidence" and "Skew-routing A/B") measured the zero-exchange layout
# 1.3× SLOWER than shuffle+AQE-split on a key holding 18% of the fact. The
# layout itself knows: bucket files are on disk at write time. max/median
# ROW COUNT above this ratio marks the layout skew-degenerate, and
# bucketed_table(route_skew=True) then routes to the plain shuffle path
# where OptimizeSkewedJoin can split the hot partition (r10). <= 0
# disables routing entirely (always read the layout).
SKEW_RATIO_THRESHOLD = 4.0

_SKEW_SIDECAR = "_skew.json"
_SKEW_REGISTRY = "_skew_registry.json"

# Layouts that exist to zero-exchange-join EACH OTHER. AQE's skew split
# only applies when BOTH join children are shuffle stages, so if any
# member of a group is skew-degenerate the whole group must route to the
# plain path — a half-routed join (one bucketed scan, one shuffle) keeps
# the unsplittable hot partition AND pays a shuffle.
_COLOCATED: dict[tuple[str, str], tuple[tuple[str, str], ...]] = {
    ("lineitem", "l_orderkey"): (("orders", "o_orderkey"),),
    ("orders", "o_orderkey"): (("lineitem", "l_orderkey"),),
    ("lineitem", "l_partkey"): (("part", "p_partkey"),),
    ("part", "p_partkey"): (("lineitem", "l_partkey"),),
}


def bucket_skew_ratio(path: str) -> float:
    """max/median ROW COUNT across buckets of a bucketed derivative —
    1.0 is perfectly even; large values mean a hot key serialized into one
    bucket (its SMJ task becomes the straggler AQE cannot split).

    Row counts come from the parquet FOOTERS (metadata-only reads, no data
    pages). File sizes were the r9 basis and understate true skew: a hot
    key's bucket is highly RLE/dictionary-compressible on the key column,
    so a skew-degenerate layout could pass the byte-ratio threshold
    (r9 advisor)."""
    import statistics

    import pyarrow.parquet as pq

    by_bucket: dict[str, int] = {}
    # recursive walk (r13): a hive-partitioned bucketed layout holds one
    # file per bucket per partition dir — skew is per BUCKET, so rows
    # aggregate across partitions by bucket id
    for root_dir, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            m = _BUCKET_ID_RE.search(f)
            if m is None:
                continue
            by_bucket[m.group(1)] = (
                by_bucket.get(m.group(1), 0)
                + pq.ParquetFile(os.path.join(root_dir, f)).metadata.num_rows
            )
    rows = sorted(by_bucket.values())
    if not rows:
        return 1.0
    return rows[-1] / max(statistics.median(rows), 1.0)


def _registry_path(sf_dir: str) -> str:
    return cache_path(sf_dir, _SKEW_REGISTRY)


def _record_skew(sf_dir: str, table: str, key: str, ratio: float) -> None:
    """Persist the layout's skew ratio twice: a sidecar in the layout dir
    (so a re-registering session never re-lists footers) and a per-sf
    registry keyed by ``table:key`` (so ROUTING can consult the colocated
    partner's ratio without knowing its projection spec). Entries carry the
    source data fingerprint — a regenerated fixture invalidates them.
    Atomic replace; single-writer per ``.cache/<sf>`` as documented on
    ``catalog.prune_stale_siblings``."""
    import json

    from fineventstream_spark.catalog import data_fingerprint

    reg_path = _registry_path(sf_dir)
    os.makedirs(os.path.dirname(reg_path), exist_ok=True)
    reg: dict[str, dict] = {}
    try:
        with open(reg_path) as fh:
            reg = json.load(fh)
    except (OSError, ValueError):
        pass
    reg[f"{table}:{key}"] = {
        "bucket_skew_ratio": ratio,
        "basis": "rows",
        "data_fp": data_fingerprint(sf_dir, table),
    }
    tmp = reg_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(reg, fh, indent=1, sort_keys=True)
    os.replace(tmp, reg_path)


def _registry_ratio(sf_dir: str, table: str, key: str) -> float | None:
    """The recorded skew ratio for ``table`` bucketed by ``key``, or None
    when unknown / recorded against superseded source data."""
    import json

    from fineventstream_spark.catalog import data_fingerprint

    try:
        with open(_registry_path(sf_dir)) as fh:
            entry = json.load(fh).get(f"{table}:{key}")
    except (OSError, ValueError):
        return None
    if not entry or entry.get("data_fp") != data_fingerprint(sf_dir, table):
        return None
    return float(entry["bucket_skew_ratio"])


def layout_group_skew_ratio(sf_dir: str, table: str, key: str) -> float:
    """Worst recorded skew ratio across (table, key) AND its co-location
    partners — the routing signal. Unknown members contribute nothing
    (their layouts haven't materialized; the requesting layout's own entry
    is always fresh because ensure_bucketed just recorded it)."""
    members = {(table, key), *_COLOCATED.get((table, key), ())}
    ratios = [
        r for t, k in members if (r := _registry_ratio(sf_dir, t, k)) is not None
    ]
    return max(ratios, default=1.0)


def _measure_and_record_skew(path: str, sf_dir: str, table: str, key: str) -> None:
    """Compute (or reuse) the layout's skew ratio, persist sidecar +
    registry, and warn when degenerate. Called on every ensure path so a
    layout materialized by an older code version still gets a registry
    entry the router can read."""
    import json

    sidecar = os.path.join(path, _SKEW_SIDECAR)
    ratio: float | None = None
    try:
        with open(sidecar) as fh:
            ratio = float(json.load(fh)["bucket_skew_ratio"])
    except (OSError, ValueError, KeyError):
        pass
    if ratio is None:
        ratio = bucket_skew_ratio(path)
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"bucket_skew_ratio": ratio, "basis": "rows"}, fh)
        os.replace(tmp, sidecar)
    _record_skew(sf_dir, table, key, ratio)
    if ratio >= SKEW_RATIO_THRESHOLD:
        import warnings

        warnings.warn(
            f"bucketed layout {table} by {key!r} is skew-degenerate: hot "
            f"bucket holds {ratio:.1f}x the median rows (threshold "
            f"{SKEW_RATIO_THRESHOLD}). A co-located SMJ serializes that "
            "bucket into one unsplittable task — measured 1.3x slower than "
            "shuffle+AQE for WIDE per-row enrichment consumers (which "
            "should pass bucketed_table(route_skew=True)), but 3x FASTER "
            "for aggregate-collapsing consumers (the default keeps the "
            "layout; BASELINE r10 A/B).",
            stacklevel=3,
        )


def _projected(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    columns: tuple[str, ...] | None,
    derived: dict[str, str] | None,
    prejoin: tuple[str, str, str, tuple[str, ...]] | None,
) -> DataFrame:
    """The logical content of one layout spec, built from the PLAIN source
    tables: projection, materialized ``derived`` expressions, and the
    ``prejoin`` dim join. Shared by the layout writer (which persists this
    DataFrame bucketed) and the skew-route fallback (which evaluates it at
    query time, schema-identically, so routed callers never see a different
    shape)."""
    if (derived or prejoin) and not columns:
        raise ValueError("derived/prejoin projections require an explicit column set")
    df = load_table(spark, sf_dir, table)
    if prejoin:
        dt, fk, dk, dcols = prejoin
        dim = load_table(spark, sf_dir, dt).select(dk, *dcols)
        df = df.join(F.broadcast(dim), F.col(fk) == F.col(dk)).drop(dk)
    if columns:
        if key not in columns:
            raise ValueError(f"projection columns {columns} must include key {key!r}")
        sel = [F.col(c) for c in columns]
        if derived:
            overlap = set(derived) & set(columns)
            if overlap:
                raise ValueError(f"derived names {sorted(overlap)} collide with columns")
            sel += [F.expr(sql).alias(name) for name, sql in sorted(derived.items())]
        df = df.select(*sel)
    return df


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str | None = None,
    columns: tuple[str, ...] | None = None,
    derived: dict[str, str] | None = None,
    prejoin: tuple[str, str, str, tuple[str, ...]] | None = None,
    partition_by: str | None = None,
) -> str:
    """Materialize (once per source fingerprint × layout spec) and register
    (once per session) a bucketed+sorted copy of ``table``. Returns the
    catalog table name.

    With ``columns``, the derivative is a COVERING PROJECTION: only those
    columns, bucket-sorted by ``key`` (which must be among them) — the
    Vertica-style secondary projection / C-Store answer to "this fact is
    repeatedly joined on a key it isn't laid out by". A narrow projection
    keeps the per-layout storage cost proportional to the columns the
    workload actually enriches, and the zero-exchange SMJ it enables
    replaces BOTH the fact shuffle (at any scale) and the broadcast
    relation build (which is driver-serial and O(|dim|) on the critical
    path of every query that hints it).

    With ``derived`` (name → Spark SQL expression over the source
    columns), the projection additionally MATERIALIZES computed columns
    at layout time — the shred-on-ingest idea applied to arithmetic: an
    expression every query re-evaluates per row (e.g. the exact-money
    ``rev_units`` product, r8's measured 1.06 s/round of per-row
    round/cast at sf30) is paid ONCE at ingest and scanned back as a
    plain column. The expression text is part of the layout spec, so a
    formula change regenerates the derivative.

    With ``prejoin`` = (dim_table, fact_key, dim_key, dim_cols), the
    layout is a PRE-JOIN PROJECTION (the C-Store paper's term): the fact
    is inner-joined to the dim at LAYOUT time and the requested dim
    columns are stored denormalized in the fact's bucket order. Every
    query that would re-probe that dim per fact row (e.g. Q5's supplier
    → s_nationkey, a measured ~1.4 s/round hash probe over 180 M rows at
    sf30) reads the answer as a plain column instead. Maintenance story
    at 100 TB: dims are slowly-changing and KB–MB-scale; the projection
    regenerates when either side's data fingerprint changes (both are in
    the cache key), exactly like every other ingest derivative. Note the
    inner-join semantics: fact rows without a dim match are absent from
    the projection — callers must want that (Q5 does: its own join is
    inner on the same key).

    With ``partition_by`` (r13) the layout is ADDITIONALLY hive-
    partitioned by that column (which must be one of ``columns`` or
    ``derived``, and lands LAST in the schema — Spark moves partition
    columns to the end): the canonical time-partitioned fact layout.
    A time-filtered query then PRUNES whole partition directories
    before any task launches AND keeps the zero-exchange bucket
    distribution on ``key`` inside the surviving partitions — the two
    wins compose (q_report_dominant_supplier: year-pruned scan reads
    1/7 of the fact, the per-part aggregation reuses the bucketing; sf10
    solo 1.84 s → 0.45 s). One file per bucket per partition, so a
    partition-pruned scan still earns the trusted per-bucket sort.
    """
    key = key or BUCKET_KEYS[table]
    if partition_by and partition_by not in (
        tuple(columns or ()) + tuple(derived or ())
    ):
        raise ValueError(
            f"partition_by {partition_by!r} must be one of the projected "
            "columns or derived expressions"
        )
    # Per-process resolution memo (r13): after a layout is ensured once,
    # repeat calls skip the projection ANALYSIS (~0.25 s/call at sf10 —
    # charged to EVERY invocation of a bucketed query, a pure planning
    # tax on a long-lived service). The memo is VALIDATED against the
    # cheap data fingerprints of the source table (and the prejoin dim),
    # not trusted blindly: a source regenerated mid-process changes the
    # stat-walk fingerprint and takes the full path, preserving the r9
    # dim-change regeneration contract
    # (test_prejoin_layout_regenerates_on_dim_change). What the memo
    # skips is only the DataFrame construction + schema hash, which is
    # deterministic given unchanged source data.
    from fineventstream_spark.catalog import data_fingerprint

    spec = _bucket_spec(key, columns, derived, prejoin, partition_by)
    data_fps = data_fingerprint(sf_dir, table) + (
        data_fingerprint(sf_dir, prejoin[0]) if prejoin else ""
    )
    app = spark.sparkContext.applicationId
    # evict dead-session entries (r13 review; see catalog._LOADED)
    if any(k[0] != app for k in _ENSURED):
        for k in [k for k in _ENSURED if k[0] != app]:
            del _ENSURED[k]
    memo_key = (app, os.path.abspath(sf_dir), table, spec)
    cached = _ENSURED.get(memo_key)
    if cached is not None and cached[0] == data_fps:
        return cached[1]
    df = _projected(spark, sf_dir, table, key, columns, derived, prejoin)
    fp = source_fingerprint(df, sf_dir, table)
    if prejoin:
        # the dim's data is part of the layout's identity: a regenerated /
        # changed dim must regenerate the pre-join projection
        import hashlib

        from fineventstream_spark.catalog import data_fingerprint

        fp = hashlib.sha256(
            (fp + data_fingerprint(sf_dir, prejoin[0])).encode()
        ).hexdigest()[:12]
    path, name = _bucketed_paths(sf_dir, table, spec, fp)
    if spark.catalog.tableExists(name):
        if path not in _SKEW_RECORDED:
            # a layout materialized before this process started still needs
            # a registry entry for the router (sidecar read, no footer work)
            _measure_and_record_skew(path, sf_dir, table, key)
            _SKEW_RECORDED.add(path)
        _ENSURED[memo_key] = (data_fps, name)
        return name
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # one write task per bucket → one file per bucket (per partition
        # when hive-partitioned) → sorted scan
        writer = df.repartition(N_BUCKETS, key).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        (
            writer.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(name)
        )
        _assert_one_file_per_bucket(path, table)
        _measure_and_record_skew(path, sf_dir, table, key)
        _SKEW_RECORDED.add(path)
        prune_stale_siblings(path)
        _ENSURED[memo_key] = (data_fps, name)
        return name
    # files already on disk from an earlier session: re-register metadata —
    # but only after proving the layout still satisfies the invariant the
    # DDL will claim (the _SUCCESS gate alone says nothing about file/bucket
    # cardinality)
    _assert_one_file_per_bucket(path, table)
    _measure_and_record_skew(path, sf_dir, table, key)
    _SKEW_RECORDED.add(path)
    # partition column last (Spark reorders it there in the written table)
    fields = sorted(df.schema.fields, key=lambda f: f.name == partition_by)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    part_clause = f"PARTITIONED BY ({partition_by}) " if partition_by else ""
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET {part_clause}"
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )
    if partition_by:
        # external-location partitions need explicit discovery
        spark.sql(f"MSCK REPAIR TABLE {name}")
    _ENSURED[memo_key] = (data_fps, name)
    return name


# paths whose skew ratio is already persisted + registered this process —
# skips the per-call sidecar/registry round-trip on the hot ensure path
_SKEW_RECORDED: set[str] = set()

# (applicationId, sf_dir, table, spec) → (source data fingerprints,
# registered table name): the validated per-process ensure memo (see
# ensure_bucketed)
_ENSURED: dict[tuple[str, str, str, str], tuple[str, str]] = {}


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str | None = None,
    columns: tuple[str, ...] | None = None,
    derived: dict[str, str] | None = None,
    prejoin: tuple[str, str, str, tuple[str, ...]] | None = None,
    route_skew: bool = False,
    partition_by: str | None = None,
) -> DataFrame:
    """The bucketed derivative of ``table`` as a DataFrame (schema identical
    to :func:`load_table`, or to the projected columns plus any ``derived``
    materialized expressions / ``prejoin`` dim columns when given; scan
    reports bucketing + per-bucket sort).

    SKEW ROUTING (r10) — ``route_skew=True`` opts a call site in: when the
    layout — or any co-location partner it exists to join (``_COLOCATED``)
    — recorded a bucket skew ratio at/above ``SKEW_RATIO_THRESHOLD``
    (<= 0 disables), the PLAIN source scan is returned instead,
    schema-identical (projection/derived/prejoin applied at query time),
    so the join plans as shuffle+AQE and OptimizeSkewedJoin can split the
    hot partition. The whole co-location group routes together because
    the skew split needs BOTH join children to be shuffle stages.

    WHY OPT-IN, NOT DEFAULT — the r10 A/B on the 18%-hot zipf fixture
    (BASELINE r10) split by CONSUMER SHAPE:

    - WIDE ENRICHMENT (every fact column consumed per row post-join,
      BASELINE.md skew evidence E2): the hot bucket's serial per-row work
      dominates — bucketed SMJ 7.6 s vs shuffle+AQE 5.9 s. Routing WINS
      1.3×. These call sites should pass ``route_skew=True``.
    - AGGREGATE-COLLAPSING consumers (the registry's report/join queries:
      the join feeds a groupBy that reuses the bucket distribution): the
      hot-bucket merge+partial-agg task is cheap and the layout avoids the
      entire fact exchange — forced-bucketed 1.18 s vs routed 3.69 s
      (q_join_inner), 1.80 vs 4.76 (Q5). Routing LOSES 3×.

    No layout-side statistic separates the two (same layout, same skew
    ratio — the difference is the consumer's per-row post-join work), so
    the default keeps the layout and the warning names the knob."""
    key = key or BUCKET_KEYS[table]
    name = ensure_bucketed(
        spark, sf_dir, table, key=key, columns=columns, derived=derived,
        prejoin=prejoin, partition_by=partition_by,
    )
    if route_skew and layout_skew_degenerate(sf_dir, table, key):
        return _projected(spark, sf_dir, table, key, columns, derived, prejoin)
    return spark.table(name)


def layout_skew_degenerate(sf_dir: str, table: str, key: str | None = None) -> bool:
    """True when the (table, key) layout group's recorded bucket-skew ratio
    is at/above ``SKEW_RATIO_THRESHOLD`` — the signal consumers use to
    switch to a skew-tolerant PLAN SHAPE (r11: the report family's
    pre-aggregate-before-join variants), as opposed to ``route_skew`` which
    only swaps the scan. Reads the registry the layouts themselves maintain
    (parquet-footer row counts, zero query-time probing); call after
    ``bucketed_table``/``ensure_bucketed`` has materialized the layout so
    the entry exists — an unknown layout reads as ratio 1.0 (not skewed),
    the conservative default for the plan-shape decision because the
    baseline plan is the measured winner on uniform data."""
    key = key or BUCKET_KEYS[table]
    return (
        SKEW_RATIO_THRESHOLD > 0
        and layout_group_skew_ratio(sf_dir, table, key) >= SKEW_RATIO_THRESHOLD
    )


def bucketed_join_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on orderkey with both sides bucketed on the key:
    the plan contains no Exchange — the join is pre-co-located."""
    li = bucketed_table(spark, sf_dir, "lineitem")
    od = bucketed_table(spark, sf_dir, "orders")
    # merge hint: at fixture scale Catalyst would broadcast (its own
    # Exchange); at 100 TB neither side broadcasts — pin the SMJ shape the
    # bucketing exists for
    return li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey, "inner").select(
        "l_orderkey", "l_quantity", "o_totalprice", "o_orderstatus"
    )
