"""Table catalog over the parquet lake.

The reference's "catalog" is a directory convention on S3
(reference: src/lambda_processor/processor_stock_quotes.py:68-73, README.md:16);
ours is a thin loader over the driver's parquet fixtures that also
normalizes types at the edge (timestamp hygiene — SURVEY §7):

- ``events.ts`` has arrived in two fixture flavors across driver rounds:
  INT64 TIMESTAMP(NANOS) (Spark reads a raw long under
  ``spark.sql.legacy.parquet.nanosAsLong``; we truncate to microseconds
  with exact integer division, identical to DuckDB's nanos→micros
  truncation) and plain ``timestamp[us]`` WITHOUT a zone (Spark reads
  TIMESTAMP_NTZ). Both normalize to TimestampType here: the session TZ is
  pinned UTC (session.py), so the NTZ→TIMESTAMP cast is a pure type-tag
  change — the stored micros are identical and oracle comparisons stay
  bit-stable. Normalizing at the edge (not per query) means every
  downstream expression (``unix_micros``, ``cast("long")``, window
  functions, JSON writers) sees ONE timestamp type whatever the lake
  wrote — the round-2 lesson: an unnormalized NTZ column crashed two
  queries and silently nulled a third's JSONL roundtrip.

At 100 TB the same loader would point at a partitioned lake root; partition
discovery and pruning are Catalyst's job (PruneFileSourcePartitions), not
ours.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# (applicationId, sf_dir, table) → (data_fingerprint, raw parquet schema).
# Building the reader with schema INFERENCE re-reads parquet footers on
# EVERY query invocation (~11 ms/table at sf10, 3-4 tables/query — a
# pure planning tax a long-lived service never re-pays, and ~0.1 s of
# every single-query bench rep); an explicit schema cuts that ~6×. The
# memo stores the inferred RAW schema, not the DataFrame: handing back
# the identical DataFrame object (same expression IDs) made self-joins
# built from two load_table calls hit AMBIGUOUS_SELF_JOIN (r13 advisor
# — and alias() wrappers do NOT fix df[col] disambiguation in Spark 4,
# verified), so every call rebuilds a FRESH plan from the memoized
# schema. Keyed by applicationId so a new session never serves a stale
# schema, and VALIDATED against the table's data fingerprint (file
# names/sizes/mtimes — a ~1 ms stat walk) so a source regenerated
# mid-process is re-inferred (caught by
# test_prejoin_layout_regenerates_on_dim_change when the memo was
# unconditional).
_LOADED: dict[tuple[str, str, str], tuple[str, "object"]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing event-time to TimestampType UTC.

    Every call returns a fresh logical plan (fresh attribute IDs) — two
    load_table calls for the same table compose into a self-join without
    AMBIGUOUS_SELF_JOIN errors."""
    app = spark.sparkContext.applicationId
    # evict dead-session entries: a process that cycles sessions
    # (stop + getOrCreate) gets a fresh applicationId each time, and
    # entries keyed by old ids are unservable by construction — without
    # eviction they pin schemas for the process lifetime (r13 review)
    if any(k[0] != app for k in _LOADED):
        for k in [k for k in _LOADED if k[0] != app]:
            del _LOADED[k]
    memo_key = (app, os.path.abspath(sf_dir), name)
    fp = data_fingerprint(sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cached = _LOADED.get(memo_key)
    if cached is not None and cached[0] == fp:
        raw = spark.read.schema(cached[1]).parquet(path)
    else:
        raw = spark.read.parquet(path)
        _LOADED[memo_key] = (fp, raw.schema)
    return _normalize_table(raw, name)


def _normalize_table(df: DataFrame, name: str) -> DataFrame:
    dtypes = dict(df.dtypes)
    if name == "events" and dtypes.get("ts") == "bigint":
        # exact integer division: ns → µs without double-precision loss
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        dtypes = dict(df.dtypes)
    # TIMESTAMP_NTZ → TIMESTAMP for every temporal column: session TZ is
    # pinned UTC so the micros are unchanged; this is a type-tag
    # normalization that keeps unix_micros/cast("long")/JSON formats valid.
    ntz_cols = [c for c, t in dtypes.items() if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def schema_fingerprint(df: DataFrame) -> str:
    """Short stable hash of a DataFrame's (post-normalization) schema.

    Used to key derived ``.cache/`` materializations: if the lake's source
    schema — or this catalog's normalization — changes, the fingerprint
    changes and stale derivatives are regenerated instead of silently
    reused (the round-2 failure mode: a JSONL copy written under old
    timestamp semantics survived behind a ``_SUCCESS`` check)."""
    import hashlib

    return hashlib.sha256(df.schema.json().encode()).hexdigest()[:12]


def data_fingerprint(sf_dir: str, name: str) -> str:
    """Short stable hash of a source table's FILES (relative names, sizes,
    mtimes). Complements :func:`schema_fingerprint`: a regenerated fixture
    with an unchanged schema still changes this, so derivative caches keyed
    on it can never serve rows from superseded source data (the round-5
    advisor finding: ``events_shredded`` was schema-keyed only)."""
    import hashlib

    root = os.path.join(sf_dir, f"{name}.parquet")
    parts: list[str] = []
    if os.path.isdir(root):
        for dirpath, _dirnames, filenames in os.walk(root):
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()[:12]


def source_fingerprint(df: DataFrame, sf_dir: str, name: str) -> str:
    """Cache key for derived materializations of ``name``: schema fingerprint
    (catches normalization/semantics changes) × data fingerprint (catches
    same-schema data regeneration)."""
    import hashlib

    return hashlib.sha256(
        (schema_fingerprint(df) + data_fingerprint(sf_dir, name)).encode()
    ).hexdigest()[:12]


# Derivatives the engine materializes from the lake (JSONL/CSV/ORC copies,
# bucketed layouts, the MinHash store) live under <repo>/.cache/<sf name>/,
# one directory per derivative named "<prefix>-<source_fingerprint>".
CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")

# source_fingerprint's form: the only suffix a stale sibling may carry
_FINGERPRINT_RE = re.compile(r"[0-9a-f]{12}")


def cache_path(sf_dir: str, name: str, fingerprint: str = "") -> str:
    """``<repo>/.cache/<sf name>/<name>-<fingerprint>`` (``<name>`` alone
    without one) — pure path arithmetic. Keyed on the source fingerprint,
    a change in the lake's schema, the catalog's normalization or the data
    itself regenerates a derivative instead of reusing a stale one."""
    leaf = f"{name}-{fingerprint}" if fingerprint else name
    return os.path.join(CACHE_ROOT, os.path.basename(os.path.normpath(sf_dir)), leaf)


def prune_stale_siblings(path: str) -> None:
    """Delete the superseded fingerprints of the derivative at ``path``
    (``<prefix>-<fingerprint>``): exactly the siblings named ``<prefix>-``
    plus a 12-hex source fingerprint.

    Call it only AFTER the new derivative is fully written, so a session
    still planning a lazy read of its own (still valid) derivative is
    never raced by one that has not produced the replacement yet.

    Only fingerprints of the same prefix go: one table holds several live
    layouts at once (lineitem by orderkey and the partkey projection). The
    suffix must be exactly one fingerprint: a plain bucketed spec
    ``b32-<key>`` is a string prefix of every projected spec
    ``b32-<key>-p<hash>`` on the same key, and a prefix-only match would
    delete those live layouts. A retired spec's directories are left as
    orphans; clear ``.cache/<sf>`` to reclaim them.

    Single writer per ``.cache/<sf>`` tree (the driver, bench.py and the
    test suite each own theirs): pruning deletes files another live
    session may still have registered as an external table."""
    parent, leaf = os.path.split(path)
    prefix = leaf.rsplit("-", 1)[0] + "-"
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if (
            entry != leaf
            and entry.startswith(prefix)
            and _FINGERPRINT_RE.fullmatch(entry[len(prefix) :])
        ):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register every lake table as a temp view — the engine's `spark.sql`
    entry point (the Athena-style surface the reference planned,
    README.md:31). After this, ``spark.sql("SELECT ... FROM lineitem")``
    works; Catalyst produces the same plans as the DataFrame API."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


class Tables:
    """Lazy per-(session, sf_dir) table accessor used by query callables.

    ``t.lineitem`` loads on first access; repeated access within one query
    returns the same DataFrame object (same logical plan → Catalyst reuses
    the scan).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]
