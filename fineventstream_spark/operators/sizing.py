"""Metadata-only input sizing + size-guarded broadcast.

One audited code path for every "pick the physical strategy from the scan
size" decision in the engine: the distributed-window family
(operators/rolling.py) and the broadcast-join guard below. The size probe
reads file metadata only — no Spark job.

Why a GUARD and not a blanket ``F.broadcast``: a forced broadcast hint on
a side that grows with the data (e.g. TPC-H ``part``, fixed ~1:30 ratio to
lineitem) is a scale-killer — Spark hard-fails broadcasts over 8 GB and
the driver/executors OOM collecting one long before that. The engine's
discipline is: hint only what is KNOWABLY small at plan time; otherwise
state the join declaratively and let AQE pick from runtime stats (which
also handles the case where a filter shrank the side at runtime).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ceiling for the broadcast guard (maybe_broadcast). Deliberately far
# under Spark's 8 GB hard limit and driver-memory comfort: a
# compressed-parquet scan of this size decompresses several-fold in the
# in-memory hash relation.
BROADCAST_MAX_INPUT_BYTES = 256 << 20


def scan_input_bytes(df: DataFrame) -> int | None:
    """Total size of the scan's backing files, or None when unknowable
    (in-memory relations, non-local filesystems). Metadata-only — no job."""
    files = files_signature(df)
    return None if files is None else sum(size for _, size, _ in files)


# memo: (input-file signatures, logical-plan hash, key cols) → hottest
# key's row share. Keyed on the PLAN too, not just the files: the same
# files filtered two different ways are different inputs, and a routing
# heuristic fed the wrong subset's share could mis-route (still only a
# perf hazard, never a correctness one — both window paths are
# value-identical). File signatures carry (path, size, mtime) so an
# in-place fixture rewrite invalidates every memo (same discipline as
# catalog.data_fingerprint).
_KEY_SHARE_MEMO: dict[tuple, object] = {}


def files_signature(df: DataFrame) -> tuple | None:
    """Stable identity of a DataFrame's backing files — (path, size,
    mtime_ns) per file, sorted — or None when not file-backed / not
    local. The memo key every eager-but-memoized probe hangs off.

    ``inputFiles()`` returns percent-encoded file URIs (spaces, non-ASCII
    in paths), so each path is unquoted before the stat; otherwise such
    datasets would always probe as unknowable."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sig = []
    for f in sorted(files):
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        p = unquote(u.path)
        try:
            st = os.stat(p)
        except OSError:
            return None
        sig.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sig)


def plan_hash(df: DataFrame) -> str:
    import hashlib

    return hashlib.sha256(
        df._jdf.queryExecution().logical().toString().encode()
    ).hexdigest()[:16]


def max_key_share(df: DataFrame, key_cols: list[str]) -> float | None:
    """Fraction of ``df``'s rows held by the hottest ``key_cols`` value —
    the per-PARTITION skew signal the total-bytes probe cannot see (r9
    verdict: a PARTITION BY window's straggler is the hot key's partition,
    2.43× tax measured on the 18%-hot-user zipf fixture).

    This is an EAGER, narrow aggregation job (key columns only, map-side
    partial), deliberately fenced by the callers to inputs already known
    small (< the serial-window threshold), and memoized per
    (file signatures, plan, keys) so each input pays it once per process.
    Returns None when the input is not file-backed (nothing stable to
    memo on — callers treat unknown as "assume skewed", the scale-safe
    default)."""
    files = files_signature(df)
    if files is None:
        return None
    memo_key = (files, plan_hash(df), tuple(key_cols))
    if memo_key in _KEY_SHARE_MEMO:
        return _KEY_SHARE_MEMO[memo_key]
    row = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("tot"))
        .first()
    )
    share = float(row["mx"]) / float(row["tot"]) if row and row["tot"] else 0.0
    _KEY_SHARE_MEMO[memo_key] = share
    return share


def hot_key_values(
    df: DataFrame, key_cols: list[str], min_share: float
) -> list[tuple] | None:
    """The ``key_cols`` values holding at least ``min_share`` of ``df``'s
    rows, as tuples — the bounded list a hot/cold split window partitions
    on (at most 1/min_share keys exist, so the list always broadcasts).
    Same eager-but-memoized discipline as :func:`max_key_share`; returns
    None for non-file-backed inputs (nothing stable to memo on)."""
    files = files_signature(df)
    if files is None or min_share <= 0:
        return None
    memo_key = ("hot", files, plan_hash(df), tuple(key_cols), round(min_share, 9))
    if memo_key in _KEY_SHARE_MEMO:
        return _KEY_SHARE_MEMO[memo_key]
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
    total = df.count()
    rows = counts.filter(F.col("__n") >= float(total) * min_share).collect()
    # hottest first, so a caller capping the list keeps the keys that
    # matter; a degenerate min_share (→ thousands of "hot" keys) must not
    # produce an unbounded isin literal downstream
    rows.sort(key=lambda r: -r["__n"])
    hot = [tuple(r[c] for c in key_cols) for r in rows]
    _KEY_SHARE_MEMO[memo_key] = hot
    return hot


# Ceiling under which a pre-kernel spread repartition is worth its
# shuffle: covers every local fixture (sf0.1 documents ≈ 3 MB, sf10 ≈
# 300 MB) with headroom, and is far under any scale where the scan's own
# split count already fills the cores.
KERNEL_SPREAD_MAX_INPUT_BYTES = 4 << 30


def spread_for_kernel(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` across all cores BEFORE a CPU-heavy Arrow kernel
    — but ONLY while the backing scan is knowably small.

    The unconditional ``repartition(n_cores, key)`` this replaces was
    tuned for local mode (guide §2.1): fixture files can be one huge
    row group and AQE coalesces small inputs to 1 partition, so without
    the spread the kernel runs serial on 31 idle cores. At cluster scale
    the same call re-shuffles the full text/vector payload for NOTHING —
    a 100 TB scan already has orders of magnitude more splits than cores,
    and AQE's advisory partition size keeps post-shuffle parallelism up.
    A partition-count probe cannot make this call (``.rdd`` sees the
    STATIC shuffle partition number, not AQE's coalesced runtime count),
    so the decision rides the same metadata-only size probe as the
    broadcast guard: spread while the scan is knowably under
    ``KERNEL_SPREAD_MAX_INPUT_BYTES`` (4 GiB); unknown or large means the
    input is lake-scale — skip, the scale-safe default. ``cols``
    (optional) keys the repartition, matching the call sites' previous
    hash-spread behavior at small scale.
    """
    nbytes = scan_input_bytes(df)
    if nbytes is None or nbytes >= KERNEL_SPREAD_MAX_INPUT_BYTES:
        return df
    n_cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_cores, *[F.col(c) for c in cols]) if cols else df.repartition(n_cores)


def broadcast_else_shuffle_hash(df: DataFrame, max_bytes: int) -> DataFrame:
    """Size-selected join-side strategy for a dim that GROWS with the data:
    broadcast while the scan is knowably under ``max_bytes``, else hint
    SHUFFLE_HASH (parallel per-partition builds; shuffles only this side
    and the co-keyed slim side — never a fact).

    Rationale (measured on TPC-H Q5's customer side, interleaved min-of-
    reps): the BroadcastExchange build is driver-serial and O(|dim|) —
    2.3 s for 4.5 M rows at sf30, where SHUFFLE_HASH wins (4.67 s vs
    5.34 s whole-query) despite re-sorting the slim side for the
    downstream SMJ; below ~32 MiB the build is cheaper than the extra
    shuffles (sf10: 1.91 vs 2.05; sf0.1: 0.65 vs 1.04). Unknown size
    picks SHUFFLE_HASH — the scale-safe default.
    """
    nbytes = scan_input_bytes(df)
    if nbytes is not None and nbytes < max_bytes:
        return F.broadcast(df)
    return df.hint("SHUFFLE_HASH")


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` only when the scan is knowably small.

    Returns ``df`` unhinted when the backing size is unknown or at/over
    ``BROADCAST_MAX_INPUT_BYTES`` (256 MiB) — AQE then chooses the join
    strategy from runtime stats. 0 disables hinting entirely.
    """
    nbytes = scan_input_bytes(df)
    if nbytes is not None and nbytes < BROADCAST_MAX_INPUT_BYTES:
        return F.broadcast(df)
    return df
