"""Lake maintenance: small-file compaction.

A micro-batch sink writing every ≤10 s (the reference's cadence,
terraform/lambda.tf:53) produces thousands of tiny objects per partition
per day — the classic small-files problem that degrades every later scan
(footer fetches dominate I/O). Compaction rewrites a partition's files
into ~target-sized ones; run it per closed partition (e.g. the previous
hour) so it never races the live writer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def compact_partition(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite one partition directory into ⌈size/target⌉ files.

    Returns the resulting file count. Uses a rewrite-to-temp + atomic-ish
    swap; on a real object store this would be a commit-protocol rename.
    """
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith("_") and not f.startswith(".")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.format(fmt).load(path)
    tmp = path.rstrip("/") + "__compacting"
    df.coalesce(n_files).write.mode("overwrite").format(fmt).save(tmp)
    backup = path.rstrip("/") + "__old"
    os.rename(path, backup)
    os.rename(tmp, path)
    import shutil

    shutil.rmtree(backup, ignore_errors=True)
    return n_files


def should_compact(
    path: str,
    max_files: int = 32,
    min_mean_bytes: int = 8 * 1024 * 1024,
) -> bool:
    """Compaction trigger policy for one CLOSED partition (r11, calibrated
    in BASELINE.md "Small-files / compaction evidence"): compact when the
    partition holds more than ``max_files`` data files OR their mean size
    is under ``min_mean_bytes``.

    Rationale, measured at sf10 (BASELINE r11): a micro-batch lake at the
    reference's object size (~64 writers × hourly partitions ≈ 200-row
    files) scans several times slower than its compacted form — per-file
    footer reads and task scheduling dominate, not data bytes. Both
    thresholds matter: file COUNT bounds scheduler/footer overhead
    (32 × 128 MiB target ≈ a 4 GiB partition before a second wave is
    justified), mean SIZE catches the many-tiny-files shape even when the
    count looks moderate. Run per closed partition (previous hour) so the
    rewrite never races the live writer; cost is one read+write of the
    partition (compact_partition)."""
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    ]
    if len(files) <= 1:
        return False
    if len(files) > max_files:
        return True
    mean = sum(os.path.getsize(f) for f in files) / len(files)
    return mean < min_mean_bytes


def vacuum_upsert_versions(path: str, keep: int = 2) -> list[int]:
    """Drop old snapshot versions of an upsert table (streaming/sink.py
    ``upsert_stream``), keeping the current one plus ``keep-1`` most
    recent predecessors for in-flight readers. Never touches the version
    the ``_CURRENT`` pointer names, whatever ``keep`` says — vacuum can
    race the writer but never the readers' committed view.

    Returns the versions removed."""
    import json
    import shutil

    with open(os.path.join(path, "_CURRENT")) as f:
        current = json.load(f)["version"]
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=") and os.path.isdir(os.path.join(path, d))
    )
    keep_set = set(versions[-keep:]) | {current}
    removed = []
    for v in versions:
        if v not in keep_set:
            shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed
