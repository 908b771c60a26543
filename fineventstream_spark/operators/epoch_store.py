"""Epoch store: the commit protocol of the engine's persisted indexes.

The MinHash fingerprint store (``operators/dedup.py``) and the persisted
IVF index (``operators/ann_index.py``) keep their rows in the same shape
and land every write exactly once the same way; this module owns that
protocol, and the two stores own only what they index.

Layout of a store at ``path``::

    _MANIFEST.json     the manifest; replacing it is the only commit point
    <table>/e=N/       one directory per epoch of each of the store's tables
    tombstones/e=N/    ids retracted from every table

The manifest holds ``epochs`` (committed data epochs, shared by all
tables), ``tombstone_epochs``, ``tags`` (caller idempotence key → the epoch
it committed), ``id_col`` (the column tombstones name), ``schemas`` (each
table's reader schema: data columns, partition columns, then ``e``), and
whatever spec the owning store adds (hash parameters, centroids, counts).

The protocol:

- **One epoch counter.** A new epoch is one past the largest data OR
  tombstone epoch, so its directory never aliases a committed one.
- **Write, then commit.** An epoch's directories are written first, where
  no reader looks; the manifest is then written to a temp file and
  ``os.replace``d over the old one. A crash before the replace leaves an
  orphan directory; a re-run overwrites it with the same rows.
- **Tags.** An append or tombstone whose ``tag`` is already in the
  manifest is a no-op, so a replayed streaming batch commits once — the
  foreachBatch exactly-once recipe, and the reference's high-water
  idempotence (producer_company_news.py:128-141).
- **Reads.** Only committed epochs, with the recorded schema, never by
  inference (an inferred reader costs a footer job and a listing on every
  probe), minus the committed tombstones. The anti-join sits above the
  scan, so a caller's partition filter still prunes files.
- **Tombstones.** A tombstone epoch names ids whose rows readers must no
  longer see (takedown, licensing, user deletion); the rows stay on disk
  until compaction.
- **Compaction.** The owning store rewrites its tables from the committed,
  tombstone-filtered reads as one new epoch; the commit sets
  ``epochs=[new]`` and clears the tombstones (the physical erasure point,
  as in Delta or Iceberg) and keeps the tags, so a committed tag stays a
  no-op. Every on-disk epoch outside the manifest is then swept; a store
  with one epoch and no tombstones is only swept.
- **One writer per store**, as for every ``.cache`` derivative; readers
  need no lock.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fineventstream_spark.operators.sizing import maybe_broadcast

MANIFEST = "_MANIFEST.json"
TOMBSTONES = "tombstones"

# write(meta, epoch): write the tables' rows for ``epoch``; it may update
# the owning store's own manifest keys, which commit with the epoch
Writer = Callable[[dict, int], None]


def epoch_dir(path: str, table: str, epoch: int) -> str:
    return os.path.join(path, table, f"e={epoch}")


def _reader_schema(schema: StructType) -> dict:
    sch = json.loads(schema.json())
    sch["fields"].append({"name": "e", "type": "integer", "nullable": True, "metadata": {}})
    return sch


def create(path: str, id_col: str, schemas: dict[str, StructType], **spec) -> None:
    """Commit a new store whose tables' epoch 0 is already written.
    ``schemas`` maps each table to the schema of the frame written into
    it, partition column last."""
    id_field = next(f for s in schemas.values() for f in s.fields if f.name == id_col)
    tables = {**schemas, TOMBSTONES: StructType([id_field])}
    meta = {
        **spec,
        "epochs": [0],
        "tombstone_epochs": [],
        "tags": {},
        "id_col": id_col,
        "schemas": {t: _reader_schema(s) for t, s in tables.items()},
    }
    commit(path, meta)


def load(path: str) -> dict:
    manifest = os.path.join(path, MANIFEST)
    if not os.path.exists(manifest):
        raise FileNotFoundError(f"no epoch store at {path} (missing {MANIFEST})")
    with open(manifest) as fh:
        return json.load(fh)


def commit(path: str, meta: dict) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))


def committed(path: str, tag: str) -> bool:
    return tag in load(path)["tags"]


def read(spark: SparkSession, path: str, meta: dict, table: str) -> DataFrame:
    """The committed rows of ``table`` (``e`` dropped), minus tombstoned ids."""
    epochs = meta["tombstone_epochs"] if table == TOMBSTONES else meta["epochs"]
    df = (
        spark.read.schema(StructType.fromJson(meta["schemas"][table]))
        .option("basePath", os.path.join(path, table))
        .parquet(*[epoch_dir(path, table, e) for e in epochs])
        .drop("e")
    )
    if table == TOMBSTONES or not meta["tombstone_epochs"]:
        return df
    # retraction lists are tiny next to the store: broadcast while knowably
    # small keeps the anti-join map-side
    tomb = read(spark, path, meta, TOMBSTONES)
    return df.join(maybe_broadcast(tomb), meta["id_col"], "left_anti")


def _next_epoch(meta: dict) -> int:
    return max(meta["epochs"] + meta["tombstone_epochs"]) + 1


def _add_epoch(path: str, key: str, write: Writer, tag: str | None) -> dict | None:
    if tag is not None and committed(path, tag):
        return None
    meta = load(path)
    epoch = _next_epoch(meta)
    write(meta, epoch)
    meta[key] = meta[key] + [epoch]
    if tag is not None:
        meta["tags"][tag] = epoch
    commit(path, meta)
    return meta


def append(path: str, write: Writer, tag: str | None = None) -> dict | None:
    """Commit ``write``'s rows as the next data epoch. Returns the committed
    manifest, or None when ``tag`` had already committed."""
    return _add_epoch(path, "epochs", write, tag)


def tombstone(
    ids: DataFrame, path: str, id_col: str | None = None, tag: str | None = None
) -> bool:
    """Retract the ids in ``ids[id_col]`` (default: the store's id column)
    from every table. Returns True when the tombstone epoch committed."""

    def write(meta: dict, epoch: int) -> None:
        store_id = meta["id_col"]
        id_type = StructType.fromJson(meta["schemas"][TOMBSTONES])[store_id].dataType
        (
            ids.select(F.col(id_col or store_id).cast(id_type).alias(store_id))
            .distinct()
            .write.mode("overwrite")
            .parquet(epoch_dir(path, TOMBSTONES, epoch))
        )

    return _add_epoch(path, "tombstone_epochs", write, tag) is not None


def compact(path: str, rewrite: Writer) -> bool:
    """Fold every committed epoch into one: ``rewrite`` writes each table's
    :func:`read` into the new epoch. Returns False when there was nothing
    to fold (orphans are swept either way)."""
    meta = load(path)
    if len(meta["epochs"]) <= 1 and not meta["tombstone_epochs"]:
        # a crash during an earlier compaction's sweep strands superseded
        # epochs that no later fold would name
        _sweep(path, meta, set(meta["epochs"]))
        return False
    epoch = _next_epoch(meta)
    rewrite(meta, epoch)
    meta["epochs"] = [epoch]
    meta["tombstone_epochs"] = []
    commit(path, meta)
    _sweep(path, meta, {epoch})
    return True


def _sweep(path: str, meta: dict, keep: set[int]) -> None:
    """Remove every on-disk ``e=N`` of the store's tables not in ``keep``."""
    for table in meta["schemas"]:
        root = os.path.join(path, table)
        if not os.path.isdir(root):
            continue
        for entry in os.listdir(root):
            if entry.startswith("e=") and entry[2:].isdigit() and int(entry[2:]) not in keep:
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
