"""IVF index lifecycle (r13 verdict ask #2): epoch compaction + vector
tombstones, mirroring the minhash store's contract
(tests/test_incremental_dedup.py is the template):

- compaction folds every committed epoch into one new base with
  probe-identical results, preserved tags, and swept orphans;
- a torn compaction (crash before the sidecar commit) is invisible;
- tombstoned vector ids vanish from probes at commit time and are
  PHYSICALLY erased at the next compaction (the Delta/Iceberg delete
  contract the text store already honors).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.operators import epoch_store
from fineventstream_spark.operators.ann_index import (
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    query_ivf_index,
    tombstone_ivf_index,
)

QUERY = [round(math.sin(j + 1), 6) for j in range(64)]


def _topk(spark, path, k=10, nprobe=3):
    return {
        (r.vec_id, round(r.cosine_sim, 6))
        for r in query_ivf_index(
            spark, path, "embedding", "vec_id", QUERY, k=k, nprobe=nprobe
        ).collect()
    }


def _build_with_appends(spark, sf_dir, path):
    emb = Tables(spark, sf_dir).embeddings
    build_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0), "embedding", "vec_id", path,
        n_lists=8, iterations=3,
    )
    append_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 1), "embedding", "vec_id", path,
        tag="day:1",
    )
    append_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 2), "embedding", "vec_id", path,
        tag="day:2",
    )
    return emb


def test_ivf_compaction_probe_equivalence_and_tags(spark, sf_dir, tmp_path):
    """Compaction is pure storage maintenance: probes are identical
    pre/post, committed tags stay no-ops, superseded epoch dirs are
    swept, and a second compaction is a no-op."""
    path = str(tmp_path / "ivf")
    emb = _build_with_appends(spark, sf_dir, path)
    before = _topk(spark, path)
    meta0 = epoch_store.load(path)
    assert meta0["epochs"] == [0, 1, 2]

    assert compact_ivf_index(spark, path) is True
    meta = epoch_store.load(path)
    assert meta["epochs"] == [3]
    assert _topk(spark, path) == before
    # counts re-derived from the rewritten base must cover the full corpus
    assert sum(meta["list_counts"].values()) == emb.count()
    # committed tags survive: a replayed append is still a no-op
    n_before = sum(meta["list_counts"].values())
    replay = append_ivf_index(
        Tables(spark, sf_dir).embeddings.filter(F.col("vec_id") % 3 == 1),
        "embedding", "vec_id", path, tag="day:1",
    )
    assert sum(replay["list_counts"].values()) == n_before
    # superseded epoch dirs swept; only the new base remains
    assert sorted(os.listdir(os.path.join(path, "vectors"))) == ["e=3"]
    # single-epoch, no-tombstone store: compaction is a no-op
    assert compact_ivf_index(spark, path) is False


def test_ivf_torn_compaction_is_invisible(spark, sf_dir, tmp_path, monkeypatch):
    """A crash between the compacted-epoch write and the sidecar commit
    leaves the index fully serving the OLD manifest; the re-run
    overwrites the orphan and commits."""
    path = str(tmp_path / "ivf")
    _build_with_appends(spark, sf_dir, path)
    before = _topk(spark, path)

    def crashing_commit(p, meta):
        raise RuntimeError("simulated crash before sidecar commit")

    monkeypatch.setattr(epoch_store, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_ivf_index(spark, path)
    monkeypatch.undo()

    # orphan e=3 exists on disk but the manifest never saw it
    assert os.path.isdir(os.path.join(path, "vectors", "e=3"))
    assert epoch_store.load(path)["epochs"] == [0, 1, 2]
    assert _topk(spark, path) == before
    # re-run overwrites the orphan and commits cleanly
    assert compact_ivf_index(spark, path) is True
    assert epoch_store.load(path)["epochs"] == [3]
    assert _topk(spark, path) == before


def test_ivf_tombstone_retracts_and_compaction_erases(spark, sf_dir, tmp_path):
    """Tombstoned ids vanish from probes at commit (k still filled by
    the next-best neighbors), a tagged replay is a no-op, and the next
    compaction PHYSICALLY erases the vectors and clears the list."""
    path = str(tmp_path / "ivf")
    _build_with_appends(spark, sf_dir, path)
    base = sorted(_topk(spark, path), key=lambda t: -t[1])
    victim = base[0][0]  # retract the top neighbor

    ids = spark.createDataFrame([(victim,)], "vec_id long")
    assert tombstone_ivf_index(ids, path, tag="takedown:1") is True
    # tagged replay is a no-op
    assert tombstone_ivf_index(ids, path, tag="takedown:1") is False

    after = _topk(spark, path)
    assert victim not in {i for i, _ in after}, "retracted id still a neighbor"
    assert len(after) == 10, "anti-join must happen before top-k, not after"
    # everything else unchanged: after == base minus victim plus one backfill
    assert {i for i, _ in base[1:]} <= {i for i, _ in after}

    # physical erasure at compaction
    assert compact_ivf_index(spark, path) is True
    meta = epoch_store.load(path)
    assert meta["tombstone_epochs"] == []
    assert not os.path.isdir(os.path.join(path, "tombstones")) or not os.listdir(
        os.path.join(path, "tombstones")
    )
    vec_root = os.path.join(path, "vectors")
    raw = spark.read.parquet(
        *[os.path.join(vec_root, e) for e in os.listdir(vec_root)]
    )
    assert raw.filter(F.col("vec_id") == victim).count() == 0, (
        "tombstoned vector survived compaction on disk"
    )
    assert _topk(spark, path) == after


def test_ivf_tombstone_epoch_numbers_never_alias(spark, sf_dir, tmp_path):
    """The shared epoch counter: an append AFTER a tombstone must not
    reuse the tombstone's epoch number (a reused number would make the
    orphan sweep or a torn replay delete committed data)."""
    path = str(tmp_path / "ivf")
    emb = _build_with_appends(spark, sf_dir, path)  # epochs [0,1,2]
    tombstone_ivf_index(
        spark.createDataFrame([(1,)], "vec_id long"), path
    )  # tombstone epoch 3
    meta = append_ivf_index(
        emb.filter(F.col("vec_id") == 2), "embedding", "vec_id", path
    )
    assert meta["tombstone_epochs"] == [3]
    assert meta["epochs"] == [0, 1, 2, 4], "append aliased the tombstone epoch"


def test_ivf_query_still_prunes_partitions_with_tombstones(spark, sf_dir, tmp_path):
    """The tombstone anti-join must not defeat partition pruning: the
    bucket filter still reaches PartitionFilters below the join."""
    path = str(tmp_path / "ivf")
    _build_with_appends(spark, sf_dir, path)
    tombstone_ivf_index(spark.createDataFrame([(1,)], "vec_id long"), path)
    got = query_ivf_index(spark, path, "embedding", "vec_id", QUERY, k=5, nprobe=2)
    plan = spark._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "ivf_bucket" in seg[1][:300], (
        "partition pruning lost below the tombstone anti-join"
    )
