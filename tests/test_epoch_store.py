"""Reads of the epoch store (operators/epoch_store.py) start no Spark job.

Both persisted indexes read their tables with the reader schema recorded in
the manifest. A reader built by schema inference runs a footer-reading job
(and a listing) every time a probe is constructed; this pins that no such
job runs, for each store, after a build, an append and a tombstone.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.operators import ann_index, dedup

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


def _text(i: int) -> str:
    return " ".join(WORDS[(i * 3 + j) % len(WORDS)] for j in range(12))


def _minhash_read(spark, sf_dir, path):
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(40)], "doc_id long, text string"
    )
    dedup.build_minhash_store(docs.filter(F.col("doc_id") < 20), "text", "doc_id", path)
    _, new_sigs = dedup.incremental_dedup_against_store(
        spark, path, docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
        return_new_sigs=True,
    )
    assert dedup.append_minhash_store(new_sigs, path, tag="day:1")
    assert dedup.tombstone_minhash_store(
        spark.createDataFrame([(0,)], "rep_id long"), path
    )
    shard = spark.createDataFrame(
        [(100, _text(5)), (101, _text(77))], "doc_id long, text string"
    )
    return lambda: dedup.incremental_dedup_against_store(
        spark, path, shard, "text", "doc_id", threshold=0.5
    )


def _ivf_read(spark, sf_dir, path):
    emb = Tables(spark, sf_dir).embeddings
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        n_lists=4, iterations=2,
    )
    ann_index.append_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1), "embedding", "vec_id", path,
        tag="day:1",
    )
    assert ann_index.tombstone_ivf_index(
        spark.createDataFrame([(1,)], "vec_id long"), path
    )
    query = [round(math.sin(j + 1), 6) for j in range(64)]
    return lambda: ann_index.query_ivf_index(
        spark, path, "embedding", "vec_id", query, k=5, nprobe=2
    )


@pytest.mark.parametrize("store", ["minhash", "ivf"])
def test_store_read_starts_no_job(spark, sf_dir, tmp_path, store):
    setup = {"minhash": _minhash_read, "ivf": _ivf_read}[store]
    construct = setup(spark, sf_dir, str(tmp_path / store))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"epoch-store-read-{store}"
    sc.setJobGroup(group, "construct a store read")
    try:
        construct()
        # the status store is fed by the listener bus: drain it before
        # asking which jobs the group started
        bus.waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], f"constructing the {store} read started jobs {jobs}"
