"""Persisted IVF-Flat index (`IvfIndex`) — the incremental ANN store.

Asserts: recall vs exact brute force, chunked-adds ≡ one-shot
equivalence, partition-pruned query reads (tested via scan stats, not
claimed), frozen-quantizer + geometry guards, compaction invariance,
and crash-safe manifest behavior (orphan batch dirs invisible).
"""

import os

import pytest
from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.operators.similarity import (
    IvfIndex,
    brute_force_topk,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _emb(spark):
    return spark.read.parquet(EMB).select("vec_id", "embedding")


def _res(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    idx = IvfIndex(spark, path, n_lists=8, n_parts=4)
    emb = _emb(spark)
    idx.train(emb)
    idx.add(emb)
    return idx


def test_recall_vs_brute_force(spark, built):
    emb = _emb(spark)
    queries = emb.limit(20)
    exact = {(q, n) for (q, n, _r) in _res(brute_force_topk(emb, queries, k=5))}
    # near-uniform synthetic embeddings have no cluster structure, so
    # recall tracks the probed corpus fraction (~5/8 here); clustered real
    # corpora recall far above it at the same nprobe
    approx = {(q, n) for (q, n, _r) in _res(built.query(queries, k=5, nprobe=5))}
    assert len(approx & exact) / len(exact) >= 0.8


def test_query_reads_only_probed_partitions(spark, built):
    queries = _emb(spark).limit(2)
    built.query(queries, k=3, nprobe=1)
    st = built.last_query_stats
    assert 0 < st["partitions_read"] < st["partitions_total"]
    assert st["lists_probed"] <= 2


def test_chunked_adds_equal_one_shot(spark, tmp_path):
    emb = _emb(spark)
    one = IvfIndex(spark, str(tmp_path / "one"), n_lists=8, n_parts=4)
    one.train(emb)
    one.add(emb)
    chunked = IvfIndex(spark, str(tmp_path / "chk"), n_lists=8, n_parts=4)
    chunked.train(emb)
    chunked.add(emb.where(F.col("vec_id") % 3 == 0))
    chunked.add(emb.where(F.col("vec_id") % 3 == 1))
    chunked.add(emb.where(F.col("vec_id") % 3 == 2))
    queries = emb.limit(10)
    assert _res(chunked.query(queries, k=5, nprobe=4)) == _res(
        one.query(queries, k=5, nprobe=4)
    )
    # compaction folds 3 batches into 1 without changing results
    before = _res(chunked.query(queries, k=5, nprobe=4))
    chunked.compact()
    assert chunked._manifest() == [3]
    assert _res(chunked.query(queries, k=5, nprobe=4)) == before
    # the compacted files must not carry the read-side `batch` partition
    # column as data (it would shadow the real partition col on every
    # later read and grow with repeated compactions)
    raw = spark.read.parquet(str(tmp_path / "chk" / "vectors" / "batch=3"))
    assert "batch" not in raw.columns
    # compacting a compacted store stays clean too
    chunked.compact()
    assert _res(chunked.query(queries, k=5, nprobe=4)) == before


def test_guards(spark, tmp_path, built):
    emb = _emb(spark)
    idx = IvfIndex(spark, str(tmp_path / "g"), n_lists=8, n_parts=4)
    with pytest.raises(ValueError, match="train"):
        idx.add(emb)
    with pytest.raises(ValueError, match="train"):
        idx.query(emb.limit(1))
    idx.train(emb)
    with pytest.raises(ValueError, match="frozen"):
        idx.train(emb)
    with pytest.raises(ValueError, match="immutable"):
        IvfIndex(spark, built.path, n_lists=16, n_parts=4)
    with pytest.raises(ValueError, match=">= 1"):
        IvfIndex(spark, str(tmp_path / "g2"), n_lists=0)


def test_empty_index_and_orphan_batch_invisible(spark, tmp_path):
    emb = _emb(spark)
    idx = IvfIndex(spark, str(tmp_path / "e"), n_lists=8, n_parts=4)
    idx.train(emb)
    assert idx.query(emb.limit(3), k=5).count() == 0  # nothing committed
    # simulate a crashed add(): batch dir exists, manifest never committed
    (
        idx._assigned(emb)
        .withColumn("lkey", F.pmod(F.col("list_id"), F.lit(4)).cast("int"))
        .write.partitionBy("lkey")
        .mode("overwrite")
        .parquet(os.path.join(idx._vectors, "batch=0"))
    )
    assert idx.query(emb.limit(3), k=5).count() == 0  # orphan stays invisible
    idx.add(emb)  # retried add reuses/overwrites the orphan slot
    assert idx._manifest() == [0]
    assert idx.query(emb.limit(3), k=5).count() > 0


def test_geometry_mismatch_on_foreign_params(spark, tmp_path):
    """A params.json lacking a geometry key (older/foreign store layout)
    must raise the descriptive mismatch error, not a bare KeyError."""
    import json

    path = str(tmp_path / "foreign")
    os.makedirs(path)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"n_lists": 8}, f)  # no n_parts / seed
    with pytest.raises(ValueError, match="immutable"):
        IvfIndex(spark, path, n_lists=8, n_parts=4)


def test_readded_id_resolves_to_latest_batch(spark, tmp_path):
    """Re-adding a vec_id with a DIFFERENT vector is an upsert: query()
    scores the latest batch's embedding, deterministically (the old
    dropDuplicates picked an arbitrary one), and compact() resolves the
    duplicate physically."""
    emb = _emb(spark)
    idx = IvfIndex(spark, str(tmp_path / "re"), n_lists=4, n_parts=2)
    idx.train(emb)
    idx.add(emb.limit(40))
    # re-add id 0 with the embedding of some other vector (id 7)
    swapped = (
        emb.where(F.col("vec_id") == 7)
        .select(F.lit(0).cast("long").alias("vec_id"), "embedding")
    )
    idx.add(swapped)
    queries = emb.where(F.col("vec_id") == 7).select(
        F.lit(999).cast("long").alias("vec_id"), "embedding"
    )
    # probe everything: id 0 must now score as an exact match to id 7's
    # vector (cosine ~1), proving the later batch won
    res = {r["neighbor_id"]: r["cosine"] for r in idx.query(queries, k=40, nprobe=4).collect()}
    assert res[0] == pytest.approx(1.0, abs=1e-6)
    before = _res(idx.query(queries, k=10, nprobe=4))
    # stable across repeated evaluation (determinism, not scan-order luck)
    assert before == _res(idx.query(queries, k=10, nprobe=4))
    # compaction applies the same rule physically: one row per vec_id
    idx.compact()
    stored, _, _ = idx._pruned_read(idx._vectors, "lkey", set(range(2)))
    assert stored.groupBy("vec_id").count().where("count > 1").count() == 0
    assert _res(idx.query(queries, k=10, nprobe=4)) == before


def test_readded_id_unprobed_list_documented_staleness(spark, tmp_path):
    """The upsert-visibility contract: a re-added vector whose new copy
    lives in an unprobed list deterministically scores the stale copy;
    compact() makes the upsert total."""
    import numpy as np
    import pandas as pd

    # 2 well-separated clusters so the quantizer yields 2 clean lists
    rng = np.random.RandomState(3)
    base = np.vstack([rng.normal(0, 0.05, (30, 8)) + np.array([1] + [0] * 7),
                      rng.normal(0, 0.05, (30, 8)) + np.array([0] * 7 + [1])])
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [r.astype("float32").tolist() for r in base]})
    emb = spark.createDataFrame(pdf)
    idx = IvfIndex(spark, str(tmp_path / "stale"), n_lists=2, n_parts=2)
    idx.train(emb)
    idx.add(emb)
    # move id 0 from cluster A to cluster B (new copy in the OTHER list)
    moved = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [base[35].astype("float32").tolist()]})
    )
    idx.add(moved)
    # query near cluster A with nprobe=1: probes only A's list → sees only
    # the stale copy of id 0, deterministically
    q = spark.createDataFrame(
        pd.DataFrame({"vec_id": [999], "embedding": [base[5].astype("float32").tolist()]})
    )
    r1 = _res(idx.query(q, k=60, nprobe=1))
    assert r1 == _res(idx.query(q, k=60, nprobe=1))  # deterministic
    assert any(n == 0 for (_q, n, _r) in r1)  # stale copy visible in list A
    # compact() resolves the upsert: id 0 now ONLY in cluster B's list
    idx.compact()
    r2 = _res(idx.query(q, k=60, nprobe=1))
    assert not any(n == 0 for (_q, n, _r) in r2)
