"""``BatchStore._compact``, as every index's ``compact()`` uses it: after
compaction exactly one ``batch=<n>`` slot dir is left under each store
root (the manifest's only batch), and the index answers the same as an
uncompacted copy of itself — also when the committed batches hold no
rows at all."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.operators.dedup import (
    ExactDedupIndex,
    MinHashIndex,
)
from debezium_connector_yugabytedb_1_spark.operators.similarity import IvfIndex

from .test_dedup_scale import _seeded_docs
from .test_ivf_index import _emb


def _exact(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(60)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(900, "text 3"), (901, "brand new")], "doc_id long, text string"
    )

    def answer(idx):
        return sorted(
            (r["doc_id"], r["is_duplicate"], r["dup_of"]) for r in idx.add(probe).collect()
        )

    chunks = [docs.where(F.col("doc_id") % 3 == c) for c in range(3)]
    return lambda p: ExactDedupIndex(spark, p, n_parts=4), chunks, ["hashes"], answer


def _minhash(spark):
    # stored: the originals; probe: their near-dups, so every answer pair
    # joins the probe against stored postings and sets
    docs = _seeded_docs(spark, n_base=9)
    probe = docs.where(F.col("doc_id") % 2 == 1)

    def answer(idx):
        return sorted((r["doc_a"], r["doc_b"]) for r in idx.add(probe).collect())

    chunks = [docs.where(F.col("doc_id") % 6 == 2 * c) for c in range(3)]
    return lambda p: MinHashIndex(spark, p, k=3), chunks, ["buckets", "sets"], answer


def _ivf(spark):
    emb = _emb(spark)
    queries = emb.limit(10)

    def answer(idx):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in idx.query(queries, k=5, nprobe=4).collect()
        )

    def open_(p):
        idx = IvfIndex(spark, p, n_lists=8, n_parts=4)
        if not idx.trained:
            idx.train(emb)
        return idx

    chunks = [emb.where(F.col("vec_id") % 3 == c) for c in range(3)]
    return open_, chunks, ["vectors"], answer


@pytest.mark.parametrize("kind", [_exact, _minhash, _ivf], ids=["exact", "minhash", "ivf"])
def test_compact_leaves_one_slot_and_same_answers(spark, tmp_path, kind):
    open_, chunks, roots, answer = kind(spark)
    path, twin = str(tmp_path / "idx"), str(tmp_path / "twin")
    idx = open_(path)
    for chunk in chunks:
        idx.add(chunk)
    shutil.copytree(path, twin)
    idx.compact()
    (n,) = idx._manifest()
    for root in roots:
        slots = [d for d in os.listdir(os.path.join(path, root)) if d.startswith("batch=")]
        assert slots == [f"batch={n}"], root
    uncompacted = open_(twin)
    assert len(uncompacted._manifest()) == 3
    got = answer(idx)
    assert got and got == answer(uncompacted)


@pytest.mark.parametrize("kind", [_exact, _minhash, _ivf], ids=["exact", "minhash", "ivf"])
def test_compact_of_empty_batches(spark, tmp_path, kind):
    """Two adds of an empty batch, then ``compact()``: no crash, one slot
    dir per root, and the index answers as a fresh, empty one does."""
    open_, chunks, roots, answer = kind(spark)
    path = str(tmp_path / "idx")
    idx = open_(path)
    empty = chunks[0].where(F.lit(False))
    idx.add(empty)
    idx.add(empty)
    merged = idx.compact()
    (n,) = idx._manifest()
    assert merged == (n if kind is _ivf else 2)
    for root in roots:
        slots = [d for d in os.listdir(os.path.join(path, root)) if d.startswith("batch=")]
        assert slots == [f"batch={n}"], root
    assert answer(idx) == answer(open_(str(tmp_path / "fresh")))
