"""Scale-path correctness for the dedup operators: MinHash-LSH verify is
candidate-only yet exact (subset of the exhaustive pairs, high recall on
genuine near-dupes), and SimHash is pure JVM (no Python node in the plan)."""

import pyspark.sql.functions as F
import pytest

from debezium_connector_yugabytedb_1_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _seeded_docs(spark, n_base=40, words_per_doc=30):
    """Deterministic corpus: n_base originals + a near-dup of each (one word
    in words_per_doc changed → shingle Jaccard well above 0.5)."""
    rows = []
    for i in range(n_base):
        toks = [_WORDS[(i * 7 + j * 3) % len(_WORDS)] + str((i + j * 5) % 97)
                for j in range(words_per_doc)]
        rows.append((i * 2, " ".join(toks)))
        near = list(toks)
        near[words_per_doc // 2] = "CHANGED" + str(i)
        rows.append((i * 2 + 1, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_subset_of_exact(spark):
    docs = _seeded_docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=64).collect()
    }
    lsh_rows = minhash_lsh_pairs(docs, k=3, threshold=0.5, max_df=64).collect()
    lsh = {(r["doc_a"], r["doc_b"]) for r in lsh_rows}
    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"
    # verify stats match the exact pass for the shared pairs
    ex_by_pair = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["na"], r["nb"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=64).collect()
    }
    for r in lsh_rows:
        assert (r["inter"], r["na"], r["nb"]) == ex_by_pair[(r["doc_a"], r["doc_b"])]
    # recall: every seeded near-dup pair (2i, 2i+1) has J >= ~0.8; with
    # 8 bands x 4 rows the S-curve detection prob at J=0.8 is ~0.985 per
    # pair, so demand >= 90% of the exact seeded pairs
    seeded = {p for p in exact if p[1] == p[0] + 1 and p[0] % 2 == 0}
    found = len(seeded & lsh)
    assert found >= 0.9 * len(seeded)
    assert len(seeded) >= 30  # the corpus actually seeds near-dupes


def test_minhash_verify_plan_has_no_full_pair_generation(spark):
    """The verify step must not invoke the all-pairs exact computation: its
    plan joins candidates to per-doc shingle sets (array_intersect), so the
    pair-generation slice/transform expression of ngram_jaccard_pairs must
    be absent."""
    docs = _seeded_docs(spark, n_base=4)
    plan = minhash_lsh_pairs(docs, max_df=64)._jdf.queryExecution().toString()
    assert "array_intersect" in plan
    assert "slice(" not in plan  # the all-pairs posting-list expansion


def test_simhash_pure_jvm_and_deterministic(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # identical
            (3, "the quick brown fox leaps over the lazy dog"),  # near
            (4, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    sig = simhash_signatures(docs)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    rows = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert rows[1] == rows[2]
    ham = bin((rows[1] ^ rows[3]) & ((1 << 64) - 1)).count("1")
    assert ham <= 16, f"near-identical docs should be close in Hamming space, got {ham}"
    ham_far = bin((rows[1] ^ rows[4]) & ((1 << 64) - 1)).count("1")
    assert ham_far > ham
    pairs = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()}
    assert (1, 2) in pairs


def test_simhash_hash_aggregate_not_sort(spark):
    """The 64 vote counters are fixed-width longs — the plan must use hash
    aggregation (map-side combinable), not a sort-based fallback."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = simhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_simhash_distinct_token_votes_equal_per_occurrence(spark):
    """The distinct-token weighted voting must be bit-for-bit identical to
    naive per-occurrence voting (the pre-aggregation is a pure perf
    rewrite)."""
    from functools import reduce

    docs = _seeded_docs(spark, n_base=8)
    # rebuild the per-occurrence variant inline (the old implementation)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.xxhash64("tok")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(64)
        ]
    )
    one = F.lit(1).cast("long")
    sig = reduce(
        lambda acc, j: acc.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(one, j)).otherwise(F.lit(0).cast("long"))
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    naive = {r["doc_id"]: r["s"] for r in votes.select("doc_id", sig.alias("s")).collect()}
    fast = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert naive == fast


def test_minhash_rejects_indivisible_bands(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, n_hashes=32, bands=7)


def test_minhash_index_incremental_equals_batch(spark, tmp_path):
    """Feeding the corpus through MinHashIndex in chunks yields exactly the
    one-shot minhash_lsh_pairs output (max_df=None): every pair appears in
    the add() of the chunk that completes it, with identical verify stats."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _seeded_docs(spark)
    want = {
        (r["doc_a"], r["doc_b"], r["inter"], r["na"], r["nb"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.5, max_df=None).collect()
    }
    idx = MinHashIndex(spark, str(tmp_path / "mhidx"), k=3, threshold=0.5)
    got = set()
    for i in range(3):
        chunk = docs.where(F.col("doc_id") % 3 == i)
        rows = idx.add(chunk).collect()
        new = {(r["doc_a"], r["doc_b"], r["inter"], r["na"], r["nb"]) for r in rows}
        assert not (new & got), "a pair must be emitted by exactly one add()"
        got |= new
    assert got == want
    assert len(want) >= 30  # the corpus genuinely seeds near-dup pairs


def test_minhash_index_rejects_readd(spark, tmp_path):
    """Adding an already-indexed doc_id must fail fast: silent duplicate
    postings/sets rows would inflate every later add()'s verify pairs."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _seeded_docs(spark, n_base=6)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), k=3)
    idx.add(docs.where(F.col("doc_id") < 6)).collect()
    with pytest.raises(ValueError, match="already indexed"):
        idx.add(docs.where(F.col("doc_id") < 2))


def test_minhash_index_failed_write_waits_out_writers(spark, tmp_path, monkeypatch):
    """A failed store write fails the add with the manifest unchanged, and
    only once the sibling write has finished: no writer pool thread outlives
    the call (a caller may delete the store directory on error)."""
    import os
    import threading
    import time

    from pyspark.sql import DataFrameWriter

    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _seeded_docs(spark, n_base=6)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), k=3)
    idx.add(docs.where(F.col("doc_id") < 3)).collect()
    before = idx._manifest()
    parquet = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if f"{os.sep}buckets{os.sep}" in path:
            raise OSError("injected store write failure")
        time.sleep(2)  # the sets write still runs when the buckets write fails
        return parquet(self, path, *args, **kwargs)

    def pool_threads():
        return {
            t for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
        }

    running = pool_threads()
    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(OSError, match="injected"):
        idx.add(docs.where(F.col("doc_id") >= 3))
    assert not pool_threads() - running
    assert idx._manifest() == before


def test_minhash_index_pruned_reads_bounded_and_compact(spark, tmp_path):
    """The 100 TB claim, tested: an increment's reads are bounded by the
    partitions its own buckets/candidates touch, NOT by corpus size —
    and compact() collapses the per-batch directory growth while
    preserving every pair the one-shot batch run finds."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _seeded_docs(spark, n_base=24)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), k=3)
    # 4 committed batches of 10 docs each → postings spread over many pkeys
    for i in range(4):
        idx.add(docs.where((F.col("doc_id") >= i * 10) & (F.col("doc_id") < (i + 1) * 10)))
    # a small increment (one near-dup pair) touches few (band,bucket)s:
    # 2 docs × 8 bands = ≤16 of the 64 pkeys — reads must NOT scale with
    # the stored corpus's partition count
    small = docs.where(F.col("doc_id").isin(40, 41))
    pairs = {(r["doc_a"], r["doc_b"]) for r in idx.add(small).collect()}
    st = idx.last_add_stats
    assert st["posting_partitions_read"] < st["posting_partitions_total"], st
    assert st["set_partitions_read"] < st["set_partitions_total"], st
    # read <= total must hold per scan BY CONSTRUCTION (guard and verify
    # are reported separately — r6: the summed form could exceed 1)
    assert st["guard_set_partitions_read"] <= st["guard_set_partitions_total"], st
    assert (40, 41) in pairs
    # compact: 5 batches → 1; totals drop to O(parts); results preserved
    assert idx.compact() == 5
    assert idx._manifest() == [5]
    last = docs.where(F.col("doc_id").isin(44, 45))
    pairs2 = {(r["doc_a"], r["doc_b"]) for r in idx.add(last).collect()}
    assert (44, 45) in pairs2
    st2 = idx.last_add_stats
    assert st2["posting_partitions_total"] <= 64, st2
    assert st2["set_partitions_total"] <= 64, st2
    # full-corpus ground truth over exactly the ids added: the union of
    # all adds == the one-shot batch run
    added = (F.col("doc_id") < 40) | F.col("doc_id").isin(40, 41, 44, 45)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs.where(added), k=3, threshold=0.5, max_df=None
        ).collect()
    }
    got = set()
    idx2 = MinHashIndex(spark, str(tmp_path / "idx2"), k=3)
    for i in range(4):
        got |= {
            (r["doc_a"], r["doc_b"])
            for r in idx2.add(
                docs.where((F.col("doc_id") >= i * 10) & (F.col("doc_id") < (i + 1) * 10))
            ).collect()
        }
        if i == 1:
            idx2.compact()  # mid-stream compaction must not lose pairs
    got |= {(r["doc_a"], r["doc_b"]) for r in idx2.add(small).collect()}
    got |= {(r["doc_a"], r["doc_b"]) for r in idx2.add(last).collect()}
    assert got == want


def test_minhash_index_geometry_pinned_and_crash_safe(spark, tmp_path):
    """Reopening with a different hash geometry must fail fast (stored
    postings would silently join an incomparable hash family), and a
    crashed add() — batch dirs written but not manifest-committed — is
    invisible to readers and safely overwritten by the retry."""
    import os

    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _seeded_docs(spark, n_base=12)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.5, max_df=None).collect()
    }
    path = str(tmp_path / "idx")
    idx = MinHashIndex(spark, path, k=3)
    c0 = docs.where(F.col("doc_id") % 2 == 0)
    c1 = docs.where(F.col("doc_id") % 2 == 1)
    got = {(r["doc_a"], r["doc_b"]) for r in idx.add(c0).collect()}
    with pytest.raises(ValueError, match="geometry is immutable"):
        MinHashIndex(spark, path, k=4)
    # simulate a crashed add(): a batch dir exists (any content — readers
    # never open uncommitted dirs) but the manifest was never updated
    c1.limit(5).write.mode("overwrite").parquet(
        os.path.join(path, "buckets", "batch=1")
    )  # sets half never written, manifest never committed
    assert idx._manifest() == [0]
    # the retry overwrites the orphan slot and commits both halves
    got |= {(r["doc_a"], r["doc_b"]) for r in idx.add(c1).collect()}
    assert got == want
    assert idx._manifest() == [0, 1]


# ------------------------------------------------- incremental exact index
def test_exact_index_chunked_equals_oneshot_and_pruned(spark, tmp_path):
    from debezium_connector_yugabytedb_1_spark.operators.dedup import ExactDedupIndex

    docs = spark.createDataFrame(
        [(i, f"text {i % 37}") for i in range(200)], "doc_id long, text string"
    )

    def flags(chunks, name):
        idx = ExactDedupIndex(spark, str(tmp_path / name), n_parts=8)
        outs = [idx.add(docs.where(c)) for c in chunks]
        got = {}
        for o in outs:
            for r in o.collect():
                got[r["doc_id"]] = (r["is_duplicate"], r["dup_of"])
        return idx, got

    one_idx, one = flags([F.lit(True)], "one")
    chk_idx, chk = flags(
        [F.col("doc_id") < 80, F.col("doc_id").between(80, 139), F.col("doc_id") >= 140],
        "chk",
    )
    assert one == chk and len(one) == 200
    # every non-winner points at the global first occurrence (min doc_id)
    assert all(d == i % 37 for i, (dup, d) in chk.items() if dup)
    # later adds read only the touched hash partitions, and fewer dirs than
    # the store's total listing (3 batches x 8 parts by then)
    st = chk_idx.last_add_stats
    assert 0 < st["hash_partitions_read"] <= st["hash_partitions_total"]
    # compact: 3 batches -> 1, results preserved on a follow-up add
    assert chk_idx.compact() == 3
    after = chk_idx.add(
        spark.createDataFrame([(900, "text 5"), (901, "brand new")], "doc_id long, text string")
    ).collect()
    m = {r["doc_id"]: (r["is_duplicate"], r["dup_of"]) for r in after}
    assert m[900] == (True, 5) and m[901] == (False, None)


def test_exact_index_geometry_and_orphan(spark, tmp_path):
    from debezium_connector_yugabytedb_1_spark.operators.dedup import ExactDedupIndex

    docs = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    p = str(tmp_path / "g")
    idx = ExactDedupIndex(spark, p, n_parts=4)
    idx.add(docs)
    with pytest.raises(ValueError, match="immutable"):
        ExactDedupIndex(spark, p, n_parts=8)
    # orphan batch dir (crashed add) is invisible: manifest rules
    import os
    os.makedirs(os.path.join(p, "hashes", "batch=99", "hkey=0"), exist_ok=True)
    out = ExactDedupIndex(spark, p, n_parts=4).add(
        spark.createDataFrame([(3, "a")], "doc_id long, text string")
    ).collect()
    assert out[0]["is_duplicate"] and out[0]["dup_of"] == 1


def test_exact_index_null_text_not_dropped(spark, tmp_path):
    """Regression: md5(NULL) is NULL and every join would silently drop
    NULL-text rows — they get a sentinel key and dedup together (the
    dedup_exact null-group semantics)."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import ExactDedupIndex

    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "doc_id long, text string"
    )
    idx = ExactDedupIndex(spark, str(tmp_path / "n"), n_parts=4)
    out = {r["doc_id"]: (r["is_duplicate"], r["dup_of"]) for r in idx.add(docs).collect()}
    assert len(out) == 3                      # nothing vanished
    assert out[2] == (False, None) and out[3] == (True, 2)
    # empty-store compact over zero-row batches is a no-op, not a crash
    e = ExactDedupIndex(spark, str(tmp_path / "e"), n_parts=4)
    empty = docs.where("doc_id < 0")
    e.add(empty); e.add(empty)
    assert e.compact() == 2


def test_pair_joins_never_broadcast_unbounded_side(spark, tmp_path, monkeypatch):
    """r7: downstream of localCheckpoint the planner sees fabricated stats
    and picked the unbounded pair-expansion side as a broadcast build
    (8 GiB abort at sf1.0). The verify joins are pinned: small inputs
    broadcast the doc-bounded sizes side explicitly; non-small inputs
    force sort-merge — and both regimes return identical rows."""
    import debezium_connector_yugabytedb_1_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, f"w{i%7} common text words here and more body {i%5} tail") for i in range(60)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    fdocs = spark.read.parquet(p)

    small = D.ngram_jaccard_pairs(fdocs, k=3, threshold=0.5, max_df=256)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    rows_small = sorted(tuple(r) for r in small.collect())

    monkeypatch.setattr(D, "_small_input", lambda df, max_bytes=0: False)
    big = D.ngram_jaccard_pairs(fdocs, k=3, threshold=0.5, max_df=256)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_big
    rows_big = sorted(tuple(r) for r in big.collect())
    assert rows_small == rows_big

    mh_small_rows = None
    monkeypatch.undo()
    mh_small = D.minhash_lsh_pairs(fdocs, threshold=0.5, max_df=256)
    mh_small_rows = sorted(tuple(r) for r in mh_small.collect())
    monkeypatch.setattr(D, "_small_input", lambda df, max_bytes=0: False)
    mh_big = D.minhash_lsh_pairs(fdocs, threshold=0.5, max_df=256)
    assert "SortMergeJoin" in mh_big._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in mh_big.collect()) == mh_small_rows
