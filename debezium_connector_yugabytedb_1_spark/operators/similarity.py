"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k (exact baseline) and two scale paths: an
LSH-bucketed variant and an IVF (inverted-file) variant with a
sample-trained coarse quantizer.

Brute force: queries x corpus join with JVM-expression cosine — no UDF, no
Python. For Q queries it is a broadcast of Q rows against a full corpus
scan: linear in corpus size, embarrassingly parallel, the right baseline
even at 100 TB when Q is small.

Scale path: random-hyperplane LSH — 64 signed projections → b-bit bucket
keys; neighbors are searched only within matching buckets across multiple
independent tables. Projections are deterministic (seeded hash of
(table, plane, dim)) so signatures are reproducible across runs/cluster
sizes. Vectorized numpy via mapInPandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_similarity
from ._store import BatchStore
from .dedup import _spread


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (self-matches excluded). Output:
    (query_id, neighbor_id, rank). Ties broken by neighbor_id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = _spread(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _planes(n_planes: int, dim: int, table: int, seed: int = 7) -> np.ndarray:
    """Deterministic hyperplanes: standard-normal via seeded Generator keyed
    by (seed, table) — identical on every executor and cluster size."""
    rng = np.random.default_rng(abs(hash((seed, table))) % (2**32))
    return rng.standard_normal((n_planes, dim))


def lsh_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 7,
    *,
    dim: int,
) -> DataFrame:
    """Random-hyperplane signatures: one (id, table, bucket) row per table.
    mapInPandas with matrix multiply per Arrow batch — vectorized.

    ``dim`` is REQUIRED (keyword-only): inferring it would cost a
    driver-side ``first()`` action in the plan-build path — a hidden scan
    that serializes into every caller's pipeline."""
    planes = [_planes(n_planes, dim, t, seed) for t in range(n_tables)]
    n_t = n_tables

    def sign(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            outs = []
            for t in range(n_t):
                bits = (mat @ planes[t].T) > 0
                bucket = bits.dot(1 << np.arange(bits.shape[1], dtype=np.int64))
                outs.append(
                    pd.DataFrame(
                        {"vec_id": pdf[id_col].values, "table": t, "bucket": bucket}
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        sign, schema="vec_id long, table int, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 6,
    *,
    dim: int,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any table, then
    exact cosine re-rank of candidates only. ``dim`` is required — see
    ``lsh_signatures``."""
    sig_c = lsh_signatures(corpus, vec_col, id_col, n_planes, n_tables, dim=dim)
    sig_q = lsh_signatures(
        queries, vec_col, id_col, n_planes, n_tables, dim=dim
    ).withColumnRenamed("vec_id", "query_id")
    cand = (
        sig_q.join(sig_c, ["table", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ------------------------------------------------------------------- IVF
def ivf_train(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    sample: int = 20_000,
    iters: int = 8,
    seed: int = 7,
) -> np.ndarray:
    """Train the IVF coarse quantizer: Lloyd k-means on a bounded sample,
    seeded init — deterministic across runs and cluster sizes. The train
    step is the standard IVF recipe (FAISS-style): at 100 TB you still
    train on a driver-side sample of ~10^4-10^5 vectors; only assignment
    and search are distributed. Returns (n_lists, dim) centroids."""
    rows = corpus.select(vec_col).limit(sample).collect()
    mat = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=min(n_lists, len(mat)), replace=False)]
    for _ in range(iters):
        # cosine assignment: normalize once, argmax of dot products
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        assign = (mn @ cn.T).argmax(axis=1)
        for j in range(len(cent)):
            members = mat[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_id: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid lists (cosine).
    Broadcast centroids + one vectorized matmul per Arrow batch; output
    (id, list_id) rows — ``nprobe=1`` for corpus indexing, >1 for query
    probing."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cn.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf[id_col].values, nprobe),
                    "list_id": top.reshape(-1).astype(np.int64),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{out_id} long, list_id long"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors partitioned into ``n_lists``
    inverted lists by nearest centroid; each query probes its ``nprobe``
    nearest lists and exact-reranks only those candidates. Cost per query
    ~ nprobe/n_lists of the corpus — recall tracks that fraction on
    unclustered (near-uniform) embeddings, and far exceeds it on clustered
    real corpora — the FAISS IVF-Flat plan re-expressed
    as a list_id equi-join (shuffle on list_id; at scale, persist the
    assignment bucketed by list_id and the probe join is shuffle-free on
    the corpus side)."""
    cent = ivf_train(corpus, n_lists, vec_col, seed=seed)
    c_assign = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1)
    q_probe = ivf_assign(queries, cent, id_col, vec_col, nprobe=nprobe, out_id="query_id")
    cand = (
        q_probe.join(c_assign, "list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _latest_copy():
    """``_w``: the (list_id, emb) of a vec_id's copy from the highest
    committed batch, ties within a batch broken on the vector itself — the
    deterministic latest-batch-wins rule for re-added ids."""
    return F.max_by(
        F.struct("list_id", "emb"),
        F.struct(F.col("batch").cast("long").alias("b"), F.col("emb").alias("e")),
    ).alias("_w")


class IvfIndex(BatchStore):
    """Persisted IVF-Flat index — the ANN complement of ``MinHashIndex``:
    a training-data pipeline embeds documents continuously, and re-running
    ``ivf_topk`` (train + assign the whole corpus per query batch) is
    O(corpus) per increment. Here the coarse quantizer is trained ONCE,
    vectors are stored assigned to their inverted list, and a query reads
    only the list partitions it probes:

    - ``<path>/centroids.parquet``: the (n_lists, dim) quantizer, written
      driver-side (FAISS-style: trained on a bounded sample, frozen —
      rotating centroids would silently invalidate every stored
      assignment, so training twice raises).
    - ``<path>/vectors/batch=<n>/lkey=<v>``: (vec_id, list_id, emb) rows,
      partitioned by ``lkey = list_id % n_parts``. A query probing
      ``nprobe`` lists reads only those lkey partitions — bytes read per
      query ∝ nprobe/n_lists of the corpus, never the corpus.
    - ``manifest.json``: ``_store.BatchStore``'s crash-safe add and
      compaction protocol, shared with the dedup indexes (write the batch
      dirs, then atomically commit the batch id; orphans from a crashed
      add() are overwritten on retry).

    ``compact()`` folds all committed batches into one so directory
    listings stay flat on long-running ingest. Per-query scan stats land
    in ``last_query_stats`` — the pruning is tested, not claimed.
    Re-adding a vec_id is tolerated (queries dedupe candidates), matching
    the idempotent-redelivery stance of the CDC sink rather than
    MinHashIndex's strictness: ANN results are rank sets, not pair
    multisets.
    """

    def __init__(
        self,
        spark,
        path: str,
        n_lists: int = 16,
        n_parts: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 7,
    ):
        import os

        if n_lists < 1 or n_parts < 1:
            raise ValueError(f"n_lists/n_parts must be >= 1, got {n_lists}/{n_parts}")
        super().__init__(
            spark, path, {"n_lists": n_lists, "n_parts": n_parts, "seed": seed}
        )
        self.n_lists, self.n_parts = n_lists, n_parts
        self.id_col, self.vec_col = id_col, vec_col
        self.seed = seed
        self.last_query_stats: dict = {}
        self._vectors = os.path.join(path, "vectors")

    def _lkey(self):
        return F.pmod(F.col("list_id"), F.lit(self.n_parts)).cast("int")

    @property
    def trained(self) -> bool:
        import os

        return os.path.exists(os.path.join(self.path, "centroids.parquet"))

    def _centroids(self) -> np.ndarray:
        import os

        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.path, "centroids.parquet"))
        return np.stack([np.asarray(v, dtype=np.float64) for v in t["c"].to_pylist()])

    def train(self, corpus: DataFrame, sample: int = 20_000, iters: int = 8) -> None:
        """Fit and freeze the coarse quantizer (``ivf_train`` — Lloyd on a
        bounded driver sample, seeded/deterministic)."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.trained:
            raise ValueError(
                f"index at {self.path} is already trained; centroids are "
                "frozen (stored assignments depend on them)"
            )
        cent = ivf_train(
            corpus, self.n_lists, self.vec_col, sample=sample, iters=iters,
            seed=self.seed,
        )
        tmp = os.path.join(self.path, "centroids.parquet.tmp")
        pq.write_table(pa.table({"c": [list(map(float, row)) for row in cent]}), tmp)
        os.replace(tmp, os.path.join(self.path, "centroids.parquet"))

    def _assigned(self, df: DataFrame) -> DataFrame:
        """(id, list_id, emb) with the stored quantizer — one vectorized
        matmul per Arrow batch, vector carried through (no join-back)."""
        cent = self._centroids()
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        id_col, vec_col = self.id_col, self.vec_col

        def assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
                mat = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
                )
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].values,
                        "list_id": (mat @ cn.T).argmax(axis=1).astype(np.int64),
                        "emb": pdf[vec_col].values,
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            assign, schema="vec_id long, list_id long, emb array<float>"
        )

    def add(self, batch: DataFrame) -> int:
        """Assign and persist one increment; O(batch) work, one write.
        Returns the committed batch id.

        Re-adding a ``vec_id`` with a different vector is an UPSERT whose
        visibility is eventual: until ``compact()``, a query that probes
        only the old copy's list deterministically scores the stale vector
        (both copies live in the store; query-side resolution is
        latest-batch-wins among the copies actually probed). Run
        ``compact()`` after replacing vectors to make the upsert total —
        it folds the store to one row per id, keeping the latest batch."""
        if not self.trained:
            raise ValueError("train() the quantizer before add()")
        rows = self._assigned(batch).withColumn("lkey", self._lkey())
        return self._add_batch([(rows, self._vectors, "lkey")])[0]

    def query(self, queries: DataFrame, k: int = 5, nprobe: int = 4) -> DataFrame:
        """IVF-Flat search against the store: probe each query's ``nprobe``
        nearest lists, read ONLY those list partitions, exact-cosine rerank
        within them. Output (query_id, neighbor_id, rank, cosine); empty
        result if nothing is indexed. Self-matches (same id) excluded."""
        if not self.trained:
            raise ValueError("train() the quantizer before query()")
        cent = self._centroids()
        q_probe = ivf_assign(
            queries, cent, self.id_col, self.vec_col, nprobe=min(nprobe, self.n_lists),
            out_id="query_id",
        ).localCheckpoint()
        # O(Q * nprobe) driver rows: queries are small by regime (ANN serves
        # point lookups; bulk all-pairs work is a cosine self-join)
        probed = {r["list_id"] for r in q_probe.select("list_id").distinct().collect()}
        stored, nread, ntotal = self._pruned_read(
            self._vectors, "lkey", {l % self.n_parts for l in probed}
        )
        self.last_query_stats = {
            "lists_probed": len(probed),
            "partitions_read": nread,
            "partitions_total": ntotal,
        }
        out_schema = "query_id long, neighbor_id long, rank int, cosine double"
        if stored is None:
            return self.spark.createDataFrame([], out_schema)
        cand = (
            q_probe.join(stored.where(F.col("list_id").isin(*probed)), "list_id")
            .where(F.col("query_id") != F.col("vec_id"))
            # re-added vec_ids resolve DETERMINISTICALLY among the copies
            # this query probed: highest batch wins, ties within a batch
            # break on the vector itself — ranks never depend on scan order
            # (the old dropDuplicates picked an arbitrary embedding).
            # Caveat: a re-add whose NEW vector assigned to an unprobed
            # list is invisible to this query, so it can still score the
            # stale copy — deterministic, but superseded; compact() resolves
            # re-adds physically (one row per vec_id, latest batch) and is
            # the contract for upsert visibility (see add())
            .groupBy("query_id", "vec_id")
            .agg(_latest_copy())
            .select("query_id", "vec_id", "_w.list_id", "_w.emb")
        )
        q = queries.select(
            F.col(self.id_col).alias("query_id"), F.col(self.vec_col).alias("q_vec")
        )
        scored = cand.join(F.broadcast(q), "query_id").withColumn(
            "cosine", cosine_similarity(F.col("q_vec"), F.col("emb"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cosine"
            )
        )

    def compact(self) -> int:
        """Fold every committed batch into one (listing stays O(n_parts) on
        long-running ingest). Returns the new batch id, -1 on an empty
        store."""
        if not self._manifest():
            return -1
        # re-added ids are resolved PHYSICALLY here with the same
        # latest-batch-wins rule query() applies, so the folded store holds
        # one row per vec_id; the read-side partition columns (batch, lkey)
        # are projected away — carrying them bakes a stale `batch` data
        # column into the new files
        return self._compact(
            {self._vectors: "lkey"},
            lambda stored: stored.groupBy("vec_id")
            .agg(_latest_copy())
            .select("vec_id", "_w.list_id", "_w.emb")
            .withColumn("lkey", self._lkey()),
        )
