"""Deduplication operators for the training-data pipeline over ``documents``:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale notes (the whole point of each design):

- **exact**: hash-groupBy on md5(text) — one shuffle, map-side partial agg.
- **ngram_jaccard**: shingle-inverted-index self-join. The join explodes on
  frequent shingles, so shingles above a document-frequency cap are dropped
  (standard trick; a shingle shared by thousands of docs carries no dedup
  signal but quadratic cost). All JVM. The shingle pass tokenizes each
  document once: ``word_shingles`` binds the ``norm_tokens`` array with
  ``functions.let``, because a tokenizer read inside the shingle lambda
  would run again for every shingle position and word. MinHash+LSH and
  ``MinHashIndex`` shingle through the same function.
- **minhash_lsh**: signatures via ``min(xxhash64(shingle, seed_i))`` per
  band — pure JVM aggregates, no UDF, deterministic; band-bucket join
  produces candidates; exact Jaccard verifies. This is the 100 TB path:
  candidate generation is linear + one shuffle per band union.
- **simhash**: 64-bit signature entirely in JVM expressions — distinct-token
  pre-aggregation on xxhash64 longs, branchless 2·S−T bit votes as plain
  ``sum`` aggregates (no Python anywhere); near-dup = identical band
  prefixes.
- **embedding cosine**: see similarity.py (shares the kNN machinery).

Each shared rule has one definition here: ``_band_pairs`` is the LSH band
collision self-join (MinHash+LSH, SimHash, ``MinHashIndex``'s new × new
candidates), ``_verify_jaccard`` the exact-Jaccard verify of candidate
pairs with its join-strategy pin, ``_jaccard_at_least`` the threshold
test (also n-gram Jaccard's), and ``_input_sizes`` the input-size probe
behind every size-regime switch (``_spread``, ``_small_input``,
``mixing``). The persisted indexes (``ExactDedupIndex``,
``MinHashIndex``) add and compact through ``_store.BatchStore``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import validate_config
from ..functions import norm_tokens, word_shingles
from ._store import BatchStore


def _input_sizes(df: DataFrame) -> list[int] | None:
    """Byte sizes of the files behind ``df`` (``[]`` when it is not
    file-backed), or None when they cannot be probed. The one input-size
    probe of the regime switches: ``_spread``, ``_small_input`` and the
    ``mixing`` broadcast and two-pass choices."""
    import os

    try:
        return [os.path.getsize(f.replace("file:", "")) for f in df.inputFiles()]
    except Exception:
        return None


def _spread(df: DataFrame, min_bytes: int = 256 << 10, cols=None) -> DataFrame:
    """Large single-file inputs arrive as one partition; shingling/hashing
    is CPU-bound, so spread them across the cluster before exploding (the
    shuffle of the raw docs is trivial next to the expansion). Tiny inputs
    are left alone — 32-way task scheduling costs more than the work.

    With ``cols``, spread by HASH of those columns instead of round-robin:
    downstream ``groupBy`` on (a superset of) ``cols`` is then satisfied by
    this partitioning (``HashPartitioning ⊆ ClusteredDistribution``), so the
    aggregations run complete-mode in the SAME stage — the one doc shuffle
    replaces the (larger) exploded-token/shingle shuffle entirely."""
    sizes = _input_sizes(df)
    if not sizes or sum(sizes) <= min_bytes:
        return df
    # full fan-out on purpose (measured r7): shingling/token expansion is
    # CPU-dense per input byte, so even sub-MB inputs want every core — a
    # bytes-proportional width (total/min_bytes partitions) serialized the
    # shingle aggregations and ran minhash/ngram 2.2-2.4x SLOWER at sf0.1
    target = df.sparkSession.sparkContext.defaultParallelism
    if cols:
        return df.repartition(target, *cols)
    if len(sizes) < target:
        return df.repartition(target)
    return df


def _small_input(df: DataFrame, max_bytes: int = 64 << 20) -> bool:
    """True iff ``df`` is file-backed and provably small. Join-strategy
    guard: plans downstream of ``localCheckpoint`` carry FABRICATED size
    estimates (a LogicalRDD has no real stats), and the static planner has
    been observed to pick the unbounded pair-expansion side of a join as
    the broadcast build and die on the 8 GiB cap (dedup_ngram_jaccard at
    sf1.0, inherited from r6). Callers broadcast the doc-bounded side
    explicitly when this returns True and pin a sort-merge join when it
    does not — the choice must never ride on a post-explode estimate."""
    sizes = _input_sizes(df)
    return bool(sizes) and sum(sizes) <= max_bytes


def _jaccard_at_least(threshold: float):
    """``inter / (na + nb - inter) >= threshold`` over integer counts,
    without the division: exact, and replicable by the oracle."""
    return F.col("inter") * F.lit(1.0) >= F.lit(threshold) * (
        F.col("na") + F.col("nb") - F.col("inter")
    )


def _band_pairs(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, for every two docs of ``banded``
    (doc_id, band, bucket) that share a (band, bucket): the LSH band
    collision self-join. A pair colliding in several bands repeats;
    callers take ``distinct``."""
    return (
        banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def _verify_jaccard(
    cand: DataFrame, sets: DataFrame, docs: DataFrame, threshold: float
) -> DataFrame:
    """The candidate pairs of ``cand`` (doc_a, doc_b) whose shingle sets in
    ``sets`` (doc_id, sh) reach ``threshold`` exact Jaccard, as (doc_a,
    doc_b, inter, na, nb). Only candidates are verified, expression-side:
    that is what keeps LSH the linear-cost path, and the shingle arrays
    are per-doc state, never per-corpus.

    Join-strategy pin (see ``_small_input``): the set sides are
    doc-bounded, while ``cand`` sits on fabricated checkpoint stats and
    must never become the broadcast build of these joins above the
    small-input bound of ``docs``."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if not _small_input(docs):
        cand = cand.hint("merge")
        sa, sb = sa.hint("merge"), sb.hint("merge")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter"), na.alias("na"), nb.alias("nb"))
        .where(_jaccard_at_least(threshold))
    )


# ---------------------------------------------------------------- exact
def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the smallest doc_id per exact text hash. One hash-shuffle."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("doc_id", "text_md5", "n_dupes")
    )


# ---------------------------------------------------------------- jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 256,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    intersection via inverted-index posting lists; |A| / |B| via per-doc
    counts over the kept shingles; J = inter / (|A| + |B| - inter). Integer
    arithmetic until the final comparison (exact, oracle-replicable).

    Plan shape: shingles computed ONCE, one groupBy(shingle) builds posting
    lists, shingles in more than ``max_df`` documents are dropped, and
    candidate pairs are generated expression-side from each list (bounded
    by max_df^2/2 per shingle) — no self-join, no second pass over the
    text."""
    sh = _spread(docs).select("doc_id", F.explode(word_shingles(text_col, k)).alias("shingle"))
    # one expensive shingle pass, materialized: postings = shingle →
    # sorted doc list (df-capped); both pair-gen and sizes derive from
    # it. (Measured and rejected: an explicit repartition("shingle")
    # to skip the map-side partial collect_set — Spark still plans
    # partial+final back-to-back in the post-exchange stage, so the
    # extra exchange only added cost: 2.5s -> 4-5s at sf0.1.)
    postings = (
        sh.groupBy("shingle")
        .agg(F.collect_set("doc_id").alias("docs"))
        .where(F.size("docs") <= max_df)
        .select(F.array_sort("docs").alias("docs"))
        .localCheckpoint()
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("docs"), (i + 2).cast("int"),
                        (F.size("docs") - i - 1).cast("int"),
                    ),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    )
    inter = (
        postings.where(F.size("docs") >= 2)
        .select(pair.alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = (
        postings.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # pin the join strategy: ``sizes`` is one (doc_id, count) row per doc —
    # bounded by the corpus, never by the pair expansion — while ``inter``
    # sits downstream of a checkpoint with fabricated stats; left to the
    # planner, the 8 GiB broadcast of ``inter`` killed this query at sf1.0
    if _small_input(docs):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    else:
        sa, sb = sa.hint("merge"), sb.hint("merge")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(_jaccard_at_least(threshold))
        .select("doc_a", "doc_b", "inter", "na", "nb")
    )


# ---------------------------------------------------------------- minhash
def _doc_sets_sigs(docs: DataFrame, text_col: str, k: int, n_hashes: int) -> DataFrame:
    """(doc_id, sh, h0..h{n-1}) — per-doc hashed shingle set AND the full
    minhash signature as a PURE PROJECTION: ``word_shingles`` already
    yields the per-doc distinct shingle array, so there is nothing to
    aggregate — ``sh`` is the hashed array (``array_distinct`` post-hash
    mirrors the old ``collect_set`` exactly, also under the astronomically
    rare intra-doc hash collision) and ``sig[i] = array_min(transform(sh,
    s -> xxhash64(s, i)))``. The explode → groupBy shape this replaces
    paid a 2-stage aggregation (32 min buffers + collect_set over every
    occurrence row) plus its shuffle machinery for per-doc-local math; the
    projection runs in the scan stage with zero exchanges. ``word_shingles``
    is never empty (short texts yield the whole-text shingle), so no doc
    drops out, matching the agg. The n seed minima are one SQL string each
    (one py4j call — at bench scale these queries are driver-plan-bound).
    localCheckpointed: per-doc-bounded state, read by the bucket
    projection AND the verify."""
    sh_arr = F.array_distinct(
        F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s))
    )
    base = _spread(docs).select("doc_id", sh_arr.alias("sh"))
    return base.select(
        "doc_id",
        "sh",
        *[
            F.expr(f"array_min(transform(sh, s -> xxhash64(s, {i})))").alias(f"h{i}")
            for i in range(n_hashes)
        ],
    ).localCheckpoint()


def _buckets_from_sigs(per_doc: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) rows: the h0..h{n-1} signature columns banded
    into ``bands`` xxhash64 buckets — a pure projection, no shuffle."""
    rows = n_hashes // bands
    band_buckets = F.expr(
        "array("
        + ",".join(
            "xxhash64(" + ",".join(f"h{b * rows + r}" for r in range(rows)) + ")"
            for b in range(bands)
        )
        + ")"
    )
    return per_doc.select("doc_id", F.posexplode(band_buckets).alias("band", "bucket"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash LSH near-dup pairs: band signatures into ``bands`` buckets,
    join within buckets for candidates, verify with exact Jaccard.

    With r = n_hashes/bands rows per band, the S-curve crossover sits at
    (1/bands)^(1/r); defaults target J >= 0.5.

    Plan shape: ONE shingle pass over the text. A single aggregation
    (``_doc_sets_sigs``) materializes per-doc shingle sets AND all
    ``n_hashes`` signature minima together (localCheckpoint —
    per-doc-bounded state, the only expensive scan); band buckets are then
    a pure projection over the signature columns, and the verify sets read
    the same materialized rows. With ``max_df`` the
    df-cap is applied by exploding the cached sets (cheap — no re-shingling
    of text) and anti-joining the broadcast hot-shingle list."""
    validate_config({"n_hashes": n_hashes, "bands": bands})
    per_doc = _doc_sets_sigs(docs, text_col, k, n_hashes)
    # df-cap probe launched as a background job the moment the per-doc rows
    # exist: whether any shingle exceeds max_df decides which verify-set
    # plan is used, but the answer is only needed AFTER the candidate plan
    # is built — overlapping the probe job with that (driver-side) plan
    # construction hides most of its wall
    probe = pool = None
    if max_df is not None:
        occ = per_doc.select("doc_id", F.explode("sh").alias("shingle"))
        hot = (
            occ.groupBy("shingle")
            .count()
            .where(F.col("count") > max_df)
            .select("shingle")
        )
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(1)
        probe = pool.submit(hot.isEmpty)
    try:
        cand = _band_pairs(_buckets_from_sigs(per_doc, n_hashes, bands)).distinct()
        # The same ``max_df`` cap as ``ngram_jaccard_pairs`` keeps the
        # shingle space identical, so LSH pairs are a strict subset of the
        # exact pairs at equal thresholds.
        if max_df is None:
            sets = per_doc.select("doc_id", "sh")
        else:
            # common case: nothing exceeds the df cap — the cached per-doc sets
            # ARE the capped sets, so skip the explode→anti-join→re-collect
            # pass entirely. Emptiness probe only (started above, overlapped
            # with the candidate-plan build) — no rows pulled to the driver.
            if probe.result():
                sets = per_doc.select("doc_id", "sh")
            else:
                sets = (
                    occ.join(F.broadcast(hot), "shingle", "left_anti")
                    .groupBy("doc_id")
                    .agg(F.collect_set("shingle").alias("sh"))
                )
    finally:
        if pool is not None:
            # on the error path too: no probe thread outlives the call
            pool.shutdown(cancel_futures=True)
    return _verify_jaccard(cand, sets, docs, threshold)


# ---------------------------------------------------------------- simhash
def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc — entirely JVM, no Python in the hot path:
    tokens exploded once, hashed with ``xxhash64``, and the 64 per-bit
    vote counters are plain ``sum`` aggregates (fixed-width longs → hash
    aggregation with map-side combine; shuffle volume is one 64-long row
    per doc per input partition, never per token). The signature long is
    assembled expression-side from the vote signs.

    Output: (doc_id, simhash:long). Docs with no tokens produce no row."""
    toks = (
        _spread(docs, cols=("doc_id",))
        .select(
            "doc_id",
            F.explode(norm_tokens(F.col(text_col))).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    # Pre-aggregate to (doc_id, token-hash, count) first so the 64 bit-vote
    # expressions evaluate once per DISTINCT token, not once per occurrence
    # (natural text repeats tokens heavily); votes weighted by the count are
    # bit-for-bit identical to per-occurrence voting. Grouping by the
    # 64-bit HASH rather than the token string keeps the rows at 8-byte
    # longs (the votes only ever read the hash, so colliding tokens merging
    # their counts yields identical vote sums). Because the docs were
    # spread by hash(doc_id), BOTH groupBys are satisfied by the input
    # partitioning — file-backed corpora run the whole signature in one
    # stage with zero token-level shuffle.
    tok_counts = toks.groupBy(
        "doc_id", F.xxhash64("tok").alias("th")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # branchless voting: vote_j = sum(cnt·(2·bit_j − 1)) = 2·S_j − T with
    # S_j = sum(cnt·bit_j), T = sum(cnt) — 64 mul-add aggregates plus one
    # total instead of 64 conditional branches per distinct-token row;
    # sign(vote_j) > 0 ⟺ 2·S_j > T exactly (integer arithmetic). The 64
    # aggregates and the 64-term signature OR-chain are composed as SQL
    # strings (one py4j call per aggregate, one for the whole signature)
    # instead of ~800 chained Column calls: at bench scale this query's
    # wall is dominated by driver-side plan construction, and the JVM
    # parses one string far faster than py4j builds the same tree.
    votes = tok_counts.groupBy("doc_id").agg(
        F.expr("sum(cnt)").alias("tot"),
        *[
            F.expr(f"sum((shiftright(th, {j}) & CAST(1 AS BIGINT)) * cnt)").alias(
                f"s{j}"
            )
            for j in range(64)
        ],
    )
    sig = F.expr(
        " | ".join(
            f"(CASE WHEN s{j} * 2 > tot THEN shiftleft(CAST(1 AS BIGINT), {j}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for j in range(64)
        )
    )
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text", prefix_bits: int = 16) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any of the 4 16-bit band
    prefixes of their 64-bit signature (Hamming-ball blocking)."""
    # signatures materialized once (tiny: doc_id + one long) so the banded
    # self-join reads rows instead of re-running the token aggregation twice
    sig = simhash_signatures(docs, text_col).localCheckpoint()
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    return _band_pairs(banded).distinct()


# ----------------------------------------------------- group resolution
def resolve_groups(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS and elect
    survivors — the last step of the dedup story that the pair operators
    (``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` / ``simhash_pairs``)
    leave open: transitive chains (A~B, B~C but A≁C) must land in ONE
    group with ONE survivor.

    Distributed connected components by iterative min-label propagation
    with pointer jumping:

    - state is only (node, label) — the edge set is never collected;
    - each round: label(n) ← min(label(n), min over neighbors' labels)
      [one shuffle join + map-side-combinable min-agg], then pointer
      jumping label(n) ← label(label(n)) [one more (node,label)-sized
      join], which halves chain depth per round → O(log diameter) rounds;
    - every round ends in ``localCheckpoint`` so the plan stays constant
      size across iterations (no lineage blow-up at 100 TB), and a cheap
      emptiness probe on the changed-label set exits at fixpoint.

    Labels start as the node's own id, so the fixpoint label IS the
    component's min doc_id — survivor election for free (matching
    ``dedup_exact``'s min-doc_id-per-hash convention).

    Returns (doc_id, group_id, is_survivor) for every doc that appears in
    at least one pair; docs with no near-duplicate are their own trivial
    group and are not emitted (union them in from the corpus if needed).
    """
    import logging

    log = logging.getLogger(__name__)
    half = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    iters, converged = 0, False
    for iters in range(1, max_iters + 1):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("b"), F.col("label").alias("nl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nbr"))
            .select(F.col("a").alias("node"), "nbr")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node", F.least("label", F.coalesce("nbr", "label")).alias("label")
        )
        # pointer jumping: follow the label one hop (labels are node ids, so
        # the parent lookup is a self-join on the same (node,label) relation)
        parent = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        new_labels = (
            stepped.join(parent, "label", "left")
            .select("node", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
        )
        converged = changed.isEmpty()
        labels = new_labels
        if converged:
            break
    if not converged:
        # returning unconverged labels would split real components into
        # several groups with several "survivors" — fail loudly instead
        raise RuntimeError(
            f"resolve_groups did not reach a fixpoint in {max_iters} "
            "iterations; raise max_iters (rounds needed grow with "
            "log(component diameter))"
        )
    log.info("resolve_groups: fixpoint after %d iteration(s)", iters)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("group_id"),
        (F.col("node") == F.col("label")).alias("is_survivor"),
    )


def elect_survivors(
    groups: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor policy beyond min-id: per duplicate group, keep the
    BEST-scoring document (ties → smallest id).

    Production dedup keeps the longest / highest-quality copy, not the
    numerically smallest id (``resolve_groups``' free default). ``groups``
    is ``resolve_groups`` output (doc_id, group_id, ...); ``scores`` maps
    doc_id → a numeric quality score (e.g. ``quality_features``' n_chars
    or a model score).

    One combinable ``max_by`` per group + a group-keyed join back — no
    windows, no per-group sorts; the hot path is the same (group_id)
    shuffle ``resolve_groups`` already paid.

    Returns (doc_id, group_id, <score_col>, is_survivor) for every grouped
    doc. Docs missing from ``scores`` stay in the output with a NULL score
    and lose to any scored group-mate (struct comparison sorts NULL below
    every value) — an inner join here would silently DROP them, and a
    caller deleting non-survivors would never see those ids."""
    g = groups.select(id_col, "group_id").join(
        scores.select(id_col, score_col), id_col, "left"
    )
    winners = g.groupBy("group_id").agg(
        F.max_by(
            id_col,
            F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("t")),
        ).alias("_survivor_id")
    )
    return (
        g.join(winners, "group_id")
        .select(
            id_col,
            "group_id",
            score_col,
            (F.col(id_col) == F.col("_survivor_id")).alias("is_survivor"),
        )
    )


# ------------------------------------------------- incremental exact
class ExactDedupIndex(BatchStore):
    """Persisted exact-dedup membership index — the streaming complement of
    ``dedup_exact``: each batch of documents is checked against every hash
    ingested so far WITHOUT rereading the corpus, then only the NEW hashes
    are folded in. The ingest-time "have I seen this exact text before"
    primitive every CDC-fed corpus needs.

    Store layout (the shared ``_store.BatchStore`` crash-safe protocol, as
    ``MinHashIndex``/``IvfIndex``): ``(text_md5, first_id)`` rows hash-
    partitioned by ``pmod(xxhash64(text_md5), n_parts)`` under
    ``hashes/batch=<n>/hkey=<k>``. ``add()`` reads ONLY the hkey
    partitions its batch touches (stats in ``last_add_stats``, asserted in
    tests, not claimed), so per-add bytes are proportional to the batch,
    not the corpus. First-occurrence is a map-side-combinable
    ``min(doc_id)`` — one (text_md5) shuffle of the BATCH per add.
    """

    def __init__(
        self,
        spark,
        path: str,
        n_parts: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        import os

        if n_parts < 1:
            raise ValueError(f"n_parts must be >= 1, got {n_parts}")
        super().__init__(spark, path, {"n_parts": n_parts})
        self.n_parts = n_parts
        self.id_col, self.text_col = id_col, text_col
        self.last_add_stats: dict = {}
        self._hashes = os.path.join(path, "hashes")

    def _hkey(self, col: str = "text_md5"):
        return F.pmod(F.xxhash64(col), F.lit(self.n_parts)).cast("int")

    def add(self, docs: DataFrame) -> DataFrame:
        """Flag each incoming row against the store AND its own batch;
        fold the new hashes in. Returns (doc_id, text_md5, is_duplicate,
        dup_of) — ``dup_of`` = the retained first occurrence's id (NULL
        for winners). Winner within a batch = smallest id per hash."""
        # NULL text gets a sentinel key (md5 outputs are 32 hex chars, so
        # "NULL" cannot collide): md5(NULL) is NULL and every downstream
        # join would silently DROP those rows — all NULL-text docs dedup
        # together, matching dedup_exact's null-group semantics
        batch = docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.coalesce(
                F.md5(F.col(self.text_col)), F.lit("NULL")
            ).alias("text_md5"),
        ).localCheckpoint()
        committed = self._manifest()
        stored = None
        h_read = h_total = 0
        if committed:
            keys = {
                r[0] for r in batch.select(self._hkey().alias("k")).distinct().collect()
            }
            stored, h_read, h_total = self._pruned_read(self._hashes, "hkey", keys)
        self.last_add_stats = {
            "hash_partitions_read": h_read,
            "hash_partitions_total": h_total,
        }
        win = batch.groupBy("text_md5").agg(F.min("doc_id").alias("_batch_first"))
        joined = batch.join(win, "text_md5")
        if stored is not None:
            joined = joined.join(
                stored.select("text_md5", F.col("first_id").alias("_stored_first")),
                "text_md5",
                "left",
            )
        else:
            joined = joined.withColumn("_stored_first", F.lit(None).cast("long"))
        first = F.coalesce("_stored_first", "_batch_first")
        out_plan = joined.select(
            "doc_id",
            "text_md5",
            (F.col("doc_id") != first).alias("is_duplicate"),
            F.when(F.col("doc_id") != first, first).alias("dup_of"),
        )
        new = (
            win.join(
                joined.where(F.col("_stored_first").isNull())
                .select("text_md5")
                .distinct(),
                "text_md5",
            )
            .select("text_md5", F.col("_batch_first").alias("first_id"))
            .withColumn("hkey", self._hkey())
        )
        # the result materialization and the store write are independent
        # jobs over the checkpointed batch: ``out``'s plan reads only the
        # committed dirs listed above, so it runs as the add's body while
        # the store writes ``new``
        return self._add_batch([(new, self._hashes, "hkey")], out_plan.localCheckpoint)[1]

    def compact(self) -> int:
        """Fold every committed batch into one (listing stays O(n_parts) on
        long-running ingest); crash-safe like ``add``. Returns #batches
        merged."""
        batches = self._manifest()
        if len(batches) <= 1:
            return 0
        # hashes are add-once (only unseen ones are written), so the fold
        # is a plain rewrite
        self._compact({self._hashes: "hkey"})
        return len(batches)


# ------------------------------------------------- incremental minhash
class MinHashIndex(BatchStore):
    """Persisted MinHash-LSH index for INCREMENTAL dedup — the streaming
    complement of ``minhash_lsh_pairs``: each new batch of documents is
    checked against everything ingested so far WITHOUT re-shingling the
    corpus, then folded into the index.

    A real training-data pipeline ingests continuously; re-running batch
    dedup over 100 TB per increment is O(corpus) per batch, while this is
    O(batch) + partition-PRUNED joins against the store — bytes read per
    add() are proportional to the buckets the new batch actually touches,
    never to the corpus:

    - ``<path>/buckets/batch=<n>/pkey=<v>``: (doc_id, band, bucket) LSH
      postings, hash-partitioned by ``pkey = pmod(xxhash64(band, bucket),
      n_posting_parts)``. The candidate join reads ONLY the pkey
      partitions present in the new batch.
    - ``<path>/sets/batch=<n>/skey=<v>``: (doc_id, sh: array<long>) hashed
      shingle sets for the exact-Jaccard verify, hash-partitioned by
      ``skey = pmod(xxhash64(doc_id), n_set_parts)``. The verify reads
      ONLY the skey partitions of the candidate doc ids (and within them
      prunes to candidate rows via a semi-join that AQE broadcasts when
      the candidate set is small); the re-add guard reads just the tiny
      doc_id column of the new batch's skey partitions.

    Both stores follow ``_store.BatchStore``'s protocol: ``add`` writes
    them as one slot while the candidate/verify phase runs, and commits it
    once that phase's pairs are materialized. Partition dirs accumulate
    per batch (O(#batches × parts) directories); ``compact()`` rewrites
    both stores into ONE batch so listing and per-partition file counts
    stay flat on long-running ingest. Per-add scan stats land in
    ``last_add_stats`` (partitions read vs total) — the boundedness is
    tested, not claimed.

    ``add`` returns verified pairs among (new × stored) ∪ (new × new) at
    the configured threshold — exactly the pairs batch
    ``minhash_lsh_pairs`` (max_df=None) would emit over the union corpus
    that involve at least one new doc (equivalence-tested). Re-adding an
    already-indexed doc_id raises (silently duplicated postings/sets rows
    would produce duplicate and inflated verify pairs on later adds); the
    df-cap variant is batch-only because document frequencies are
    corpus-global.
    """

    def __init__(
        self,
        spark,
        path: str,
        text_col: str = "text",
        k: int = 3,
        n_hashes: int = 32,
        bands: int = 8,
        threshold: float = 0.5,
        n_posting_parts: int = 64,
        n_set_parts: int = 64,
    ):
        import os

        validate_config({"n_hashes": n_hashes, "bands": bands})
        # the index geometry is baked into the stored postings/sets:
        # reopening with different (k, n_hashes, bands) would join
        # incomparable hash families, and different partition counts would
        # prune the wrong directories (threshold only filters output rows
        # and may vary freely)
        super().__init__(
            spark,
            path,
            {
                "k": k,
                "n_hashes": n_hashes,
                "bands": bands,
                "n_posting_parts": n_posting_parts,
                "n_set_parts": n_set_parts,
            },
        )
        self.text_col = text_col
        self.k, self.n_hashes, self.bands = k, n_hashes, bands
        self.threshold = threshold
        self.n_posting_parts = n_posting_parts
        self.n_set_parts = n_set_parts
        self.last_add_stats: dict = {}
        self._buckets = os.path.join(path, "buckets")
        self._sets = os.path.join(path, "sets")

    def _pkey(self):
        return F.pmod(F.xxhash64("band", "bucket"), F.lit(self.n_posting_parts)).cast(
            "int"
        )

    def _skey(self, col: str = "doc_id"):
        return F.pmod(F.xxhash64(col), F.lit(self.n_set_parts)).cast("int")

    def add(self, docs: DataFrame) -> DataFrame:
        # ONE materialization of the expensive shingle+signature pass:
        # everything downstream (bands, guard ids, verify sets, BOTH store
        # writes) is a cheap projection over this checkpoint (which
        # ``_doc_sets_sigs`` itself takes — re-checkpointing here would pay
        # a second full copy of every set+signature row per add). The
        # previous shape checkpointed `banded` instead, so the sets write
        # and the guard re-ran the full shingle aggregation — 3 passes per
        # add.
        per_doc = _doc_sets_sigs(docs, self.text_col, self.k, self.n_hashes)
        banded = _buckets_from_sigs(per_doc, self.n_hashes, self.bands).withColumn(
            "pkey", self._pkey()
        )
        committed = self._manifest()
        # the two store writes depend ONLY on per_doc (checkpointed) and
        # banded (a projection over it), never on the candidate/verify
        # phase, so their wall hides under that whole phase, which runs as
        # the add's body. A retried failed add (incl. a guard rejection
        # below) reuses the slot and overwrites the orphan.
        sets = per_doc.select("doc_id", "sh").withColumn("skey", self._skey())
        return self._add_batch(
            [(banded, self._buckets, "pkey"), (sets, self._sets, "skey")],
            lambda: self._candidate_verify_phase(per_doc, banded, committed, docs),
        )[1]

    def _candidate_verify_phase(self, per_doc, banded, committed, docs):
        """Candidates + pruned verify + the pairs materialization — every
        read in here prunes against the COMMITTED manifest, so it never
        sees the concurrent ``batch=<n>`` writes ``add`` overlaps with it.
        Returns the checkpointed verified pairs."""
        if committed:
            # ---- touched-partition discovery: the guard's skey set and the
            # candidate read's pkey set come from ONE union collect over the
            # checkpointed rows (they were two driver jobs; every extra
            # driver-synchronous job is pure serial time per add)
            keys = (
                per_doc.select(self._skey().alias("k"), F.lit(0).alias("side"))
                .distinct()
                .unionByName(
                    banded.select(F.col("pkey").alias("k"), F.lit(1).alias("side"))
                    .distinct()
                )
                .collect()
            )
            guard_keys = {r["k"] for r in keys if r["side"] == 0}
            new_pkeys = {r["k"] for r in keys if r["side"] == 1}
            # ---- re-add guard: scan only the doc_id column of the skey
            # partitions that could hold the incoming ids (ADVICE r4: a
            # silent re-add would duplicate postings/sets and inflate later
            # verifies)
            stored_ids, g_read, g_total = self._pruned_read(
                self._sets, "skey", guard_keys
            )
            if stored_ids is not None:
                dup = stored_ids.select("doc_id").join(
                    per_doc.select("doc_id"), "doc_id", "left_semi"
                )
                if not dup.isEmpty():
                    some = [r[0] for r in dup.limit(5).collect()]
                    raise ValueError(
                        f"doc_ids already indexed (each doc_id must be added "
                        f"exactly once): {some}"
                    )
            # ---- candidates: new × new (a < b) plus stored × new — stored
            # postings pruned to the pkey partitions present in the NEW
            # batch (a candidate must share (band, bucket) with a new doc,
            # so the pruning is lossless); stored-internal pairs were
            # emitted by earlier adds
            stored_b, p_read, p_total = self._pruned_read(
                self._buckets, "pkey", new_pkeys
            )
        else:
            # first add: nothing stored — skip the guard scan, the pkey
            # collect, and the pruned reads outright (the empty-manifest
            # fast path; an add against a fresh index previously still paid
            # three driver jobs to learn the store was empty)
            stored_b, g_read, g_total, p_read, p_total = None, 0, 0, 0, 0
        cand = _band_pairs(banded)
        if stored_b is not None:
            vs_stored = (
                stored_b.select(F.col("doc_id").alias("old_id"), "band", "bucket")
                .join(banded.select(F.col("doc_id").alias("new_id"), "band", "bucket"),
                      ["band", "bucket"])
                .where(F.col("old_id") != F.col("new_id"))
                .select(
                    F.least("old_id", "new_id").alias("doc_a"),
                    F.greatest("old_id", "new_id").alias("doc_b"),
                )
            )
            cand = cand.unionByName(vs_stored)
        cand = cand.distinct().localCheckpoint()
        sets = per_doc.select("doc_id", "sh")
        s_read = s_total = 0
        if committed:
            # ---- verify: read ONLY the skey partitions of candidate doc
            # ids, then semi-join to the candidate ids themselves (AQE
            # broadcasts the id set when small) so the array_intersect
            # join's build side is candidates-only, not partitions-full.
            # With nothing committed every candidate is in per_doc already.
            # ``cand`` is already checkpointed, so the id projection is a
            # block read both times it is used — its own checkpoint was one
            # more materialization job per add for nothing.
            cand_ids = (
                cand.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            verify_keys = {
                r[0]
                for r in cand_ids.select(self._skey().alias("k")).distinct().collect()
            }
            stored_s, s_read, s_total = self._pruned_read(
                self._sets, "skey", verify_keys
            )
            if stored_s is not None:
                sets = sets.unionByName(
                    stored_s.select("doc_id", "sh").join(
                        cand_ids, "doc_id", "left_semi"
                    )
                )
        # guard and verify scans reported SEPARATELY: summing reads against
        # only the verify listing skewed the pruning ratio (it could exceed
        # 1 when the key sets overlap) — each read must be <= its own total
        # by construction for the boundedness evidence to mean anything
        self.last_add_stats = {
            "posting_partitions_read": p_read,
            "posting_partitions_total": p_total,
            "guard_set_partitions_read": g_read,
            "guard_set_partitions_total": g_total,
            "set_partitions_read": s_read,
            "set_partitions_total": s_total,
        }
        pairs_plan = _verify_jaccard(cand, sets, docs, self.threshold)
        # the pairs result must materialize BEFORE the manifest commit in
        # ``add`` (a later add/compact may delete the very dirs its plan
        # reads); the store writes this phase overlaps with never touch
        # the committed dirs it reads
        return pairs_plan.localCheckpoint()

    def compact(self) -> int:
        """Rewrite every committed batch into ONE — partition-dir count
        (and the per-add listing / file-open cost) drops from
        O(#batches × parts) back to O(parts). Crash-safe like ``add``: the
        consolidated batch becomes visible only at the manifest swap; old
        dirs are deleted after, and a crash before the swap leaves an
        orphan slot the next writer overwrites. Returns #batches merged."""
        batches = self._manifest()
        if len(batches) <= 1:
            return 0
        self._compact({self._buckets: "pkey", self._sets: "skey"})
        return len(batches)
