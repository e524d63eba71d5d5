"""Text-analysis operators for the training-data pipeline over ``documents``:
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure JVM expressions (codegen) — text ops at 100 TB must not leave the
JVM; regex/array built-ins vectorize per batch in Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    let,
    norm_tokens,
    punct_count,
    rolling_fingerprint,
    stopword_count,
    token_count,
    whitespace_token_count,
)

#: tiny marker lexicons for the n-gram/keyword language heuristic
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "de", "que"),
    "fr": ("le", "et", "la"),
}


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (integer-valued, deterministic):
    char/token/punct/stopword counts + a boolean quality gate — the classic
    pre-training filter features (C4-style heuristics)."""
    t = F.col(text_col)
    out = docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        whitespace_token_count(t).alias("n_tokens_ws"),
        token_count(t).alias("n_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
    )
    return out.withColumn(
        "is_quality",
        (F.col("n_chars") >= 50)
        & (F.col("n_tokens_ws") >= 10)
        & (F.col("n_punct") * 4 <= F.col("n_tokens")),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keyword-marker language heuristic: count marker-word hits per
    language; argmax with a deterministic tie-break on language code.
    (A real deployment would swap in fastText via mapInPandas — the operator
    shape stays identical.)"""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")

    def _hits(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [_hits(markers).alias(f"score_{lang}") for lang, markers in _LANG_MARKERS.items()]
    scored = docs.select("doc_id", *scores)
    langs = list(_LANG_MARKERS)
    # argmax with fixed priority order (en > de > es > fr) — deterministic
    # and exactly replicable as an ANSI-SQL CASE for the oracle
    mx = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(mx <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"score_{lang}") == mx, F.lit(lang))
    return scored.select(
        "doc_id",
        *[F.col(f"score_{lang}") for lang in langs],
        pred.alias("lang_pred"),
    )


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    "repetitious text" filters): documents dominated by repeated lines or
    a single repeated n-gram are boilerplate/spam and get filtered before
    training.

    - ``dup_line_frac``     1 − distinct/total lines — pure map-side
                            expression, no shuffle.
    - ``top_bigram_share``  occurrences of the most frequent word bigram /
                            total bigrams — ALSO pure map-side: the doc's
                            bigram array is sorted and the longest equal
                            run found with one ``F.aggregate`` linear
                            scan. The alternative (explode + groupBy
                            (doc_id, gram)) shuffles every token of the
                            corpus — the expression form computes the same
                            number inside the scan stage (7.5 s → ~1 s at
                            sf0.1, and no shuffle to skew at 100 TB).

    Zero shuffles end to end: one projection over the corpus. The
    tokenizer runs once per row: the tokens are bound with ``let`` outside
    the bigram lambda, and so is the bigram array outside the count.

    Output: (doc_id, n_lines, dup_line_frac, n_bigrams, top_bigram_share).
    Single-line docs have dup_line_frac 0; docs with <2 tokens have one
    degenerate "bigram" (the whole text) and share 1.0.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    nl = F.size(lines)
    zero = F.lit(0).cast("long")

    def bigram_stats(toks: Column) -> Column:
        # NON-distinct bigrams (counts matter here — word_shingles dedups)
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(-1)))
        bigrams = F.when(
            n >= 2,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, (i + 1).cast("int")),
                    F.element_at(toks, (i + 2).cast("int")),
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
        return let(bigrams, top_count)

    def top_count(bigrams: Column) -> Column:
        # longest equal run in the SORTED array = max occurrence count
        run_scan = F.aggregate(
            F.array_sort(bigrams),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                zero.alias("run"),
                zero.alias("best"),
            ),
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
                F.greatest(
                    a["best"],
                    F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")),
                ).alias("best"),
            ),
        )
        return F.struct(F.size(bigrams).alias("n"), run_scan["best"].alias("best"))

    # the shared canonical tokenizer (oracle twin), run once per row: the
    # tokens and the bigram array are each bound with ``let``, and the
    # bigram count and top count come out as one struct for the outer
    # select (a second project, so the struct is not inlined twice)
    stats = let(norm_tokens(t), bigram_stats)
    return docs.select(
        "doc_id",
        nl.cast("long").alias("n_lines"),
        (F.lit(1.0) - F.size(F.array_distinct(lines)) / nl).alias("dup_line_frac"),
        stats.alias("_bigrams"),
    ).select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        F.col("_bigrams.n").cast("long").alias("n_bigrams"),
        (F.col("_bigrams.best") / F.col("_bigrams.n")).alias("top_bigram_share"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-token-multiset md5 fingerprint per document."""
    return docs.select(
        "doc_id",
        rolling_fingerprint(text_col).alias("fingerprint"),
        F.md5(F.col(text_col)).alias("raw_md5"),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_words: int = 2,
) -> DataFrame:
    """Inter-document line deduplication — the C4-style corpus cleanup:
    a line repeated anywhere in the corpus survives only at its globally
    FIRST occurrence (ordered by (doc id, line position)); every later
    copy is dropped and each document's text is rebuilt from its kept
    lines. Boilerplate (headers, license banners, nav text) is exactly
    this kind of cross-document repetition.

    Lines with fewer than ``min_words`` whitespace words are exempt
    (always kept): short/blank lines are document structure, not
    boilerplate, and deduping them would glue unrelated paragraphs.

    First-occurrence selection is a MAP-SIDE-COMBINABLE aggregation:
    ``groupBy(line).agg(min(struct(id, pos)))``.  The winner row per
    distinct line IS the kept occurrence, so no window and no join-back
    on the line key exist at all — a corpus-hot line (a license banner
    repeated 10^8 times, exactly what this operator removes) partially
    aggregates to one candidate per map task before the (line) shuffle
    instead of sorting every occurrence in a single window task (the
    row_number()-over-(line) form this replaced was that straggler).
    Losing occurrences are never shuffled anywhere: per-doc ``n_lines``
    is computed directly from the source text.  Exempt (short/blank)
    lines never enter the (line) shuffle either — eligibility is a
    function of the line text alone, so filtering first cannot change
    any winner, and routing the corpus's billions of identical blank
    lines through the hot-key shuffle would otherwise be the other
    straggler at scale.

    Output: (id, text_dedup, n_lines, n_kept) — ``text_dedup`` is ''
    for a document whose every line lost.
    """
    lines = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    ).withColumn(
        "eligible", F.size(F.split(F.trim(F.col("line")), r"\s+")) >= min_words
    )
    winners = (
        lines.where(F.col("eligible"))
        .groupBy("line")
        .agg(F.min(F.struct(F.col(id_col).alias("_id"), F.col("pos").alias("_pos"))).alias("_w"))
        .select(
            F.col("_w._id").alias(id_col),
            F.col("_w._pos").alias("pos"),
            "line",
        )
    )
    exempt = lines.where(~F.col("eligible")).select(id_col, "pos", "line")
    kept = winners.unionByName(exempt)
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("_text_dedup"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = docs.where(F.col(text_col).isNotNull()).select(
        id_col, F.size(F.split(F.col(text_col), sep)).alias("n_lines")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_text_dedup"), F.lit("")).alias("text_dedup"),
        "n_lines",
        F.coalesce(F.col("_n_kept"), F.lit(0)).alias("n_kept"),
    )


#: PII masking patterns, applied IN ORDER (email first so an address inside
#: a URL is normalized before the URL mask swallows the token; each pattern
#: is valid in both Java regex and RE2, so SQL oracles reproduce the op
#: exactly). (kind, pattern, replacement).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("phone", r"(\(\d{3}\)\s?|\d{3}-)\d{3}-\d{4}", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def mask_pii(
    docs: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "url", "phone", "ip"),
) -> DataFrame:
    """PII scrubbing for training corpora: mask emails / URLs / NANP phone
    numbers / IPv4 literals with typed placeholders and report per-kind
    match counts (counted on the ORIGINAL text, so an email inside a URL
    ticks both counters — the audit trail records what was present, the
    masked text records what survived).

    Pure JVM ``regexp_replace``/``regexp_count`` chain — one projection,
    codegen, no shuffle; the patterns are deliberately RE2-compatible so
    the DuckDB oracle runs them verbatim.
    """
    sel = [p for p in PII_PATTERNS if p[0] in kinds]
    unknown = set(kinds) - {k for k, _, _ in PII_PATTERNS}
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    masked = F.col(text_col)
    counts = []
    for kind, pat, repl in sel:
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}"))
        masked = F.regexp_replace(masked, pat, repl)
    keep = [c for c in docs.columns if c != text_col]
    return docs.select(*keep, masked.alias("text_masked"), *counts)
