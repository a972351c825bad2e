"""Text-analysis operators for document corpora.

All pure columnar expressions (JVM-side, codegen'd) — at 100 TB these
run at scan speed with full predicate pushdown; no Python in the loop.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = "\\s+"
_PUNCT = "[.,!?;:]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "我"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, _WS)))


def char_count(text: Column) -> Column:
    return F.length(text)


# GPT-2-style pretokenizer shape: contractions | letter runs | digit runs
# | punctuation runs (public regex family from the BPE literature; both
# Java and RE2 understand the \p{L}/\p{N} classes, so the DuckDB oracle
# can replay it).
BPE_ISH_PATTERN = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-style pretokenization regex — a much
    closer proxy for LLM token budgets than whitespace splitting
    (counts punctuation runs and contractions separately)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    total = F.length(text)
    punct = total - F.length(F.regexp_replace(text, _PUNCT, ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (english) stopwords."""
    sw = stopwords or LANG_MARKERS["en"]
    t = F.lower(F.trim(text))
    toks = F.split(t, _WS)
    arr = F.array(*[F.lit(s) for s in sw])
    hits = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic:
    length component (saturates at 100 tokens) × (1 - punct_ratio).

    Mirrors the shape of common pretraining-quality filters (length,
    symbol ratio) with an exactly SQL-expressible formula so the DuckDB
    oracle can replay it bit-for-bit.
    """
    ntok = token_count(text).cast("double")
    lencomp = F.least(F.lit(1.0), ntok / F.lit(100.0))
    return lencomp * (F.lit(1.0) - punct_ratio(text))


def language_id(text: Column) -> Column:
    """Stopword-marker language guess (first language whose marker-word
    hit count is maximal; deterministic tie-break by fixed language
    order en,es,de,fr,zh)."""
    t = F.concat(F.lit(" "), F.lower(text), F.lit(" "))

    def hits(lang: str) -> Column:
        c = F.lit(0)
        for wrd in LANG_MARKERS[lang]:
            c = c + F.when(t.contains(f" {wrd} "), 1).otherwise(0)
        return c

    langs = list(LANG_MARKERS)
    hit_cols = {l: hits(l) for l in langs}
    best = F.greatest(*[hit_cols[l] for l in langs])
    chain = None
    for l in langs:
        cond = (hit_cols[l] == best) & (best > 0)
        chain = F.when(cond, F.lit(l)) if chain is None else chain.when(cond, F.lit(l))
    return chain.otherwise(F.lit("unknown"))


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized text
    (lowercased, whitespace collapsed).  Used as the exact-dedup key at
    scale — hash-groupBy on a long beats groupBy on a 100 kB string."""
    t = text
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(text)), _WS, " ")
    return F.xxhash64(t)


def ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram array (lowercased) — the shingle set for MinHash/Jaccard.

    The token array is BOUND through an outer transform lambda before
    the per-gram lambda touches it: Catalyst does not common-
    subexpression-eliminate inside higher-order functions, so
    referencing the raw split expression from the gram lambda would
    re-split the whole text once per gram — O(words²) on every
    document.  Binding via a 1-element array makes the split evaluate
    exactly once per row."""
    toks_expr = F.split(F.lower(F.trim(text)), _WS)

    def build(toks):
        k = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
        return F.when(k >= n, F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)])
        )).otherwise(F.array(F.concat_ws(" ", *[F.lit("")])))

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


# --------------------------------------------------------------------- #
# safety / PII scanning — regex patterns chosen to behave identically
# under Java regex (Spark) and RE2 (DuckDB): no lookaround, no
# backreferences, explicit character classes.
# --------------------------------------------------------------------- #

EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_PATTERN = r"https?://[a-zA-Z0-9./_%?=&#-]+"
#: digit runs of 7+ (phone-ish) — deliberately coarse: PII scans favor
#: recall; a verification pass downstream removes false positives
DIGIT_RUN_PATTERN = r"[0-9]{7,}"


def pattern_count(text: Column, pattern: str) -> Column:
    """Occurrences of a regex in the text — whole-stage-codegen JVM
    regex, no Python.  The building block of safety scans."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach PII-indicator counts (emails, URLs, long digit runs) and a
    combined flag.  At 100 TB this is a map-only scan — the flag column
    then drives a pushed filter or a quarantine split
    (extras.sampling.hash_split keyed on it)."""
    t = F.col(text_col)
    out = (
        df.withColumn("n_emails", pattern_count(t, EMAIL_PATTERN))
        .withColumn("n_urls", pattern_count(t, URL_PATTERN))
        .withColumn("n_digit_runs", pattern_count(t, DIGIT_RUN_PATTERN))
    )
    return out.withColumn(
        "pii_flag",
        (F.col("n_emails") + F.col("n_urls") + F.col("n_digit_runs")) > 0,
    )


def pii_redact(df: DataFrame, text_col: str = "text",
               email_token: str = "<EMAIL>", url_token: str = "<URL>",
               number_token: str = "<NUMBER>") -> DataFrame:
    """Mask PII spans in place — the redaction counterpart of
    :func:`pii_scan` (the pre-training masking step of public corpus
    pipelines, e.g. the BigScience ROOTS PII masking: replace the
    span with a typed placeholder instead of dropping the document).

    Emails, then URLs, then 7+-digit runs are rewritten to their
    placeholder tokens, in that order (so digit runs inside an
    already-masked URL are gone before the number pass).  Adds
    ``<text_col>_redacted`` plus ``n_redactions`` (matches found on
    the ORIGINAL text, the audit signal).

    At 100 TB this is a map-only projection — three regexp_replace
    expressions fused into the scan, no shuffle, no Python; identical
    left-to-right non-overlapping semantics in SQL keeps it
    oracle-replayable."""
    t = F.col(text_col)
    red = F.regexp_replace(t, EMAIL_PATTERN, email_token)
    red = F.regexp_replace(red, URL_PATTERN, url_token)
    red = F.regexp_replace(red, DIGIT_RUN_PATTERN, number_token)
    return (
        df.withColumn(f"{text_col}_redacted", red)
        .withColumn(
            "n_redactions",
            pattern_count(t, EMAIL_PATTERN) + pattern_count(t, URL_PATTERN)
            + pattern_count(t, DIGIT_RUN_PATTERN))
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    quality-filter family: Rae et al. 2021 §A1.1 "repetition" rules —
    public paper, reimplemented from the published definitions):

    - ``n_lines``, ``dup_line_frac``: fraction of newline-separated
      lines that are duplicates of an earlier line;
    - ``dup_line_char_frac``: fraction of line characters belonging to
      those duplicate occurrences;
    - ``top_bigram_share``: occurrences of the most frequent word
      2-gram over all 2-gram occurrences;
    - ``dup_trigram_frac``: fraction of word 3-gram occurrences that
      are repeats.

    Scale shape (round-13 fold): lines, bigrams and trigrams ride ONE
    kind-tagged explode_outer — one corpus scan, one (id, kind, token)
    shuffle, then a two-level aggregation tree; zero-token docs keep a
    NULL marker row through the explode so every document reaches the
    final per-doc aggregate without the old ids-scan + two left joins
    (the previous plan scanned the corpus three times).  All divisions
    reproduce the previous plan's expressions over the same integers,
    so the doubles are bit-identical."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    # bind the split arrays as COLUMNS: a lambda body referencing the
    # raw split expression re-evaluates it per array element (Catalyst
    # does not common-subexpression-eliminate inside higher-order
    # functions — the SCALE.md round-4 lesson)
    bound = df.select(
        F.col(id_col),
        F.filter(F.split(t, "\n"), lambda x: F.length(x) > 0).alias("__ls"),
        F.split(F.trim(t), r"\s+").alias("__ws"),
    )
    words = F.col("__ws")

    def gram_list(n: int):
        # guard: Spark's sequence(0, k) DESCENDS when k < 0, so short
        # docs must short-circuit to an empty gram list
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int"))
                                             for j in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    tagged = F.concat(
        F.transform(F.col("__ls"),
                    lambda x: F.struct(F.lit(0).alias("n"), x.alias("g"))),
        F.transform(gram_list(2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))),
        F.transform(gram_list(3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))),
    )
    ex = bound.select(
        F.col(id_col), F.explode_outer(tagged).alias("__t")
    ).select(id_col, F.col("__t.n").alias("__n"), F.col("__t.g").alias("__g"))
    per_tok = ex.groupBy(id_col, "__n", "__g").agg(
        F.count(F.lit(1)).alias("__c"))
    ln = F.length("__g")
    per_kind = per_tok.groupBy(id_col, "__n").agg(
        F.sum("__c").alias("__s"),
        F.count(F.when(F.col("__g").isNotNull(), 1)).alias("__d"),
        F.max("__c").alias("__mx"),
        F.sum((F.col("__c") - 1) * ln).alias("__dupch"),
        F.sum(F.col("__c") * ln).alias("__allch"),
    )
    n_ = F.col("__n")
    return per_kind.groupBy(id_col).agg(
        F.coalesce(F.sum(F.when(n_ == 0, F.col("__s"))),
                   F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.max(F.when(
            n_ == 0, F.lit(1.0) - F.col("__d") / F.col("__s"))),
            F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce(F.max(F.when(
            n_ == 0, F.col("__dupch") / F.col("__allch"))),
            F.lit(0.0)).alias("dup_line_char_frac"),
        F.coalesce(F.max(F.when(
            n_ == 2, F.col("__mx") / F.col("__s"))),
            F.lit(0.0)).alias("top_bigram_share"),
        F.coalesce(F.max(F.when(
            n_ == 3, F.lit(1.0) - F.col("__d") / F.col("__s"))),
            F.lit(0.0)).alias("dup_trigram_frac"),
    )


def ngram_lm_score(
    df: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    vocab_size: int = 128,
    quant: int = 10_000,
    buckets: int = 3,
    thresholds: tuple | None = None,
) -> DataFrame:
    """CCNet-style perplexity scoring and bucketing (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data" — public paper, reimplemented from the published
    method): score each document under a character-``n``-gram language
    model trained on ``train`` (default: the corpus itself; CCNet
    trains on Wikipedia — pass any reference corpus), then split the
    corpus into ``head``/``middle``/``tail`` thirds by perplexity
    (bucket 1 = head = lowest perplexity = cleanest text).

    Model: add-one-smoothed conditional char n-grams over
    whitespace-collapsed lowercased text padded with one space on each
    side — ``p(c_n | ctx) = (cnt_n + 1) / (cnt_ctx + vocab_size)``,
    unseen context backs off to ``1 / vocab_size``.  Per-gram log
    probabilities are QUANTIZED to integers (``floor(ln p * quant)``)
    before summing, so per-document totals are exact integer sums —
    order-independent across partitions, runs, and engines (the same
    trick as the integer-exact Lloyd training in semdedup).

    Returns ``(id, n_grams, nll_q, ppl, bucket)``: ``nll_q`` the
    quantized total negative log-likelihood (bigint), ``ppl = exp(nll_q
    / quant / n_grams)`` rounded to 6 decimals, ``bucket`` in
    ``1..buckets`` (NULL for docs with no grams).

    Scale shape: the model is bounded by ``alphabet^n`` rows regardless
    of corpus size (char trigrams over web text: ~1M rows, a few MB) —
    it BROADCASTS, so scoring is explode -> broadcast-join ->
    partial-agg per doc: one doc-level shuffle, no model-side skew.
    Bucketing is exact ``ntile`` over doc-level rows by default (one
    global doc-level sort — fine up to hundreds of millions of docs);
    at larger scale pass ``thresholds=(t1, t2, ...)`` (perplexity cut
    points, e.g. from a sampled quantile or a previous epoch) and the
    bucket assignment becomes a map-only comparison with no sort."""
    from pyspark.sql import Window

    from xarray_spark.extras.dedup import _spread

    # under-parallel single-file scans serialize the heavy gram explode
    # (the round-5 _spread lesson); a 100 TB input already arrives in
    # thousands of splits and passes through untouched
    train = _spread(df if train is None else train, id_col)
    df = _spread(df, id_col)

    def gram_df(src, outer=False):
        norm = F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                r"\s+", " ")),
            F.lit(" "))
        base = src.select(F.col(id_col), norm.alias("__n"))
        grams = F.when(
            F.length("__n") >= n,
            F.transform(
                F.sequence(F.lit(1), F.length("__n") - n + 1),
                lambda i: F.col("__n").substr(i, F.lit(n))),
        ).otherwise(F.array().cast("array<string>"))
        # outer=True keeps zero-gram docs as one NULL-gram row so the
        # scoring aggregate covers every doc in ONE pass (the previous
        # plan re-scanned the corpus for ids and left-joined them back)
        ex = F.explode_outer(grams) if outer else F.explode(grams)
        return base.select(id_col, ex.alias("__g"))

    # ---- train: conditional counts, bounded by alphabet^n rows ----
    # the count table is REUSED by the gram-model and the context
    # backoff; materialize the one heavy explode+agg job once (the
    # result is alphabet^n-bounded — a few MB — exactly what a
    # production pipeline would persist between train and score)
    cnt_n = gram_df(train).groupBy("__g").agg(
        F.count(F.lit(1)).alias("__cn"))
    try:
        # lazy: materializes inside the scoring action's first use —
        # the EAGER form paid a blocking driver-paced job at operator
        # build time (guide §5: the driver should do no data work)
        cnt_n = cnt_n.localCheckpoint(eager=False)
    except Exception:
        pass  # keep lineage when checkpointing is unavailable
    cnt_ctx = cnt_n.groupBy(
        F.col("__g").substr(F.lit(1), F.lit(n - 1)).alias("__ctx")).agg(
        F.sum("__cn").alias("__cc"))
    model = cnt_n.withColumn(
        "__ctx", F.col("__g").substr(F.lit(1), F.lit(n - 1))
    ).join(cnt_ctx, "__ctx").select(
        "__g", "__cc",
        F.floor(F.log((F.col("__cn") + 1)
                      / (F.col("__cc") + vocab_size)) * quant)
        .cast("long").alias("__lq"))
    ctx_only = cnt_ctx.select(
        "__ctx",
        F.floor(F.log(1.0 / (F.col("__cc") + vocab_size)) * quant)
        .cast("long").alias("__lq_ctx"))
    lq_oov = int(math.floor(math.log(1.0 / vocab_size) * quant))

    # ---- score: explode -> broadcast joins -> one doc-level agg ----
    scored_grams = (
        gram_df(df, outer=True)
        .join(F.broadcast(model.select("__g", "__lq")), "__g", "left")
        .withColumn("__ctx", F.col("__g").substr(F.lit(1), F.lit(n - 1)))
        .join(F.broadcast(ctx_only), "__ctx", "left")
        .select(
            id_col, "__g",
            F.coalesce("__lq", "__lq_ctx", F.lit(lq_oov)).alias("__q"))
    )
    # count(__g) skips the NULL marker rows of zero-gram docs, so the
    # single aggregate yields (0 grams, 0 nll) for them — no second
    # corpus scan, no doc-level left join
    all_docs = scored_grams.groupBy(id_col).agg(
        F.count("__g").cast("long").alias("n_grams"),
        F.coalesce(-F.sum(F.when(F.col("__g").isNotNull(), F.col("__q"))),
                   F.lit(0)).cast("long").alias("nll_q"))
    ppl = F.when(
        F.col("n_grams") > 0,
        F.round(F.exp(F.col("nll_q") / F.lit(float(quant))
                      / F.col("n_grams")), 6))
    scored = all_docs.withColumn("ppl", ppl)

    if thresholds is not None:
        b = F.lit(1)
        for t in thresholds:
            b = b + F.when(F.col("ppl") > float(t), 1).otherwise(0)
        return scored.withColumn(
            "bucket", F.when(F.col("ppl").isNotNull(), b).cast("int"))

    # exact deterministic thirds: integer sort key (nll_q/n_grams is an
    # IEEE double of two exact ints — identical in any engine), doc-id
    # tiebreak.  ntile is computed CLOSED-FORM from row_number with
    # NULLS LAST (bucket = floor((rn-1)*k/nn)+1, the SQL-standard
    # remainder-to-front distribution) so zero-gram docs ride the same
    # single pass with a NULL bucket — a filter+union here would
    # duplicate the whole scoring subplan (measured: 10 parquet scans
    # -> 6)
    key = F.when(F.col("n_grams") > 0, F.col("nll_q") / F.col("n_grams"))
    w = Window.orderBy(key.asc_nulls_last(), F.col(id_col).asc())
    rn = F.row_number().over(w)
    nn = F.count(key).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
    bucket = F.when(
        key.isNotNull(),
        F.floor(((rn - F.lit(1)) * buckets) / nn) + F.lit(1)).cast("int")
    return scored.withColumn("bucket", bucket)
