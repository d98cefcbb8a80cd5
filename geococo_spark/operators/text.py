"""Text-analysis operators for large-scale training-data pipelines
(driver brief: language-ID, quality scoring, token counting, document
fingerprinting). All hot-path expressions are Spark built-ins (JVM-side,
whole-stage codegen); no Python UDFs.

Outputs are integers/strings (or explicitly rounded doubles) so the
DuckDB oracle can reproduce them hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geococo_spark.operators.partitioning import spread

# tiny deterministic stopword set for the n-gram language heuristic
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it"]
PUNCT = ".,!?;:"


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via the length-difference trick
    (identical semantics in Spark and ANSI SQL/DuckDB)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + distinct tokens + char count."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.withColumn("n_chars_m", F.length(F.col(text_col)).cast("long"))
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)).cast("long"))
    )


BPE_PIECE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_bpe_token_estimate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting (driver brief: "whitespace + a BPE-ish
    regex"): split into letter runs / digit runs / single punctuation
    with one regex, then estimate subword pieces — letter runs contribute
    ceil(len/4) (the ~4 chars/token BPE rule of thumb), digit runs
    ceil(len/3), punctuation 1 each. Pure built-ins (regexp_extract_all +
    aggregate), reproducible in the DuckDB oracle."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PIECE_RE), F.lit(0))
    est = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.when(p.rlike("^[A-Za-z]"), F.ceil(F.length(p) / 4.0).cast("long"))
        .when(p.rlike("^[0-9]"), F.ceil(F.length(p) / 3.0).cast("long"))
        .otherwise(F.lit(1)),
    )
    return df.withColumn("n_pieces", F.size(pieces).cast("long")).withColumn(
        "n_bpe_tokens", est
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, punctuation count/ratio, stopword count/
    ratio, mean token length — the standard cheap text-quality features.
    Ratios are rounded to 6 dp for oracle hash parity."""
    out = with_token_stats(df, text_col)
    text = F.col(text_col)
    punct = sum(
        (_count_occurrences(text, ch) for ch in PUNCT[1:]),
        _count_occurrences(text, PUNCT[0]),
    )
    stop = None
    for w in EN_STOPWORDS:
        c = _count_occurrences(F.concat(F.lit(" "), text, F.lit(" ")), f" {w} ")
        stop = c if stop is None else stop + c
    return (
        out.withColumn("n_punct", punct)
        .withColumn("n_stopwords", stop)
        .withColumn(
            "punct_ratio", F.round(punct / F.greatest(F.col("n_chars_m"), F.lit(1)), 6)
        )
        .withColumn(
            "stopword_ratio", F.round(stop / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
        )
        .withColumn(
            "mean_token_len",
            F.round(F.col("n_chars_m") / F.greatest(F.col("n_tokens"), F.lit(1)), 6),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: English stopword density -> 'en' / 'unk'.

    Deterministic and SQL-expressible; a real n-gram model would slot in
    as a pandas UDF without changing the plan shape."""
    out = with_quality(df, text_col)
    return out.withColumn(
        "lang_pred",
        F.when(
            (F.col("n_stopwords") * 20 >= F.col("n_tokens")) & (F.col("n_tokens") > 0), "en"
        ).otherwise("unk"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings, built by zipping n offset
    slices of the token array (round 8: identical strings to the old
    ``transform(sequence, i -> element_at...)`` index loop — pinned by
    the repetition/quality oracles — but the per-element interpreted
    element_at lambdas measured ~6x slower than slice+zip_with at
    sf1.0). Docs with fewer than n tokens yield an EMPTY array (the
    slice length clamps at 0)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return out


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals (the Gopher/MassiveText-style quality rules a
    training-data pipeline filters on): duplicate word-2-gram and
    word-3-gram fractions, plus the fraction of characters covered by
    the single most repeated 2-gram. All Spark built-ins (higher-order
    functions, JVM-side); the top-2-gram pass sorts the gram array and
    counts adjacent runs — O(n log n) in the document's token count
    (ADVICE r06: the previous filter-per-distinct-gram formulation was
    O(distinct x total), quadratic exactly on the highly repetitive
    long documents this signal targets).

    dup_Ngram_frac = (n_grams - n_distinct_grams) / n_grams: the
    occurrences-beyond-first share. top_2gram_frac = max over distinct
    2-grams of count * gram_chars, over total chars. Ratios rounded to
    6 dp for oracle hash parity.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df
    for n in (2, 3):
        grams = _word_ngrams(toks, n)
        total = F.size(grams).cast("long")
        distinct = F.size(F.array_distinct(grams)).cast("long")
        out = out.withColumn(f"n_{n}grams", total).withColumn(
            f"dup_{n}gram_frac",
            F.round((total - distinct) / F.greatest(total, F.lit(1)), 6),
        )
    # max over distinct grams of count*chars == max over RUNS of equal
    # adjacent grams in the sorted array (each distinct gram's full
    # count is the length of its single sorted run) — value-identical
    # to the old per-distinct filter, one sort + one linear fold
    g2_sorted = F.array_sort(_word_ngrams(toks, 2))
    zero = F.lit(0).cast("long")
    top_chars = F.aggregate(
        g2_sorted,
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
                * F.length(x).cast("long"),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        out.withColumn("top_2gram_chars", top_chars)
        .withColumn(
            "top_2gram_frac",
            F.round(
                top_chars / F.greatest(F.length(F.col(text_col)).cast("long"), F.lit(1)), 6
            ),
        )
    )


def apply_quality_filters(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    min_stopword_per_tokens: int = 50,
    max_punct_per_chars: float = 0.3,
    max_dup_2gram_frac: float = 0.2,
) -> DataFrame:
    """The quality FILTER itself (Gopher/C4-style): compose the cheap
    signals into a keep/drop decision plus a per-rule failure bitmask
    for audit ("why did 4% of the corpus drop?" is a groupBy on
    ``fail_flags``, not a re-run). Rules (bit set = rule FAILED):

      1  token count outside [min_tokens, max_tokens]
      2  mean token length outside [min/max_mean_token_len]
      4  too few stopwords (n_stopwords * min_stopword_per_tokens <
         n_tokens — i.e. under 1 stopword per N tokens)
      8  punctuation-heavy (n_punct > max_punct_per_chars * n_chars)
      16 repetitive (duplicate-2-gram occurrences beyond first >
         max_dup_2gram_frac of all 2-grams)

    Decisions compare raw INTEGER counts cross-multiplied against the
    thresholds (never the rounded ratio columns), so the cut is exact
    and the DuckDB oracle reproduces it bit-for-bit; doubles appear
    only as multipliers (IEEE-identical in both engines). One
    projection over :func:`with_quality`'s columns plus an inline
    2-gram distinct count — no shuffle, no Python.

    Adds ``fail_flags`` (long bitmask) and ``keep`` (boolean).
    """
    out = with_quality(df, text_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    g2 = _word_ngrams(toks, 2)
    g2_total = F.size(g2).cast("long")
    g2_dup = g2_total - F.size(F.array_distinct(g2)).cast("long")
    n_tok = F.col("n_tokens")
    n_chr = F.col("n_chars_m")
    f_len = (n_tok < min_tokens) | (n_tok > max_tokens)
    f_mean = (n_chr < F.lit(min_mean_token_len) * n_tok) | (
        n_chr > F.lit(max_mean_token_len) * n_tok
    )
    f_stop = F.col("n_stopwords") * min_stopword_per_tokens < n_tok
    f_punct = F.col("n_punct") > F.lit(max_punct_per_chars) * n_chr
    f_rep = g2_dup > F.lit(max_dup_2gram_frac) * g2_total
    flags = (
        F.when(f_len, 1).otherwise(0)
        + F.when(f_mean, 2).otherwise(0)
        + F.when(f_stop, 4).otherwise(0)
        + F.when(f_punct, 8).otherwise(0)
        + F.when(f_rep, 16).otherwise(0)
    ).cast("long")
    return out.withColumn("fail_flags", flags).withColumn(
        "keep", F.col("fail_flags") == 0
    )


# PII patterns kept to the regex subset with identical semantics in
# Java regex (Spark, JVM-side) and RE2 (DuckDB oracle): char classes,
# bounded repetition, \b ASCII word boundary — no lookaround/backrefs
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction (the scrub stage every training-data pipeline runs
    before anything leaves the raw zone): emails, IPv4 addresses, and
    phone-number-shaped digit runs are replaced with typed placeholders,
    with per-category match counts for audit metrics.

    Scrubbing is SEQUENTIAL (emails -> IPv4 -> phones) and each count
    is taken on that stage's input, so a dotted host inside an email
    is counted once as email, never again as an address; the
    placeholders contain no digits, so earlier redactions cannot
    create later phone matches. Pure JVM regexp built-ins — one
    projection, no shuffle, no Python; per-row cost is linear in text
    length (RE2-compatible patterns, no backtracking blowup).

    Adds ``n_emails``, ``n_ipv4``, ``n_phones``, ``text_scrubbed``.
    """
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.size(
        F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), F.lit(0))
    ).cast("long")
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_ipv4 = F.size(
        F.regexp_extract_all(t1, F.lit(PII_IPV4_RE), F.lit(0))
    ).cast("long")
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    n_phones = F.size(
        F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), F.lit(0))
    ).cast("long")
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", n_emails)
        .withColumn("n_ipv4", n_ipv4)
        .withColumn("n_phones", n_phones)
        .withColumn("text_scrubbed", t3)
    )


def vocab_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int | None = 1000,
    min_doc_freq: int = 1,
    with_idf: bool = False,
) -> DataFrame:
    """Corpus vocabulary statistics: per lowercase whitespace token,
    total occurrences (``term_freq``) and number of distinct documents
    containing it (``doc_freq``), the primitives behind vocabulary
    builds, stopword discovery, and TF-IDF weighting in a
    training-data pipeline.

    Scale shape: two keyed aggregations, both combiner-friendly —
    groupBy (term, doc) first (map-side partial collapses each
    document's repeats before anything crosses the wire; a hot term
    like "the" enters the second shuffle as at most one row per
    document, never one per occurrence), then groupBy (term) summing
    counts. No count(DISTINCT) expand, no window over the full corpus.
    (Round 8 measured the tempting one-exchange alternative — per-doc
    run-length counts over a sorted token array via higher-order
    functions, then a single groupBy(term) — at 2.8x SLOWER at sf1.0:
    Spark evaluates HOF lambdas interpreted, and the per-token
    get/compare lambdas cost far more than the (term, doc) exchange
    they saved. Negative result kept so it isn't retried.)
    ``top_k`` lands as TakeOrderedAndProject (per-partition top-k,
    driver merges k rows per partition — never a global sort of the
    vocabulary); the ordering (doc_freq desc, term_freq desc, term
    asc) is total, so the cut is deterministic. ``top_k=None`` returns
    the full vocabulary table for sink-side consumption.

    ``with_idf`` adds smoothed idf = round(ln((N+1)/(doc_freq+1)), 6)
    (N = corpus document count, attached as a broadcast-ish 1-row
    aggregate); excluded from the DuckDB oracle query (libm ln parity
    is not guaranteed) and pinned by pytest against math.log instead.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    # a compact input would run the explode + map-side partial agg on
    # 1-2 cores (round 8)
    df = spread(df, id_col)
    per_doc_term = (
        df.select(F.col(id_col).alias("_doc"), F.explode(toks).alias("term"))
        .groupBy("term", "_doc")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    stats = per_doc_term.groupBy("term").agg(
        F.sum("_n").cast("long").alias("term_freq"),
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
    )
    if min_doc_freq > 1:
        stats = stats.filter(F.col("doc_freq") >= min_doc_freq)
    if with_idf:
        n_docs = df.select(F.count(F.lit(1)).alias("_nd"))
        stats = stats.crossJoin(F.broadcast(n_docs)).withColumn(
            "idf",
            F.round(F.log((F.col("_nd") + 1.0) / (F.col("doc_freq") + 1.0)), 6),
        ).drop("_nd")
    stats = stats.orderBy(
        F.desc("doc_freq"), F.desc("term_freq"), F.asc("term")
    )
    return stats.limit(top_k) if top_k is not None else stats


def with_fingerprint(df: DataFrame, text_col: str = "text", prefix_len: int = 64) -> DataFrame:
    """Document fingerprint: position-weighted checksum of the first
    ``prefix_len`` code points, mod 2^31-1 (a rolling-hash stand-in that
    both Spark and DuckDB evaluate with exact integer arithmetic)."""
    text = F.col(text_col)
    n = F.least(F.length(text), F.lit(prefix_len))
    terms = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: i.cast("long") * F.ascii(F.substring(text, i, 1)).cast("long"),
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.withColumn(
        "fingerprint", F.when(F.length(text) > 0, total % F.lit(2147483647)).otherwise(F.lit(0))
    )
