"""Text analysis operators for a training-data pipeline.

Everything is built-in-function Spark (split/regexp/aggregate) — no
Python UDFs in the hot path, so the plan stays in whole-stage codegen
and scales linearly with document count. Each operator has an exact
DuckDB-SQL equivalent (the query modules carry the oracle strings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "y", "es", "en", "un"],
    "fr": ["le", "la", "de", "et", "est", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "in", "ein"],
}


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def word_ngrams(words: Column, n: int) -> Column:
    """Array of the space-joined word n-grams of a token array, in
    order. ``words`` must be a column reference, not an expression:
    the ``transform`` lambda is interpreted per element, so an
    expression there (e.g. :func:`tokens`) is recomputed per n-gram."""
    # Guard: sequence(1, 0) would step DOWNWARD in Spark, so short
    # arrays get an explicit empty index array (explode drops them).
    idxs = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idxs, lambda i: F.array_join(F.slice(words, i, n), " ")
    )


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """BPE-style pre-token count — delegates to the canonical
    tokenizer in ``functions.tokenize`` (single source of truth for
    the pattern, which must stay Java-regex/RE2-identical)."""
    from ..functions.tokenize import bpe_ish_tokens

    return F.size(bpe_ish_tokens(F.col(text_col)))


def stopword_hits(text_col: str, words: list[str]) -> Column:
    """How many tokens are in the given stopword list."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text_col), lambda t: F.array_contains(arr, t)))


def quality_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality panel: char/token counts, mean token length,
    alpha ratio, stopword ratio (en). The reference has no text ops —
    this is the §7 beyond-reference surface."""
    n_tok = token_count(text_col)
    n_char = F.length(F.col(text_col))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    sw = stopword_hits(text_col, STOPWORDS["en"])
    return df.select(
        F.col(id_col),
        n_char.alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.round(n_char.cast("double") / n_tok, 6).alias("chars_per_token"),
        F.round(alpha_chars.cast("double") / n_char, 6).alias("alpha_ratio"),
        F.round(sw.cast("double") / n_tok, 6).alias("stopword_ratio"),
    )


def language_vote(text_col: str = "text") -> Column:
    """The stopword-vote language-ID heuristic as a plain Column —
    score each language by stopword hits, pick the argmax (ties →
    'und'). Being a column expression (not a frame) lets pipelines
    apply it AFTER their cheap filters without a join."""
    scores = {lang: stopword_hits(text_col, ws) for lang, ws in STOPWORDS.items()}
    langs = list(STOPWORDS)
    expr = F.lit("und")
    # Build from lowest to highest priority so earlier langs win ties
    # deterministically (en > es > fr > de order of preference).
    for lang in reversed(langs):
        others = [scores[o] for o in langs if o != lang]
        cond = scores[lang] > F.lit(0)
        for o in others:
            cond = cond & (scores[lang] >= o)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document language prediction (see :func:`language_vote`).
    A real pipeline would swap in a trained model via pandas_udf
    without changing the plan shape."""
    return df.select(F.col(id_col), language_vote(text_col).alias("lang_pred"))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of
    whitespace-normalized, lowercased text (first 16 hex chars)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# PII redaction. Patterns are written in the Java-regex/RE2-common
# subset (no lookarounds, no \p classes) so the DuckDB oracle matches
# byte-for-byte; deny_terms cover organization-specific strings that
# pattern matching can't know (the driver corpus is synthetic word
# salad with no real PII, so the deny term is what gives the operator
# non-trivial work there — the pattern machinery is identical either
# way).
# --------------------------------------------------------------------------
PII_PATTERNS: list[str] = [
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",  # email
    r"\+?[0-9][0-9()\- ]{7,}[0-9]",  # phone-ish digit run
    r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",  # IPv4
]

REDACTION_TOKEN = "[PII]"

# metacharacters shared by Java regex and RE2 — escaping exactly these
# keeps an escaped literal valid (and identical) in both engines.
_REGEX_META = set("\\.^$*+?()[]{}|")


def regex_literal(term: str) -> str:
    """Escape a plain string so both Java regex and RE2 match it
    literally (deny terms like "Acme Inc." or "C++" must not be
    interpreted as patterns)."""
    return "".join("\\" + c if c in _REGEX_META else c for c in term)


def pii_redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    deny_terms: tuple[str, ...] = ("customer",),
) -> DataFrame:
    """Per-document PII scrub: (id, n_hits, clean_md5).

    ``n_hits`` counts every pattern/deny-term occurrence BEFORE
    redaction; ``clean_md5`` fingerprints the redacted text so an
    oracle can verify the transformation without shipping the text.
    All regexp_replace/extract_all — JVM codegen, linear scan.
    """
    clean = F.col(text_col)
    hits = F.lit(0)
    for pat in PII_PATTERNS:
        hits = hits + F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
        clean = F.regexp_replace(clean, pat, REDACTION_TOKEN)
    for term in deny_terms:
        lit = regex_literal(term)
        hits = hits + F.size(F.regexp_extract_all(F.col(text_col), F.lit(lit), 0))
        clean = F.regexp_replace(clean, lit, REDACTION_TOKEN)
    return df.select(
        F.col(id_col),
        hits.alias("n_hits"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_md5"),
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``top_token_ratio``: share of the single most frequent token;
    - ``dup_bigram_ratio``: 1 − distinct/total word bigrams.

    High values of either flag boilerplate/degenerate text. Two
    grouped aggregations joined on the doc id — no Python.
    """
    words = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_w")
    )
    toks = words.select("id", F.explode("_w").alias("tok"))
    tok_stats = (
        toks.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_c"),
        )
    )
    grams = words.select(
        "id", F.explode(word_ngrams(F.col("_w"), 2)).alias("g")
    )
    gram_stats = grams.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("g").alias("n_distinct_bigrams"),
    )
    return (
        tok_stats.join(gram_stats, "id")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens"),
            F.round(F.col("top_c") / F.col("n_tokens"), 6).alias(
                "top_token_ratio"
            ),
            F.round(
                1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6
            ).alias("dup_bigram_ratio"),
        )
    )


def nfc_normalize(col: str | Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF.

    Web-crawled corpora mix composed and decomposed forms of the same
    grapheme ('é' as U+00E9 vs 'e'+U+0301); exact dedup, shingling and
    tokenization all treat them as different bytes unless the corpus
    is normalized first, so NFC is the canonical first pass of a text
    pipeline. Spark has no built-in NFC expression — this is the
    legitimate Python-UDF case: a scalar, stateless, Arrow-batched
    transform (unicodedata.normalize is C-backed; the batch transfer,
    not the loop, is the cost). Exactly matches DuckDB's
    ``nfc_normalize``, so queries built on it remain hash-oracle-able.
    """
    import pandas as pd  # noqa: F401  (signature typing)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pd.Series -> pd.Series
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)
