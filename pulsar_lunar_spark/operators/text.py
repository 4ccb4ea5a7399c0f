"""Text analysis for training-data pipelines (SURVEY §2B north star):
tokenization, token counting, quality scoring, language ID, fingerprints.

Everything is built-in JVM expressions (regexp/array HOFs) — these run in
whole-stage codegen at full scan speed; no Python UDF in any of them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators.dedup import normalize_text

#: BPE-ish token pattern: words-with-apostrophes | numbers | any non-space symbol.
TOKEN_PATTERN = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic (public-knowledge common words; matches the corpus langs).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ein"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}


def tokenize(col: Column) -> Column:
    """BPE-ish regex tokenization -> array<string>."""
    return F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0)


def token_count(col: Column) -> Column:
    """Token count under TOKEN_PATTERN (whitespace word count is just
    size(split(normalize_text, ' ')))."""
    return F.size(tokenize(col))


def word_count(col: Column) -> Column:
    return F.size(F.split(normalize_text(col), " "))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alnum/space characters."""
    n = F.length(col)
    n_punct = n - F.length(F.regexp_replace(col, r"[^A-Za-z0-9\s]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def mean_word_length(col: Column) -> Column:
    words = F.split(normalize_text(col), " ")
    total = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(words) > 0, total / F.size(words)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] doc-quality score: favors mid-length docs, mid word
    lengths, low punctuation density (the classic cheap pre-filter before
    model-based scoring)."""
    n = F.length(col)
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    wl = mean_word_length(col)
    wl_score = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
    return (len_score * 0.4 + wl_score * 0.3 + punct_score * 0.3).cast("double")


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    words = F.split(normalize_text(col), " ")
    out: dict[str, Column] = {}
    for lang, stops in LANG_STOPWORDS.items():
        stop = F.array(*[F.lit(w) for w in stops])
        out[lang] = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    return out


def detect_lang(col: Column, default: str = "und") -> Column:
    """Argmax language over stopword-hit scores; 'und' when no hits.

    Deterministic tiebreak: language code ascending.
    """
    scores = lang_scores(col)
    pairs = F.array(
        *[
            F.struct(score.cast("int").alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    max_score = F.array_max(F.transform(pairs, lambda p: p.getField("score")))
    first_best = F.filter(pairs, lambda p: p.getField("score") == max_score)[0].getField("lang")
    return F.when(max_score > 0, first_best).otherwise(F.lit(default))


#: PII patterns, written in the common subset of Java regex (Spark) and
#: RE2 (DuckDB): no lookaround, no \d shorthand, explicit classes only —
#: so the DuckDB oracle can run the byte-identical pattern.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

#: Redaction order matters (email first: its local/domain parts contain
#: digit runs an IP pass could nibble). Keep in sync with the SQL twin.
PII_PATTERNS = (PII_EMAIL, PII_PHONE, PII_IPV4)


def pii_count(col: Column, pattern: str) -> Column:
    """Number of matches of one PII pattern (codegen regexp, no UDF)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def redact_pii(col: Column, token: str = "[PII]") -> Column:
    """Replace every email / phone / IPv4 match with `token`.

    Pure regexp_replace chain — whole-stage codegen, scan-speed; the
    standard pre-training scrub pass before tokenization.
    """
    out = col
    for pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def doc_fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text (exact-dup
    key; the rolling/shingle variant is minhash_signature in dedup.py)."""
    return F.md5(normalize_text(col))
