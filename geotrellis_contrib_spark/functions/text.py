"""Text-analysis column builders for large-scale training-data pipelines.

All tier-1 (pure JVM Column expressions, codegen'd): token counting,
quality scoring, language-ID heuristic, fingerprinting primitives. Each has
an ANSI-SQL twin used by the DuckDB dual-execution oracles (kept here so the
two dialects stay in sync).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic; matched as whole words.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "de", "que", "los", "es"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# BPE-ish tokenizer: word pieces = runs of letters, runs of digits, or a
# single non-space symbol (what a byte-pair pre-tokenizer sees).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def ws_token_count(text) -> Column:
    """Whitespace token count. size(split(trim(s), '\\s+')) with empty -> 0."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def sql_ws_token_count(text: str) -> str:
    return (f"CAST(CASE WHEN TRIM({text}) = '' THEN 0 "
            f"ELSE LENGTH(REGEXP_REPLACE(TRIM({text}), '\\s+', ' ', 'g')) "
            f"- LENGTH(REPLACE(REGEXP_REPLACE(TRIM({text}), '\\s+', ' ', 'g'), ' ', '')) + 1 END AS BIGINT)")


def bpe_token_count(text) -> Column:
    """Count of BPE-ish word pieces (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(BPE_TOKEN_RE), 0)).cast("long")


def sql_bpe_token_count(text: str) -> str:
    # DuckDB: len(regexp_extract_all(s, re))
    return f"CAST(LEN(REGEXP_EXTRACT_ALL({text}, '{BPE_TOKEN_RE}')) AS BIGINT)"


def alpha_ratio(text) -> Column:
    """Fraction of characters that are ASCII letters (0 for empty)."""
    t = _c(text)
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(alpha / F.length(t))


def sql_alpha_ratio(text: str) -> str:
    return (f"CASE WHEN LENGTH({text}) = 0 THEN 0.0 ELSE "
            f"LENGTH(REGEXP_REPLACE({text}, '[^a-zA-Z]', '', 'g')) * 1.0 / LENGTH({text}) END")


def punct_ratio(text) -> Column:
    t = _c(text)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[.,;:!?'\"()]", ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(punct / F.length(t))


def sql_punct_ratio(text: str) -> str:
    return (f"CASE WHEN LENGTH({text}) = 0 THEN 0.0 ELSE "
            f"(LENGTH({text}) - LENGTH(REGEXP_REPLACE({text}, '[.,;:!?''\"()]', '', 'g'))) * 1.0 "
            f"/ LENGTH({text}) END")


def stopword_hits(text, words=None) -> Column:
    """Total occurrences of stopwords as whole words (case-insensitive)."""
    words = words or STOPWORDS_EN
    t = F.lower(_c(text))
    pat = "\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")


def sql_stopword_hits(text: str, words=None) -> str:
    words = words or STOPWORDS_EN
    pat = "\\b(" + "|".join(words) + ")\\b"
    return f"CAST(LEN(REGEXP_EXTRACT_ALL(LOWER({text}), '{pat}')) AS BIGINT)"


def lang_scores(text) -> dict[str, Column]:
    """Marker-hit count per language (the language-ID heuristic features)."""
    return {lang: stopword_hits(text, words) for lang, words in LANG_MARKERS.items()}


def lang_id(text) -> Column:
    """argmax over LANG_MARKERS hit counts; ties broken by language-code
    order; 'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(text)
    langs = sorted(LANG_MARKERS)  # deterministic tie-break: de < en < es < fr
    best = scores[langs[0]]
    best_lang = F.lit(langs[0])
    for lang in langs[1:]:
        is_better = scores[lang] > best
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best = F.when(is_better, scores[lang]).otherwise(best)
    return F.when(best == 0, F.lit("und")).otherwise(best_lang)


def sql_lang_id(text: str) -> str:
    langs = sorted(LANG_MARKERS)
    hits = {lang: sql_stopword_hits(text, LANG_MARKERS[lang]) for lang in langs}
    expr_lang = f"'{langs[0]}'"
    expr_best = hits[langs[0]]
    for lang in langs[1:]:
        expr_lang = f"CASE WHEN {hits[lang]} > {expr_best} THEN '{lang}' ELSE {expr_lang} END"
        expr_best = f"GREATEST({hits[lang]}, {expr_best})"
    return f"CASE WHEN {expr_best} = 0 THEN 'und' ELSE {expr_lang} END"


def quality_score(text) -> Column:
    """Composite document-quality score in [0,1]: rewards alpha-heavy,
    stopword-bearing prose of reasonable length; penalizes punctuation walls.
    score = 0.4*alpha + 0.3*min(stop_hits/32,1) + 0.2*min(len/2000,1) + 0.1*(1-min(punct*5,1))
    """
    t = _c(text)
    a = alpha_ratio(t)
    s = F.least(stopword_hits(t) / F.lit(32.0), F.lit(1.0))
    ln = F.least(F.length(t) / F.lit(2000.0), F.lit(1.0))
    p = F.lit(1.0) - F.least(punct_ratio(t) * 5.0, F.lit(1.0))
    return a * 0.4 + s * 0.3 + ln * 0.2 + p * 0.1


def sql_quality_score(text: str) -> str:
    a = sql_alpha_ratio(text)
    s = f"LEAST({sql_stopword_hits(text)} / 32.0, 1.0)"
    ln = f"LEAST(LENGTH({text}) / 2000.0, 1.0)"
    p = f"(1.0 - LEAST({sql_punct_ratio(text)} * 5.0, 1.0))"
    return f"(({a}) * 0.4 + {s} * 0.3 + {ln} * 0.2 + {p} * 0.1)"


# --- fingerprinting / hashing (shared Spark<->DuckDB arithmetic) -----------

FP_MOD = 1_000_000_007
FP_BASE = 131


def char_poly_hash(text) -> Column:
    """Polynomial rolling hash over character codes:
    h = sum(ascii(c_i) * base^i) mod p, computed left-fold as
    h_{i+1} = (h_i * base + ascii(c_i)) mod p. Pure JVM via aggregate()
    over split(text, '') — no Python. Empty string -> 0.
    """
    t = _c(text)
    return F.aggregate(
        F.split(t, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )
