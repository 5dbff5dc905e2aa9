"""Text-analysis operators for training-data pipelines — all pure
Column expressions (codegen'd, no UDFs): statistics, token counting,
quality scoring, language ID, fingerprinting, deterministic sampling.

Patterns stick to regex constructs with identical semantics in Java
(Spark) and RE2 (DuckDB oracle): character classes, alternation,
\\b word boundaries — no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_RE = r"[^A-Za-z0-9\s]"

# tiny marker-word sets per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|of|and|is|to)\b",
    "fr": r"\b(le|la|les|et|des|une)\b",
    "de": r"\b(der|die|das|und|ist|ein)\b",
    "es": r"\b(el|la|los|de|que|una)\b",
}
CJK_RE = r"[一-鿿]"


def n_words(text: Column) -> Column:
    return F.size(F.split(text, r"\s+")).cast("bigint")


def approx_llm_tokens(text: Column) -> Column:
    """chars/4 heuristic — the standard quick estimate."""
    return F.ceil(F.length(text) / 4.0).cast("bigint")


def punct_ratio(text: Column) -> Column:
    return (F.regexp_count(text, F.lit(PUNCT_RE)).cast("double")
            / F.greatest(F.length(text), F.lit(1)))


def stopword_ratio(text: Column) -> Column:
    return (F.regexp_count(F.lower(text), F.lit(LANG_MARKERS["en"]))
            .cast("double") / F.greatest(n_words(text), F.lit(1)))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length saturation +
    stopword presence + low punctuation noise. Deterministic, cheap,
    and entirely pushdown-friendly — run it at ingest, filter early."""
    length_score = F.least(n_words(text) / F.lit(50.0), F.lit(1.0))
    return F.round(0.4 * length_score
                   + 0.3 * F.least(stopword_ratio(text) * 5, F.lit(1.0))
                   + 0.3 * (1 - F.least(punct_ratio(text) * 10, F.lit(1.0))),
                   6)


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    scores = {lang: F.regexp_count(low, F.lit(pat)).cast("double")
              for lang, pat in LANG_MARKERS.items()}
    # CJK characters are a much stronger signal than stopwords
    scores["zh"] = F.regexp_count(text, F.lit(CJK_RE)).cast("double") * 3
    return scores


def lang_id(text: Column) -> Column:
    """Marker-word/CJK argmax language guess. On corpora whose text
    carries no real language signal this degrades to the dominant
    class — parity with the oracle (not accuracy) is the contract."""
    scores = lang_scores(text)
    langs = sorted(scores)  # deterministic tie order: alphabetical
    expr = F.lit("und")
    best = F.greatest(*[scores[lang] for lang in langs])
    for lang in reversed(langs):
        expr = F.when((scores[lang] == best) & (best > 0),
                      F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (hex). Stable
    across engines; use the first 16 hex chars as a join-friendly
    64-bit surrogate."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(norm.cast("binary"))


ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31


def rolling_fingerprint(text_col_sql: str) -> Column:
    """Polynomial rolling hash over the character stream:
    h = fold(h * 31 + codepoint) mod 1e9+7 — the classic content
    fingerprint primitive (Karp-Rabin). Pure JVM fold via the
    aggregate higher-order function; acc stays < 31 * mod, inside
    BIGINT. Takes a SQL expression string (usually a backticked
    column name)."""
    t = text_col_sql
    return F.expr(
        f"aggregate("
        f"  transform(sequence(1, length({t})),"
        f"            i -> ascii(substring({t}, i, 1))),"
        f"  cast(0 as bigint),"
        f"  (acc, c) -> pmod(acc * {ROLLING_HASH_BASE} + c,"
        f"                   {ROLLING_HASH_MOD}))")


def deterministic_sample(id_col: Column, rate_hex_prefixes: int = 2) -> Column:
    """Hash-based sampling predicate: md5(id) first hex char in the
    first ``rate_hex_prefixes`` values → rate = n/16. Stable across
    engines, runs, and partitionings — unlike rand() sampling."""
    prefixes = [format(i, "x") for i in range(rate_hex_prefixes)]
    return F.substring(F.md5(id_col.cast("string").cast("binary")),
                       1, 1).isin(prefixes)
