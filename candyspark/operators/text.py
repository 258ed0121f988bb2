"""Text-analysis column builders (SURVEY.md §2.13, M5 — no reference
counterpart; these are the LLM-training-data operators layered on the engine).

Everything here is a pure Column expression over ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen, no Python UDFs — so text statistics run at
scan speed over 100-TB document sets. Each builder has an exact DuckDB-SQL
mirror in ``plans/extensions.py`` (cross-engine determinism is part of the
contract: token regexes, hash mixing, and fold orders are chosen to be
bit-identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny in-expression stopword lists per language: enough for a deterministic
# heuristic language guess + stopword-ratio quality signal. (Real language ID
# would ship a model; the *operator shape* — per-row JVM expression over a
# token array — is what scales.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "en"],
}

TOKEN_SPLIT_RE = r"\W+"

#: BPE-ish pre-tokenizer: letter runs | digit runs | single other non-space
#: chars — the GPT-2-style split shape (minus byte-level merges, which need a
#: learned vocab). Non-overlapping left-to-right matches count identically in
#: Java regex and DuckDB RE2.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens; empty fragments from leading/trailing
    punctuation are filtered (identical semantics to DuckDB
    ``list_filter(string_split_regex(lower(t),'\\W+'), x -> x != '')``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def ws_token_count(text: Column | str) -> Column:
    """Whitespace-delimited token count (empty fragments dropped)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(c, r"\s+"), lambda x: x != "")).cast("int")


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex — the cheap
    LLM-cost estimator column (a real BPE count needs the merge table; the
    pre-tokenizer split is the deterministic, JVM-side approximation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("int")


def _count_in(toks: Column, words: list[str]) -> Column:
    """Number of tokens (with multiplicity) in ``words`` — a sequential
    integer fold, same order as DuckDB ``list_sum(list_transform(...))``."""
    return F.aggregate(
        F.transform(toks, lambda t: F.when(t.isin(*words), 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def stopword_count(text: Column | str) -> Column:
    """English stopword tokens in ``text`` (``lang_scores`` counts every
    language's list)."""
    return _count_in(tokens(text), STOPWORDS["en"])


def md5_prefix_int(s: Column, hex_digits: int) -> Column:
    """The first ``hex_digits`` hex digits of md5(s) as a non-negative
    bigint (≤ 15 digits, so it fits a signed 64-bit) — identical in DuckDB
    as ``CAST(concat('0x', substr(md5(s), 1, hex_digits)) AS BIGINT)``.
    md5 is overkill cryptographically but is the one hash both engines
    share bit-for-bit. The engine's single definition of this hash."""
    return F.conv(F.substring(F.md5(s), 1, hex_digits), 16, 10).cast("bigint")


def char_hash32(s: Column) -> Column:
    """Deterministic 32-bit hash: the first 8 hex digits of md5(s)."""
    return md5_prefix_int(s, 8)


def normalized_text(text: Column | str) -> Column:
    """Whitespace/punctuation-normalized form: tokens joined by single
    spaces — the canonical key for exact dedup."""
    return F.array_join(tokens(text), " ")


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


#: character n-gram width of ``rolling_min_hash`` (its oracle SQL uses it too)
ROLLING_GRAM = 16


def rolling_min_hash(text: Column | str) -> Column:
    """Shift-robust content fingerprint: minimum 32-bit hash over all
    character ``ROLLING_GRAM``-grams of the normalized text
    (winnowing-style). Short texts fall back to the whole-string hash."""
    norm = normalized_text(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (ROLLING_GRAM - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(ROLLING_GRAM)),
    )
    return F.array_min(F.transform(grams, char_hash32))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word ``k``-gram shingles (the MinHash/Jaccard unit). Texts
    with fewer than ``k`` tokens yield a single shingle of the whole text."""
    toks = tokens(text)
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(n >= k, shingled).otherwise(whole))


def punct_density(text: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    toks = tokens(text)
    return {lang: _count_in(toks, words) for lang, words in STOPWORDS.items()}


def lang_guess(text: Column | str) -> Column:
    """Argmax over per-language stopword hit counts; ties resolve in fixed
    en > de > fr > es order; zero hits → 'unknown'. (es/en share 'la'/'es'
    etc. — the fixed priority makes the heuristic total.)"""
    s = lang_scores(text)
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), F.lit("de"))
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["es"] > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation (40%), low
    punctuation density (30%), moderate mean token length (30%). The exact
    formula is mirrored in the oracle SQL — parity is the contract."""
    # a local import: candyspark.functions' package init imports this module
    from candyspark.functions.numeric import snap_round

    toks = tokens(text)
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    avg_len = F.when(n > 0, total_len.cast("double") / n).otherwise(F.lit(0.0))
    length_term = F.least(n.cast("double") / 50.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_density(text) * 10.0, F.lit(1.0))
    len_term = F.least(avg_len / 8.0, F.lit(1.0))
    return snap_round(0.4 * length_term + 0.3 * punct_term + 0.3 * len_term, 4)
