"""Text-analysis expressions for large-scale training-data pipelines.

All pure Catalyst column expressions (split / filter / transform /
regexp) — no Python UDFs — so they vectorize inside whole-stage codegen
and scale linearly over a 100 TB ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic (the heuristic is graded
# against an oracle re-implementation, not against a model).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
}

# Word-ish tokens or single punctuation marks — a BPE-ish pre-tokenizer
# approximation (GPT-2 style splits words and punctuation separately).
BPEISH_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def whitespace_tokens(text: Column) -> Column:
    """Split on runs of whitespace, dropping empty strings."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return whitespace_tokens(F.lower(text))


def token_count_bpeish(text: Column) -> Column:
    """Count of BPE-ish tokens (word chunks + individual punctuation)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPEISH_PATTERN), 0))


def stopword_count(tokens: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def lang_scores(text: Column, tokens: Column | None = None) -> dict[str, Column]:
    """Stopword-hit count per candidate language (the lang-ID signal)."""
    toks = tokens if tokens is not None else word_tokens(text)
    return {lang: stopword_count(toks, lang) for lang in STOPWORDS}


def predict_lang(text: Column, tokens: Column | None = None) -> Column:
    """argmax over per-language stopword hits; deterministic tie-break by
    language code order; 'und' (undetermined) when no stopwords hit.

    Pass a materialized ``tokens`` column (from ``word_tokens``) when
    scoring several languages over the same text — otherwise each score
    column re-tokenizes, and CollapseProject happily duplicates the split.
    """
    scores = lang_scores(text, tokens)
    # greatest-of + stable first-wins chain over sorted language codes
    best = None
    result = F.lit("und")
    for lang in sorted(scores):  # alphabetical = deterministic tiebreak
        s = scores[lang]
        if best is None:
            best, result = s, F.when(s > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            result = F.when(s > best, F.lit(lang)).otherwise(result)
            best = F.greatest(best, s)
    return result


def quality_score_cols(text: Column, tokens: Column | None = None) -> dict[str, Column]:
    """Document-quality signals: length, punctuation ratio, stopword ratio,
    mean word length, and a composite score in [0, 1].

    Mirrors the heuristic-quality-filter stage of public LLM data pipelines
    (C4/Gopher-style rules), expressed as exact integer counts + one final
    double division so an ANSI-SQL oracle reproduces values bit-for-bit.
    """
    n_chars = F.length(text)
    toks = tokens if tokens is not None else word_tokens(text)
    n_tokens = F.size(toks)
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / n_chars.cast("double")
    )
    sw_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        stopword_count(toks, "en").cast("double") / n_tokens.cast("double")
    )
    mean_word_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tokens.cast("double")
    )
    # Composite: reward stopword presence and 3-10 char mean words,
    # penalize punctuation-heavy text. Clamped to [0,1].
    score = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            F.lit(0.5)
            + sw_ratio
            - punct_ratio * 2.0
            + F.when((mean_word_len >= 3.0) & (mean_word_len <= 10.0), 0.25).otherwise(
                -0.25
            ),
        ),
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": F.round(punct_ratio, 4),
        "stopword_ratio": F.round(sw_ratio, 4),
        "mean_word_len": F.round(mean_word_len, 4),
        "quality_score": F.round(score, 4),
    }


# PII patterns shared with the DuckDB oracle. Kept to the syntax subset
# that Java regex (Spark) and RE2 (DuckDB) interpret identically:
# character classes, bounded repetition, ASCII \b word boundaries — no
# lookaround (RE2 has none), no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_IDNUM = r"\b[0-9]{8,}\b"


def pii_redact_cols(text: Column) -> dict[str, Column]:
    """Match counts + redacted text for the standard PII scrub pass of a
    training-data pipeline: emails, IPv4 literals, and long digit runs
    (account/phone/SSN-shaped ids).

    Replacement order matters and is fixed: emails first (their local
    part may contain digit runs), then IPv4 (dotted digits must not be
    eaten as id numbers — the \\b anchors already prevent that, the
    order makes it structural), then bare digit runs. All counts are
    computed on the ORIGINAL text so they are order-independent.
    """
    redacted = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(redacted, PII_IPV4, "<IP>")
    redacted = F.regexp_replace(redacted, PII_IDNUM, "<ID>")
    return {
        "n_email": F.regexp_count(text, F.lit(PII_EMAIL)).cast("long"),
        "n_ipv4": F.regexp_count(text, F.lit(PII_IPV4)).cast("long"),
        "n_idnum": F.regexp_count(text, F.lit(PII_IDNUM)).cast("long"),
        "redacted": redacted,
    }
