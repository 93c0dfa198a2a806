"""Text-analysis columns for training-data pipelines — all pure Column
expressions (JVM-side, codegen'd, no Python in the hot path).

Each helper returns a Column so it composes with any operator; semantics
are deliberately simple + exactly documented so an external SQL oracle can
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the exact token split used everywhere: runs of whitespace
_WS = r"\s+"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "que"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), _WS), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Number of whitespace tokens."""
    return F.size(tokens(col))


def punct_ratio(col: Column | str) -> Column:
    """punctuation chars / total chars (0.0 for empty)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    punct = total - F.length(F.regexp_replace(c, r"\p{Punct}", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def alpha_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return F.when(total > 0, alpha.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (lowercased)."""
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic for web text:
    0.4*min(1, tokens/50) + 0.3*alpha_ratio + 0.3*(1 - min(1, 4*punct_ratio)).
    """
    tc = token_count(col).cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), tc / F.lit(50.0))
        + F.lit(0.3) * alpha_ratio(col)
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.lit(1.0), F.lit(4.0) * punct_ratio(col)))
    )


def lang_id(col: Column | str, langs: list[str] | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' when no stopword matches at all."""
    langs = langs or list(STOPWORDS)
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    scores = []
    for lg in langs:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        scores.append(F.size(F.filter(toks, lambda t: F.array_contains(sw, t))))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    out = F.lit("und")
    # first language reaching the max wins (deterministic order)
    for lg, sc in reversed(list(zip(langs, scores))):
        out = F.when((best > 0) & (sc == best), F.lit(lg)).otherwise(out)
    return out


def fingerprint(col: Column | str) -> Column:
    """64-hex-char document fingerprint: sha256 of the
    whitespace-normalized, lowercased text (stable under reflow)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.trim(F.regexp_replace(c, _WS, " ")))
    return F.sha2(norm, 256)
