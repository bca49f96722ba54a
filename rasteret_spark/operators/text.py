"""Text-analysis column functions for training-data pipelines.

All pure Catalyst expressions (JVM-side, whole-stage-codegen friendly):
token counting, quality scoring, language-ID heuristics, fingerprinting.
Each returns a Column so callers compose them into declarative plans; the
same formulas are reproducible in ANSI SQL for the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F  # noqa: N812


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty string -> 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"[ \t\n\x0B\f\r]+"))
    )


def word_tokens(text: Column) -> Column:
    """BPE-ish word/number/punct tokens via regex extraction.

    The whitespace class is spelled out EXPLICITLY (not ``\\s``) because
    Java regex counts ``\\x0B`` as whitespace and RE2 (DuckDB) does not —
    the explicit class keeps the engine and the SQL oracle byte-identical
    on any input."""
    return F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"), 0
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    stripped = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text)
    )


def digit_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[0-9]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text)
    )


def mean_word_len(text: Column) -> Column:
    t = F.trim(text)
    nosp = F.regexp_replace(t, r"[ \t\n\x0B\f\r]+", "")
    return F.when(token_count(text) == 0, F.lit(0.0)).otherwise(
        F.length(nosp).cast("double") / token_count(text)
    )


def quality_score(text: Column) -> Column:
    """Composite 0..1 quality heuristic: long enough, not punct/digit-heavy,
    sane mean word length.  Deterministic arithmetic only."""
    len_ok = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(text) * 4.0, F.lit(0.0))
    digit_pen = F.greatest(F.lit(1.0) - digit_ratio(text) * 4.0, F.lit(0.0))
    wl = mean_word_len(text)
    wl_ok = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_ok + punct_pen + digit_pen + wl_ok) / 4.0, 6)


# stopword markers per language — chosen to be unambiguous single tokens
_LANG_MARKERS = [
    ("en", [" the ", " and ", " of "]),
    ("de", [" der ", " und ", " die "]),
    ("fr", [" le ", " les ", " des "]),
    ("es", [" el ", " los ", " las "]),
]


def lang_id(text: Column) -> Column:
    """n-gram/stopword language-ID heuristic -> lang code or 'und'."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    expr = F.lit("und")
    for code, markers in reversed(_LANG_MARKERS):
        hit = None
        for m in markers:
            c = padded.contains(m)
            hit = c if hit is None else (hit | c)
        expr = F.when(hit, F.lit(code)).otherwise(expr)
    return expr


def fingerprint(text: Column, prefix_len: int = 64) -> Column:
    """Document fingerprint: hash of the normalized text prefix (rolling-hash
    stand-in; md5 keeps it reproducible in the SQL oracle)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"[ \t\n\x0B\f\r]+", " ")
    return F.md5(F.substring(norm, 1, prefix_len))
