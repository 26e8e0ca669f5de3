"""Native text-statistics expressions (reference stage 02 + 17 +
features/text_stats.py). Everything here is JVM-side — no Python in
the hot path — so it stays inside whole-stage codegen at 100 TB.

Reference provenance in each function's docstring.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# stage 02: length buckets + emoji frequency binning
# ---------------------------------------------------------------------------

LEN_SHORT = "Up to 750 characters long"
LEN_MED = "Between 750 and 1,500 characters long"
LEN_LONG = "Between 1,500 and 3,000 characters long"


def length_bucket(text: Column) -> Column:
    """Post-length bucket (2-label.py:79-88): [750,1501) medium,
    >=1501 long, else short."""
    n = F.length(text)
    return (F.when((n >= 750) & (n < 1501), F.lit(LEN_MED))
             .when(n >= 1501, F.lit(LEN_LONG))
             .otherwise(F.lit(LEN_SHORT)))


# default bins (2-label.py:22-29): (threshold, label), first threshold
# with frequency <= threshold wins; above all -> last label.
EMOJI_BINS: tuple[tuple[float, str], ...] = (
    (0.0, "none"),
    (0.0005, "very low"),
    (0.001, "low"),
    (0.005, "medium"),
    (0.01, "high"),
    (1.0, "extreme"),
)

# Emoji codepoint class for native counting (replaces the `emojis`
# package in 2-label.py:66 — a regex over the public emoji blocks).
EMOJI_CLASS = (
    "[\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}\\x{1F680}-\\x{1F6FF}"
    "\\x{1F900}-\\x{1F9FF}\\x{1FA70}-\\x{1FAFF}\\x{2600}-\\x{26FF}"
    "\\x{2700}-\\x{27BF}\\x{FE0F}\\x{2764}]"
)


def emoji_count(text: Column) -> Column:
    """Count emoji codepoints natively (2-label.py:66 `emojis.count`)."""
    return F.regexp_count(text, F.lit(EMOJI_CLASS))


def bin_label(frequency: Column,
              bins: tuple[tuple[float, str], ...] = EMOJI_BINS) -> Column:
    """First-threshold-wins binning (2-label.py:47-54): return the
    label of the first bin with frequency <= threshold, else the
    last label."""
    expr = F.lit(bins[-1][1])
    for threshold, label in reversed(bins):
        expr = F.when(frequency <= F.lit(threshold), F.lit(label)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# stage 17 / features/text_stats.py: line breaks + punctuation
# ---------------------------------------------------------------------------


def char_count(text: Column, ch: str) -> Column:
    """Occurrences of a literal character, via length-difference
    (no regex, codegen-friendly)."""
    return F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))


def line_break_count(text: Column) -> Column:
    """`text.count('\\n')` (features/text_stats.py:17-18)."""
    return char_count(text, "\n")


def blank_line_fraction(text: Column) -> Column:
    """Fraction of blank lines over (n_lines - 1); 0.0 when a single
    line (features/text_stats.py:19-21 `avg_line_breaks`)."""
    lines = F.split(text, "\n", -1)
    n = F.size(lines)
    blanks = F.size(F.filter(lines, lambda x: x == ""))
    return F.when(n > 1, blanks.cast("double") / (n - 1)).otherwise(F.lit(0.0))


PUNCT_MARKS = (".", ",", ";", "!", "?")


def punctuation_counts(text: Column) -> Column:
    """map<mark,int> of `. , ; ! ?` counts (features/text_stats.py:24-25)."""
    return F.map_from_arrays(
        F.array(*[F.lit(m) for m in PUNCT_MARKS]),
        F.array(*[char_count(text, m) for m in PUNCT_MARKS]),
    )


# ---------------------------------------------------------------------------
# stage 17: profanity severity (17-writing-style.py:343-379)
# ---------------------------------------------------------------------------

SEVERITY_ORDER = ("none", "light", "moderate", "heavy")


def profanity_category(text: Column,
                       light: tuple[str, ...],
                       moderate: tuple[str, ...],
                       heavy: tuple[str, ...],
                       max_tokens: int = 1000) -> Column:
    """Max severity of wordlist hits over the first ``max_tokens``
    whitespace tokens (17-writing-style.py:343-379; the 1000-token
    truncation is semantics, SURVEY §4). Wordlists are parameters —
    the reference's 24-word list plugs in unchanged.

    r7 unit differential: the reference tokenizes with
    ``text.lower().split()`` — UNICODE whitespace, no empty tokens —
    so 'fuck\\xa0...' still yields a hit and leading whitespace
    cannot shift the 1000-token truncation window."""
    from .cleaning import PY_WS_SPLIT
    toks = F.slice(
        F.filter(F.split(F.lower(text), PY_WS_SPLIT),
                 lambda x: x != ""), 1, max_tokens)

    def hits(words: tuple[str, ...]) -> Column:
        return F.arrays_overlap(toks, F.array(*[F.lit(w) for w in words]))

    return (F.when(hits(heavy), F.lit("heavy"))
             .when(hits(moderate), F.lit("moderate"))
             .when(hits(light), F.lit("light"))
             .otherwise(F.lit("none")))


# ---------------------------------------------------------------------------
# M1 feature-table pieces (20-permutation-and-correlation.py:159-241)
# ---------------------------------------------------------------------------


def word_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), "\\s+"))


def avg_word_length(text: Column) -> Column:
    """Mean token length; 0.0 for empty text; NULL for NULL text —
    the unconditional otherwise(0.0) silently scored missing text as
    zero-length words while every sibling stat (length, word_count)
    stayed NULL (r5 degenerate-parity finding)."""
    toks = F.split(F.trim(text), "\\s+")
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0,
                  total.cast("double") / F.size(toks)).otherwise(
        F.when(text.isNotNull(), F.lit(0.0)))


def distinct_word_count(text: Column) -> Column:
    """T2/A16 ``len(set(word_tokenize(text)))``
    (features/text_stats.py:8-10) under the declared
    word_tokenize := str.split() seam: CASE-SENSITIVE distinct
    unicode-whitespace tokens, no empties.  (Pre-r8 this silently
    lowercased and ASCII-split — an undeclared extra deviation; the
    r8 text_stats unit differential pins the faithful form.)"""
    from .rewards import _py_words
    return F.size(F.array_distinct(_py_words(text)))
