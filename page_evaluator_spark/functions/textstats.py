"""Text-analysis functions for training-data curation, all native Catalyst
expressions (JVM regex, codegen) and co-expressible in ANSI SQL (RE2-safe —
no backreferences) for differential testing.

Covers: language ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + regex token
classes), document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets (deterministic heuristic, not a model).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "和"],
}

PORTABLE_TOKEN_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def _nonspace_count(text: Column) -> Column:
    """Non-whitespace char count == length(regexp_replace(text, \\s, '')).

    Counted as length − regexp_count(\\s) instead of replace-then-length:
    identical value (each \\s char is exactly one match), no rewritten-string
    allocation (guide §1.2 per-task work).  The SAME expression is shared by
    alpha_ratio / punct_ratio / quality_score so whole-stage codegen's
    subexpression elimination evaluates the regex once per row.
    (r7 note: length(translate(text, WS, '')) was tried and measured 30%
    SLOWER at 10× scale — UTF8String.translate round-trips through
    java.lang.String with per-char boxed map lookups; the \\s match count
    stays the cheaper form despite materializing the match array.)"""
    return F.length(text) - F.regexp_count(text, F.lit(r"\s"))


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (split on \\s+ of trimmed text).

    EXACT rewrite of size(split(t, \\s+)): Spark's split keeps empty pieces
    (limit −1), so for any non-empty t the piece count is (number of \\s+
    separator runs) + 1 — including the empty leading piece when t starts
    with a non-space whitespace char that F.trim (space-only) left in place.
    regexp_count delivers the separator count without the piece-array
    allocation."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)) \
            .otherwise(F.regexp_count(t, F.lit(r"\s+")) + 1).cast("int")


def punct_ratio(text: Column) -> Column:
    """ASCII-punctuation chars / non-space chars (0.0 for empty).

    Counting the PUNCT class directly instead of removing its complement:
    length(regexp_replace(text, [^P], '')) rewrote nearly every char of
    normal text (measured 2.26 s vs 0.24 s per corpus pass at sf1.0);
    regexp_count('[P]') touches only the rare punctuation matches — same
    integer for any input."""
    nonspace = _nonspace_count(text)
    punct = F.regexp_count(text, F.lit(r"[!-/:-@\[-`{-~]"))
    return F.when(nonspace == 0, F.lit(0.0)) \
            .otherwise(punct.cast("double") / nonspace.cast("double"))


def alpha_ratio(text: Column) -> Column:
    """Letter chars / non-space chars (0.0 for empty).

    Letters counted as nonspace − count([^\\p{L}\\s]): identical integer
    (letters = all chars − whitespace − non-letter-non-whitespace), but the
    counted class is the RARE one (digits/punctuation), so the match array
    regexp_count materializes stays tiny — the punct_ratio trick (r5) applied
    to the alpha side, which still rewrote the whole string per row via
    regexp_replace (the replace-then-length shape measured 10× slower on the
    punct class)."""
    nonspace = _nonspace_count(text)
    alpha = nonspace - F.regexp_count(text, F.lit(r"[^\p{L} \t\n\x0B\f\r]"))
    return F.when(nonspace == 0, F.lit(0.0)) \
            .otherwise(alpha.cast("double") / nonspace.cast("double"))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of language-marker word occurrences (word-boundary padded)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    total = F.lit(0)
    for w in LANG_MARKERS[lang]:
        if lang == "zh":  # no word boundaries in zh — substring count
            pat = w
        else:
            pat = f" {w} "
        total = total + F.coalesce(
            (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit("")))) /
            F.length(F.lit(pat)), F.lit(0))
    return total.cast("int")


def lang_id(text: Column) -> Column:
    """Argmax language over marker-hit counts; 'und' when all zero.

    Deterministic tiebreak: higher count wins, then lexicographic lang code.
    """
    pairs = [(lang, stopword_hits(text, lang)) for lang in sorted(LANG_MARKERS)]
    best = F.lit("und")
    best_n = F.lit(0)
    for lang, n in pairs:  # sorted order ⇒ first max wins ties
        take = n > best_n
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_n = F.when(take, n).otherwise(best_n)
    return best


def quality_score(text: Column) -> Column:
    """Composite [0,1] curation score: favors alpha-rich, punct-light,
    reasonable-length documents.  Deterministic, portable arithmetic."""
    n_tok = ws_token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * alpha_ratio(text) + F.lit(0.3) * len_score
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))), 6)


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


# --- model-based quality filter (fastText-classifier shape) -----------------
# Hashing-trick unigram features → weight lookup → mean-pooled logit →
# sigmoid.  The "pretrained" weight table is derived deterministically from
# md5 of the bucket id (an integer in [-1000, 1000], i.e. weight k/1000), so
# the table needs no storage and the whole scorer is native expressions with
# an exact DuckDB twin.  Weights are INTEGERS in the hot path on purpose:
# the per-doc feature sum is exact and order-independent (no float-sum
# associativity hazard), with ONE double division at the end.

MODEL_N_BUCKETS = 1024
MODEL_WEIGHT_SPAN = 1000  # weights are k/1000, k ∈ [-1000, 1000]


def _model_bucket(tok: Column) -> Column:
    """Hashing-trick feature bucket in [0, MODEL_N_BUCKETS)."""
    return (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
            % MODEL_N_BUCKETS)


def _model_weight_int(tok: Column) -> Column:
    """Integer weight k ∈ [-1000, 1000] for the token's bucket."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("w:"), _model_bucket(tok).cast("string"))), 1, 8),
        16, 10).cast("long")
    return h % (2 * MODEL_WEIGHT_SPAN + 1) - MODEL_WEIGHT_SPAN


def model_quality_wsum(text: Column) -> Column:
    """(integer weight sum, token count) struct — the exact sufficient
    statistics of the linear model; a per-row integer fold, no shuffle."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(PORTABLE_TOKEN_RE), 0)
    wsum = F.aggregate(F.transform(toks, _model_weight_int),
                       F.lit(0).cast("long"), lambda acc, w: acc + w)
    return F.struct(wsum.alias("wsum"), F.size(toks).cast("int").alias("n_tokens"))
