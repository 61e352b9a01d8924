"""The reference's token-classification cascade as native Catalyst expressions.

First-match-wins, mutually exclusive; ORDER IS SEMANTICS
(/root/reference .../OCRPage.java:64-121).  All regexes run as Java regex on
the JVM — identical semantics to the reference's java.util.regex patterns,
including ASCII-only ``\\p{Punct}``.  The reference's three CANON_EQ patterns
(OCRPage.java:15,18,19) are handled by NFC-normalizing token text in the parse
stage (SURVEY.md §2.4), after which plain matching is equivalent.

Input column contract: the trimmed, hyphen-joined, NFC, non-empty token text
(what OCRPage.java:40-49 calls ``tokenText``).
"""

from __future__ import annotations

from .textnorm import clean_token_sql, sql_string

# Java patterns (OCRPage.java:16-19); CANON_EQ dropped per NFC rule.  The
# reference applies the first three via Matcher.matches() (whole-input
# consumption), but rlike is find(): '$' would also match BEFORE a final line
# terminator (\n, \r, U+0085, U+2028, U+2029 - Java trim strips only the
# first two), so a token like '12'+U+2028 would wrongly classify as
# number_objects.  Java regex '\z' (absolute end of input) restores true
# matches() semantics.
PUNCT_TOKEN_RE = "^\\p{Punct}\\z"
NUMBER_OBJECT_RE = "^\\p{Sc}?[\\.,/\\-]?(\\p{N}+[\\.,/%\\-]?)+\\p{Sc}?\\z"
ONE_ALPHA_RE = "^\\p{L}\\z"
REPEATED_4PLUS_RE = "(\\P{N})\\1{3,}"
NON_ALPHA_RE = "\\P{L}"

# Category labels == FIXTURES.md §2 page_scores counter names.
CATEGORIES = [
    "punct", "number_objects", "single_letter", "ge4_repeated",
    "len_gt1_nonalpha", "clean_short", "clean_all_alpha",
    "clean_one_nonalpha", "clean_two_nonalpha", "clean_3plus_nonalpha",
]


def category_sql(tok: str = "text") -> str:
    """Token text (the SQL expression ``tok``) → category, as SQL text
    (OCRPage.java:64-121, exact cascade order).

    The one definition of the cascade: ``score_pages`` uses this text (a
    Column is ``F.expr(category_sql(...))``), and building it costs no py4j
    round trip.  RLIKE is find() semantics; the first three patterns are
    ^…\\z-anchored (true matches() equivalence, see above) and the
    repeated-chars pattern is deliberately unanchored (find(),
    OCRPage.java:82-86).
    """
    norm = f"lower({tok})"  # OCRPage.java:53 (ROOT-locale intent)
    clean = clean_token_sql(norm)  # OCRPage.java:54,140-145
    non_alpha = f"regexp_count({clean}, {sql_string(NON_ALPHA_RE)})"  # :89-92
    return (
        "CASE"
        f" WHEN {tok} RLIKE {sql_string(PUNCT_TOKEN_RE)} THEN 'punct'"              # :64-68
        f" WHEN {tok} RLIKE {sql_string(NUMBER_OBJECT_RE)} THEN 'number_objects'"   # :70-74
        f" WHEN {tok} RLIKE {sql_string(ONE_ALPHA_RE)} THEN 'single_letter'"        # :76-80
        f" WHEN {norm} RLIKE {sql_string(REPEATED_4PLUS_RE)} THEN 'ge4_repeated'"   # :82-86
        f" WHEN {non_alpha} = length({clean}) THEN 'len_gt1_nonalpha'"              # :94-97
        f" WHEN length({clean}) < 3 THEN 'clean_short'"                             # :100-103
        f" WHEN {non_alpha} = 0 THEN 'clean_all_alpha'"                             # :105-107
        f" WHEN {non_alpha} = 1 THEN 'clean_one_nonalpha'"                          # :110-112
        f" WHEN {non_alpha} = 2 THEN 'clean_two_nonalpha'"                          # :114-116
        " ELSE 'clean_3plus_nonalpha' END"                                          # :118-120
    )


# Correctable/quality scores over the per-doc counters (OCRPageStats.java:
# 120-136), as SQL select items.  0/0 → NaN → -1.0 sentinel.  The numerator
# is a subset of the denominator pool, so denominator 0 ⇒ numerator 0 (never
# +Inf).
_NUM = "CAST(clean_all_alpha + clean_one_nonalpha + clean_two_nonalpha AS DOUBLE)"
_CORR_DEN = ("CAST(token_count - (number_objects + punct + single_letter)"
             " - clean_short AS DOUBLE)")
SCORES_SQL = (
    f"CAST(CASE WHEN {_CORR_DEN} = 0 THEN -1.0D ELSE {_NUM} / {_CORR_DEN} END AS FLOAT)"
    " AS correctable_score",
    f"CAST(CASE WHEN token_count = 0 THEN -1.0D ELSE {_NUM} / token_count END AS FLOAT)"
    " AS quality_score",
)
