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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textnorm import clean_token

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


def category_expr(tok: Column) -> Column:
    """token text → category (OCRPage.java:64-121, exact cascade order).

    ``rlike`` is find() semantics; the first three patterns are ^…\\z-anchored
    (true matches() equivalence, see above) and the repeated-chars pattern is
    deliberately unanchored (find(), OCRPage.java:82-86).
    """
    norm = F.lower(tok)  # OCRPage.java:53 (ROOT-locale intent)
    clean = clean_token(norm)  # OCRPage.java:54,140-145
    non_alpha = F.regexp_count(clean, F.lit(NON_ALPHA_RE))  # OCRPage.java:89-92
    return (
        F.when(tok.rlike(PUNCT_TOKEN_RE), "punct")                    # :64-68
        .when(tok.rlike(NUMBER_OBJECT_RE), "number_objects")          # :70-74
        .when(tok.rlike(ONE_ALPHA_RE), "single_letter")               # :76-80
        .when(norm.rlike(REPEATED_4PLUS_RE), "ge4_repeated")          # :82-86
        .when(non_alpha == F.length(clean), "len_gt1_nonalpha")       # :94-97
        .when(F.length(clean) < 3, "clean_short")                     # :100-103
        .when(non_alpha == 0, "clean_all_alpha")                      # :105-107
        .when(non_alpha == 1, "clean_one_nonalpha")                   # :110-112
        .when(non_alpha == 2, "clean_two_nonalpha")                   # :114-116
        .otherwise("clean_3plus_nonalpha")                            # :118-120
    )


def with_scores(stats: DataFrame) -> DataFrame:
    """Attach correctable/quality scores (OCRPageStats.java:120-136).

    0/0 → NaN → -1.0 sentinel.  The numerator is a subset of the denominator
    pool, so denominator 0 ⇒ numerator 0 (never +Inf).
    """
    num = (F.col("clean_all_alpha") + F.col("clean_one_nonalpha")
           + F.col("clean_two_nonalpha")).cast("double")
    ignored = F.col("number_objects") + F.col("punct") + F.col("single_letter")
    corr_den = (F.col("token_count") - ignored - F.col("clean_short")).cast("double")
    return stats.withColumn(
        "correctable_score",
        F.when(corr_den == 0, F.lit(-1.0)).otherwise(num / corr_den).cast("float"),
    ).withColumn(
        "quality_score",
        F.when(F.col("token_count") == 0, F.lit(-1.0))
         .otherwise(num / F.col("token_count")).cast("float"),
    )
