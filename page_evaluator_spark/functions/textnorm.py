"""Native (Catalyst/JVM) text-normalization expressions with exact reference parity.

Spark's regexp functions execute *Java* regex on the JVM, so the reference's
patterns (java.util.regex, /root/reference .../OCRPage.java:15-19,140-145)
are reusable byte-for-byte — including Java's ASCII-only ``\\p{Punct}``.
Everything in this module compiles into whole-stage-codegen'd expressions;
no Python is involved at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# OCRPage.java:11-12 — max leading/trailing punctuation removed by cleanToken.
CLEAN_LEADING_RE = "^\\p{Punct}{0,1}"
CLEAN_TRAILING_RE = "\\p{Punct}{0,3}$"

# OpenNLP SimpleTokenizer (TxtPage.java:54) as a single Java regex:
# letter runs | digit runs | same-char runs of 'other'.  Whitespace class =
# opennlp StringUtil.isWhitespace = Character.isWhitespace ∪ Zs, which equals
# \p{javaWhitespace} ∪ \p{Zs} in Java regex.  Character.isDigit == \p{Nd}.
_WS_CC = "\\p{javaWhitespace}\\p{Zs}"
SIMPLE_TOKENIZER_RE = f"\\p{{L}}+|\\p{{Nd}}+|([^\\p{{L}}\\p{{Nd}}{_WS_CC}])\\1*"


def clean_token(norm: Column) -> Column:
    """OCRPage.cleanToken (OCRPage.java:140-145).

    Java uses replaceFirst; Spark regexp_replace replaces all matches, but
    both patterns are anchored so the results coincide (the only extra match
    is a zero-width match at the anchor, replaced by "") — pinned by tests.
    """
    return F.regexp_replace(F.regexp_replace(norm, CLEAN_LEADING_RE, ""), CLEAN_TRAILING_RE, "")


def tokenize_txt(text: Column) -> Column:
    """Fully-native SimpleTokenizer: array of tokens (TxtPage.java:54)."""
    return F.regexp_extract_all(text, F.lit(SIMPLE_TOKENIZER_RE), 0)
