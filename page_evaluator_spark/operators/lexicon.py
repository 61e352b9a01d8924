"""Dictionary-lookup word matching against early-modern English lexicons
(BASELINE.json north_star; ABSENT from the reference v0 code — no lexicon
resources exist in /root/reference — so this stage is additive and kept out of
reference-parity checks, SURVEY.md §2.6 'Joins').

Spark shape: the lexicon is small (10^4-10^5 headwords) → broadcast hash join
against the token relation; per-page match rate joins back onto page_scores.
A left join (not semi) so unmatched tokens stay countable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Deterministic synthetic early-modern-ish lexicon (tests/bench only; a real
# deployment points `lexicon_df` at its curated headword table).
_EARLY_MODERN_STEMS = [
    "where", "vnto", "thee", "thou", "hath", "doth", "eſt", "qual", "mat",
    "page", "book", "print", "letter", "word", "text", "reade", "scribe",
    "quoth", "whil", "ſhall", "ioy", "vertue", "honour", "fauour", "publick",
]
_SUFFIXES = ["", "e", "es", "eth", "ing", "ed", "s", "ement", "ation", "ly"]


def lexicon_words(n_extra: int = 2000, seed: int = 42) -> list[str]:
    """~(25×10 + n_extra) lowercase headwords, seeded & deterministic (pure —
    shared by the Spark DataFrame builder and the DuckDB oracle SQL)."""
    words = {s + suf for s in _EARLY_MODERN_STEMS for suf in _SUFFIXES}
    rng = random.Random(seed)
    alphabet = "abcdefghijklmnopqrstuvwxyzſæœ"
    while len(words) < 250 + n_extra:
        words.add("".join(rng.choice(alphabet) for _ in range(rng.randint(3, 10))))
    # include the corpus generator's clean exemplars so match rates are non-trivial
    words |= {"whereunto", "quality", "eſtimation", "cœlum", "thee", "hath",
              "mercy", "rather", "estimation", "contin", "uation"}
    return sorted(words)


def synthetic_lexicon(spark: SparkSession, n_extra: int = 2000,
                      seed: int = 42) -> DataFrame:
    return spark.createDataFrame([(w,) for w in lexicon_words(n_extra, seed)],
                                 "word string")


def match_tokens(words: DataFrame, lexicon: DataFrame,
                 token_col: str = "text") -> DataFrame:
    """Token rows + `lexicon_match` flag via broadcast hash join.

    Match key = lowercased token (the reference normalizes with toLowerCase,
    OCRPage.java:53; lexicon headwords are already lowercase).
    """
    lex = F.broadcast(lexicon.select(F.col("word").alias("_lex_word")).distinct())
    return (words
            .join(lex, F.lower(F.col(token_col)) == F.col("_lex_word"), "left")
            .withColumn("lexicon_match", F.col("_lex_word").isNotNull())
            .drop("_lex_word"))


def page_match_rates(parsed: DataFrame, lexicon: DataFrame) -> DataFrame:
    """Per-doc lexicon match stats: (doc_id, n_tokens, n_matched, match_rate)."""
    words = parsed.where(F.col("kind") == "word")
    matched = match_tokens(words, lexicon)
    return (matched.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.sum(F.col("lexicon_match").cast("int")).cast("bigint").alias("n_matched"))
            .withColumn("match_rate",
                        F.round(F.col("n_matched") / F.col("n_tokens"), 6)))

