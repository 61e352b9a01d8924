"""Per-document counter aggregation + scores (SURVEY.md §2.5 A1-A4).

Native Catalyst end-to-end: classification is a codegen'd CASE/regex cascade,
aggregation is partial+final hash agg over the WHOLE parsed relation — word
rows carry a category, non-word rows (media/page/error/empty markers) count
zero everywhere but keep their doc_id alive, so every document gets a score
row (empty → -1.0/-1.0, matching OCRPageStats.java:129,135) with exactly ONE
shuffle and no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.classify import CATEGORIES, category_expr, with_scores

SCORE_COLUMNS = ["doc_id", "token_count", *CATEGORIES,
                 "correctable_score", "quality_score"]


def with_category(parsed: DataFrame) -> DataFrame:
    """All parsed rows → + category column (null for non-word rows)."""
    return parsed.withColumn(
        "category",
        F.when(F.col("kind") == "word", category_expr(F.col("text"))))


def score_pages(parsed: DataFrame) -> DataFrame:
    """Parsed relation → page_scores (FIXTURES.md §2)."""
    is_word = F.col("category").isNotNull()
    aggs = [F.sum(F.when(is_word, 1).otherwise(0)).cast("int").alias("token_count")]
    for cat in CATEGORIES:
        aggs.append(F.sum(F.when(F.col("category") == cat, 1).otherwise(0))
                    .cast("int").alias(cat))
    stats = with_category(parsed).groupBy("doc_id").agg(*aggs)
    return with_scores(stats).select(*SCORE_COLUMNS)
