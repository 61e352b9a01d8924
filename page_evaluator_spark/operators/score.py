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

from ..functions.classify import CATEGORIES, SCORES_SQL, category_sql

# word rows carry a category, every other row a null one
_CATEGORY_SQL = f"CASE WHEN kind = 'word' THEN {category_sql('text')} END AS category"


def _counter_sql(name: str, cond: str) -> str:
    # sum(CASE …), not count_if: the counters stay nullable ints
    return f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS INT) AS {name}"


# all counters in ONE aggregate expression: each Column built on the driver
# is ~3 py4j round trips, a struct of eleven sums is one
_COUNTERS_SQL = "struct({}) AS c".format(", ".join(
    [_counter_sql("token_count", "category IS NOT NULL"),
     *(_counter_sql(c, f"category = '{c}'") for c in CATEGORIES)]))


def score_pages(parsed: DataFrame) -> DataFrame:
    """Parsed relation (doc_id, kind, text) → page_scores (FIXTURES.md §2).

    select → groupBy.agg → select, every expression SQL text, so building
    the plan costs a few dozen py4j round trips.
    """
    stats = (parsed.selectExpr("doc_id", _CATEGORY_SQL).groupBy("doc_id")
             .agg(F.expr(_COUNTERS_SQL)).selectExpr("doc_id", "c.*"))
    return stats.selectExpr("*", *SCORES_SQL)
