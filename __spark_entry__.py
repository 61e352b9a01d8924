"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full OCR page-evaluation pipeline over a span-table
                built from /root/testdata/sf0.001/documents.parquet.
queries()     — one entry per implemented operator family (SURVEY.md §2.6) +
                the training-data-pipeline extras (dedup/similarity/textstats/
                media/streaming) + the OCR pipeline itself.
oracle_sql()  — a DuckDB twin for every query (identical aliases/types);
                the OCR pipeline's twins read golden parquet.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: score every page of a span-table corpus (SURVEY.md §7.4).

    Builds the BASELINE.json input_hint table (doc_id, spans) from the
    sf0.001 documents parquet (each text becomes a TXT span; every 5th doc
    also carries a media span) and runs scan → explode → Arrow parse UDF →
    native classify → per-doc agg → scores.
    """
    from page_evaluator_spark.plans.pipeline import evaluate_documents
    from page_evaluator_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # executors import the package via addPyFile
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = raw.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.array(
                F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                         F.lit(None).cast("string").alias("media_ref"),
                         F.lit(0).cast("int").alias("offset")),
                F.struct(F.lit("image").alias("kind"), F.lit(None).cast("string").alias("text"),
                         F.concat(F.lit("img://"), F.col("doc_id")).alias("media_ref"),
                         F.lit(1).cast("int").alias("offset")),
            ),
        ).otherwise(
            F.array(
                F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                         F.lit(None).cast("string").alias("media_ref"),
                         F.lit(0).cast("int").alias("offset")),
            ),
        ).alias("spans"),
    )
    return evaluate_documents(docs).page_scores


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from page_evaluator_spark.queries import QUERIES
    from page_evaluator_spark.shipping import ensure_shipped

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)  # Arrow kernels unpickle on executors
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from page_evaluator_spark.queries import QUERIES
    from page_evaluator_spark.queries import oracle_sql as _oracle

    # the driver pairs oracles with queries() entries; EXTRA_QUERIES oracles
    # are pytest-only (tests/test_queries.py checks both dicts)
    return {k: v for k, v in _oracle().items() if k in QUERIES}
