"""page_evaluator_spark — a PySpark-native OCR page-quality evaluation engine
(from-scratch rebuild of Early-Modern-OCR/page-evaluator's semantics, widened
to a 10^12-document corpus engine; see README.md / SURVEY.md).

Public API:
  get_spark(...)                     scale-tuned SparkSession factory
  evaluate_documents(docs, ...)      (doc_id, spans) table → PipelineOutputs
                                     {page_scores, spans_out, quarantine,
                                      page_meta, token_props, parsed}
  IncrementalRunner(spark, out_dir)  resumable lineage-tracked execution
  queries / oracle_sql               the 50-query driver window plus 28
                                     parked queries, with their DuckDB twins
                                     (queries module)
"""

from .plans.incremental import IncrementalRunner
from .plans.pipeline import PipelineOutputs, evaluate_documents
from .session import get_spark

__all__ = ["IncrementalRunner", "PipelineOutputs", "evaluate_documents", "get_spark"]

