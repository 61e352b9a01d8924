"""End-to-end pipeline assembly: documents table → {page_scores, spans_out,
quarantine, page_meta} (the Spark re-expression of Main.java:26-50's
parse → calculateStatistics → scores flow, widened to a corpus).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame

from ..operators.parse import META_COLUMNS, SPAN_COLUMNS, parse_documents
from ..operators.score import score_pages
from ..operators.spans import page_meta, quarantine, spans_out, token_props


class PipelineOutputs:
    """Lazy view over the pipeline's output branches.

    Each branch plan is built on first attribute access (cached after).
    Building a branch costs real driver time (a py4j round-trip per
    DataFrame operation plus pickling the branch's Arrow kernel), so a
    caller that sinks two branches should not pay for six — at local[2]
    the eager form spent ~0.5 s per `evaluate_documents` call building
    plans the bench never touched.
    """

    def __init__(self, docs: DataFrame, repartition: int | None,
                 parsed: DataFrame | None = None) -> None:
        self._docs = docs
        self._repartition = repartition
        self._cached = parsed  # cache_parsed mode: the persisted span parse

    @cached_property
    def parsed(self) -> DataFrame:
        """The span parse (SPAN_COLUMNS) that page_scores, spans_out and
        quarantine read: the persisted one if caching, else a fresh one."""
        if self._cached is not None:
            return self._cached
        return parse_documents(self._docs, repartition=self._repartition)

    @cached_property
    def _meta_parsed(self) -> DataFrame:
        """The parse with the hOCR metadata and title props, which only
        page_meta and token_props read (never cached)."""
        return parse_documents(self._docs, repartition=self._repartition,
                               columns=SPAN_COLUMNS + META_COLUMNS)

    @cached_property
    def page_scores(self) -> DataFrame:
        return score_pages(self.parsed)

    @cached_property
    def spans_out(self) -> DataFrame:
        return spans_out(self.parsed)

    @cached_property
    def quarantine(self) -> DataFrame:
        return quarantine(self.parsed)

    @cached_property
    def page_meta(self) -> DataFrame:
        return page_meta(self._meta_parsed)

    @cached_property
    def token_props(self) -> DataFrame:
        return token_props(self._meta_parsed)


def evaluate_documents(docs: DataFrame, repartition: int | None = None,
                       cache_parsed: bool = False) -> PipelineOutputs:
    """Build the pipeline's logical plans (lazy; nothing executes here).

    cache_parsed=True persists (MEMORY_AND_DISK) the span parse, so
    page_scores, spans_out and quarantine share one parse pass instead of
    re-running the Python stage per sink: the right call whenever ≥2 of
    them are written.  page_meta and token_props share their own metadata
    parse either way, built only when one of them is accessed.
    """
    if cache_parsed:
        from pyspark import StorageLevel

        parsed = parse_documents(docs, repartition=repartition)
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        return PipelineOutputs(docs, repartition, parsed=parsed)
    return PipelineOutputs(docs, repartition)
