"""End-to-end pipeline assembly: documents table → {page_scores, spans_out,
quarantine, page_meta} (the Spark re-expression of Main.java:26-50's
parse → calculateStatistics → scores flow, widened to a corpus).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame

from ..operators.parse import ALL_COLUMNS, parse_documents
from ..operators.score import score_pages
from ..operators.spans import page_meta, quarantine, spans_out, token_props

# The parsed columns each reader of the parse consumes — the one place a
# parse caller declares its columns (Spark cannot see through the Python
# stage, which otherwise computes and ships all 13 PARSED_SCHEMA columns).
BRANCH_COLUMNS: dict[str, tuple[str, ...]] = {
    "page_scores": ("doc_id", "kind", "text"),
    "spans_out": ("doc_id", "span_offset", "pos", "kind", "text", "media_ref"),
    "quarantine": ("doc_id", "span_offset", "kind", "error"),
    "page_meta": ("doc_id", "span_offset", "kind", "page_id", "ocr_engine",
                  "ocr_capabilities"),
    "token_props": ("doc_id", "span_offset", "pos", "kind", "text", "props"),
    "lexicon_match_rates": ("doc_id", "kind", "text"),
}
# the outputs every production writer sinks
WRITTEN = ("page_scores", "spans_out", "quarantine")
# what cache_parsed persists: the union of the written branches' columns
CACHED_COLUMNS = tuple(c for c in ALL_COLUMNS
                       if any(c in BRANCH_COLUMNS[b] for b in WRITTEN))


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
        # cache_parsed mode: one shared, persisted relation of CACHED_COLUMNS
        self._shared = parsed

    def _pruned(self, branch: str) -> DataFrame:
        """The shared persisted relation when it holds every column the
        branch reads, else the branch's own column-pruned parse.  Branch
        outputs are bit-identical either way — the kernel's parsing work
        (incl. error-row parity) does not depend on the declared columns."""
        columns = BRANCH_COLUMNS[branch]
        if self._shared is not None and set(columns) <= set(CACHED_COLUMNS):
            return self._shared
        return parse_documents(self._docs, repartition=self._repartition,
                               columns=columns)

    @cached_property
    def parsed(self) -> DataFrame:
        """The persisted CACHED_COLUMNS relation if caching, else a
        full-schema (PARSED_SCHEMA) parse."""
        if self._shared is not None:
            return self._shared
        return parse_documents(self._docs, repartition=self._repartition)

    @cached_property
    def page_scores(self) -> DataFrame:
        return score_pages(self._pruned("page_scores"))

    @cached_property
    def spans_out(self) -> DataFrame:
        return spans_out(self._pruned("spans_out"))

    @cached_property
    def quarantine(self) -> DataFrame:
        return quarantine(self._pruned("quarantine"))

    @cached_property
    def page_meta(self) -> DataFrame:
        return page_meta(self._pruned("page_meta"))

    @cached_property
    def token_props(self) -> DataFrame:
        return token_props(self._pruned("token_props"))


def evaluate_documents(docs: DataFrame, repartition: int | None = None,
                       cache_parsed: bool = False) -> PipelineOutputs:
    """Build the pipeline's logical plans (lazy; nothing executes here).

    cache_parsed=True persists (MEMORY_AND_DISK) a parse of CACHED_COLUMNS —
    the union of the columns page_scores, spans_out and quarantine read — so
    those three share one parse pass instead of re-running the Python stage
    per sink: the right call whenever ≥2 of them are written.  page_meta and
    token_props read columns the cache does not hold; each gets its own
    column-pruned parse, built only when accessed.

    cache_parsed=False (each sink re-runs its own parse) gives every branch
    a COLUMN-PRUNED parse kernel instead; see PipelineOutputs._pruned.
    """
    if cache_parsed:
        from pyspark import StorageLevel

        parsed = parse_documents(docs, repartition=repartition,
                                 columns=CACHED_COLUMNS)
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        return PipelineOutputs(docs, repartition, parsed=parsed)
    return PipelineOutputs(docs, repartition)
