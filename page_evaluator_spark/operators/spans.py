"""spans_out: the per-document extracted span sequence — THE correctness
invariant (BASELINE.json: exact (kind, text, media_ref, order) sequence
equality vs the reference semantics per doc_id).

Frozen interleaving rule (FIXTURES.md §1, SURVEY.md §7.3.4): media spans pass
through unchanged at their offset; each text-ish span is replaced by its
extracted token spans (kind='word') in place; order is (span_offset, pos)
densified to 0..n-1 per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .parse import MEDIA_KINDS

SPANS_OUT_COLUMNS = ["doc_id", "ord", "kind", "text", "media_ref"]


def spans_out(parsed: DataFrame) -> DataFrame:
    """Parsed relation → (doc_id, ord, kind, text, media_ref).

    The row_number window is the only sort; it shuffles one row per output
    span hashed by doc_id — unavoidable for a *dense* per-doc ordinal, and
    skew-safe because giant docs were already split at parse time and
    re-converge only here, after tokens have shrunk to plain strings.
    """
    # kind/text tiebreaks only matter for malformed inputs with duplicate span
    # offsets — they keep the output deterministic instead of shuffle-order.
    w = Window.partitionBy("doc_id").orderBy("span_offset", "pos", "kind", "text")
    return (
        parsed.where(F.col("kind").isin("word", *MEDIA_KINDS))
        .withColumn("ord", (F.row_number().over(w) - 1).cast("int"))
        .select(*SPANS_OUT_COLUMNS)
    )


def quarantine(parsed: DataFrame) -> DataFrame:
    """Parse failures the reference would crash on (Main.java:46-49) become a
    quarantine relation so one bad page cannot kill a 10^12-doc job."""
    return (parsed.where(F.col("kind") == "error")
            .select("doc_id", F.col("span_offset").alias("span_ord"), "error"))


def page_meta(parsed: DataFrame) -> DataFrame:
    """Per-parsed-hOCR-span page metadata (HOCRPage.java:48-55)."""
    return (parsed.where(F.col("kind") == "page")
            .select("doc_id", "span_offset", "page_id", "ocr_engine", "ocr_capabilities"))


def token_props(parsed: DataFrame) -> DataFrame:
    """Per-token hOCR title properties (HOCRToken.java:20-38): word rows with
    the parsed Properties map plus the two fields real hOCR users want —
    word confidence (x_wconf) and bounding box (bbox)."""
    # cast via double: real engines (Tesseract) emit fractional confidences
    # like '85.3', which a direct string→int cast would NULL out.  try_cast:
    # the value is free text the reference never parses, so a non-number or
    # an out-of-int value is NULL, not an ANSI cast error that kills the job
    return (parsed.where((F.col("kind") == "word") & F.col("props").isNotNull())
            .select("doc_id", "span_offset", "pos", "text", "props",
                    F.col("props").getItem("x_wconf").try_cast("double").try_cast("int")
                    .alias("x_wconf"),
                    F.col("props").getItem("bbox").alias("bbox")))
