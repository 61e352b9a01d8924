"""Multimodal span processing: image/audio/video as opaque binary + metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas signatures,
partitioning) is real and tested; no image/audio codec is installed, so frame
counts are deterministic sha256-derived stub metadata and the dataflow is
exercisable end-to-end.

At 100 TB the pattern is: media bytes live in object storage referenced by
``media_ref``; this stage maps metadata + (optionally inlined) bytes through
Arrow batches, emitting fixed-size rows — the shuffle only ever sees
metadata, never raw media.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FRAMES_SCHEMA = ("doc_id string, media_ref string, media_kind string, "
                 "frame_idx int, frame_sha string")


def sample_frames(media_rows: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame index.

    Frame counts come from deterministic stub metadata (video →
    1 + sha256(ref)[2] % 300 frames; stills → 1 frame), so the
    fan-out shape — a 300-frame video becomes ~10 rows — is exercised for
    real even though the decoded pixels are stubbed."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "media_ref", "media_kind",
                                   "frame_idx", "frame_sha")}
            for doc_id, ref, kind in zip(pdf["doc_id"], pdf["media_ref"], pdf["kind"]):
                h = hashlib.sha256((ref or "").encode()).digest()
                n_frames = 1 + h[2] % 300 if kind == "video" else 1
                for idx in range(0, n_frames, every_n):
                    out["doc_id"].append(doc_id)
                    out["media_ref"].append(ref)
                    out["media_kind"].append(kind)
                    out["frame_idx"].append(idx)
                    out["frame_sha"].append(
                        hashlib.sha256(f"{ref or ''}#frame{idx}".encode()).hexdigest())
            o = pd.DataFrame(out)
            o["frame_idx"] = o["frame_idx"].astype("Int32")
            yield o

    return media_rows.mapInPandas(kernel, schema=FRAMES_SCHEMA)


def media_spans(docs: DataFrame) -> DataFrame:
    """Pull media spans out of the documents table (native explode + filter)."""
    from .parse import MEDIA_KINDS, explode_docs

    return (explode_docs(docs)
            .where(F.col("kind").isin(*MEDIA_KINDS))
            .select("doc_id", "media_ref", "kind"))


