"""Correctness checks on the committed output files of a pass.

run.py calls ``verify`` after the measuring process has exited, so no clock
and no Spark session is involved; the files are read with pyarrow.

Every doc of the input must have exactly one ``page_scores`` row.  A
deterministic sample of docs (every fixture doc, every skew doc and every
k-th doc) is compared row by row with the reference oracle
``tests/oracle.doc_expected``: counters and scores, the ``spans_out``
sequence and the quarantined span offsets, the same comparison the parity
tests make.  For a resumable run, every part must also appear exactly once
in the lineage.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from inputs import files
from tests import oracle

SAMPLE_TARGET = 1000


def _sampled(doc_id: str, index: int, k: int) -> bool:
    return doc_id.startswith(("f0", "skew")) or index % k == 0


def load_sample(input_path: str) -> tuple[list[str], dict[str, list[dict]]]:
    """All doc ids of the input, and the spans of the sampled docs."""
    table = ds.dataset(files(input_path), format="parquet").to_table(columns=["doc_id", "spans"])
    ids = table.column("doc_id").to_pylist()
    k = max(1, len(ids) // SAMPLE_TARGET)
    rows = [i for i, d in enumerate(ids) if _sampled(d, i, k)]
    spans = table.column("spans").take(rows).to_pylist()
    return ids, {ids[i]: s for i, s in zip(rows, spans)}


def _rows(root: str, table: str, columns: list[str], only: pa.Array | None = None) -> list[dict]:
    """Committed rows of one output table (``commit=`` dirs; files starting
    with ``_``, such as the manifests, are skipped)."""
    data = ds.dataset(os.path.join(root, table), format="parquet", partitioning="hive")
    flt = pc.field("doc_id").isin(only) if only is not None else None
    return data.to_table(columns=columns, filter=flt).to_pylist()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=0.0, abs_tol=1e-5)


def lineage_problems(part_ids: list[int], n_parts: int) -> list[str]:
    """Every part committed exactly once, and no other part."""
    seen = Counter(part_ids)
    problems = [f"part {p} committed {seen[p]} times" for p in range(n_parts) if seen[p] != 1]
    problems += [f"unknown part {p}" for p in seen if not 0 <= p < n_parts]
    return problems


def verify(root: str, input_path: str, n_parts: int | None = None) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for the outputs committed under root."""
    ids, sample = load_sample(input_path)
    counts = Counter(r["doc_id"] for r in _rows(root, "page_scores", ["doc_id"]))
    failed = {d for d in ids if counts[d] != 1} | (set(counts) - set(ids))

    only = pa.array(list(sample))
    score_cols = ["doc_id", *oracle.COUNTER_NAMES, "correctable_score", "quality_score"]
    scores = {r["doc_id"]: r for r in _rows(root, "page_scores", score_cols, only)}
    spans: dict[str, list] = {}
    for r in _rows(root, "spans_out", ["doc_id", "ord", "kind", "text", "media_ref"], only):
        spans.setdefault(r["doc_id"], []).append((r["ord"], r["kind"], r["text"], r["media_ref"]))
    quarantined: dict[str, list] = {}
    for r in _rows(root, "quarantine", ["doc_id", "span_ord"], only):
        quarantined.setdefault(r["doc_id"], []).append(r["span_ord"])

    for doc_id, doc_spans in sample.items():
        exp = oracle.doc_expected(doc_spans)
        got = scores.get(doc_id)
        ok = (got is not None
              and all(got[n] == getattr(exp["counters"], n) for n in oracle.COUNTER_NAMES)
              and _close(got["correctable_score"], exp["correctable_score"])
              and _close(got["quality_score"], exp["quality_score"])
              and sorted(spans.get(doc_id, [])) == exp["spans_out"]
              and sorted(quarantined.get(doc_id, [])) == sorted(q[0] for q in exp["quarantined"]))
        if not ok:
            failed.add(doc_id)

    problems = []
    if n_parts is not None:
        problems = lineage_problems(
            [r["part_id"] for r in _rows(root, "lineage", ["part_id"])], n_parts)
        if problems:  # a broken lineage makes every committed doc suspect
            failed = set(ids)
    return len(ids), len(failed), problems
