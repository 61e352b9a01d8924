#!/usr/bin/env python
"""Generate golden-oracle parquet fixtures for the non-SQL-expressible OCR
pipeline queries (SURVEY.md §5 strategy, VERDICT r1 next-round #2).

Everything here is derived from the PURE-PYTHON oracle (tests/oracle.py — the
documented test-only transliteration of the Java reference), NOT from the
Spark pipeline, so the driver's DuckDB comparison stays an independent check:
Spark output vs independently derived expectations.

The corpus is the exact one the `ocr_*` harness queries run
(page_evaluator_spark.queries._corpus_df: gen_corpus(100, seed=42)), which is
sf-independent, so these goldens are valid at any driver SF.

Run:  python fixtures/make_goldens.py   (idempotent; rewrites fixtures/golden/)
A pytest (tests/test_goldens_current.py) asserts the checked-in goldens match
both a fresh oracle run AND the live Spark pipeline output.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

import oracle  # noqa: E402  (tests/oracle.py)
from page_evaluator_spark.corpus import gen_corpus  # noqa: E402

GOLDEN_DIR = REPO / "fixtures" / "golden"

# The engine quarantines with its OWN messages (the reference crashes instead
# of reporting, Main.java:46-49, so message text is engine spec, not Java
# parity); the oracle uses Java-flavored wording.  Translate oracle → engine.
def engine_error(msg: str) -> str:
    if msg == "PageParserException: NullPointerException (no ocr_page)":
        return "PageParserException: no ocr_page element"
    if msg.startswith("StringIndexOutOfBounds: bad title segment "):
        return "bad hOCR title segment: " + msg[len("StringIndexOutOfBounds: bad title segment "):]
    return msg  # XML ParseError texts are identical (same xml.etree library)


CATS = ["punct", "number_objects", "single_letter", "ge4_repeated",
        "len_gt1_nonalpha", "clean_short", "clean_all_alpha",
        "clean_one_nonalpha", "clean_two_nonalpha", "clean_3plus_nonalpha"]


def main(out_dir: Path | str = GOLDEN_DIR) -> None:
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    docs = gen_corpus(100, seed=42)

    scores_rows, spans_rows, quar_rows, media_rows = [], [], [], []
    for d in docs:
        exp = oracle.doc_expected(d["spans"])
        c = exp["counters"]
        scores_rows.append(
            [d["doc_id"], c.token_count] + [getattr(c, n) for n in CATS]
            + [np.float32(exp["correctable_score"]), np.float32(exp["quality_score"])])
        for ord_, kind, text, media_ref in exp["spans_out"]:
            spans_rows.append([d["doc_id"], ord_, kind, text, media_ref])
        for off, err in exp["quarantined"]:
            quar_rows.append([d["doc_id"], off, engine_error(err)])
        for sp in sorted(d["spans"], key=lambda s: s["offset"]):
            if sp["kind"] in oracle.MEDIA_KINDS:
                media_rows.append([d["doc_id"], sp["media_ref"], sp["kind"]])

    def write(name: str, rows: list[list], schema: pa.Schema) -> None:
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.table(
            {f.name: pa.array(list(col), type=f.type)
             for f, col in zip(schema, cols)})
        pq.write_table(table, str(out_dir / name))
        print(f"wrote {name}: {len(rows)} rows")

    i32, f32, s = pa.int32(), pa.float32(), pa.string()
    scores_schema = pa.schema(
        [("doc_id", s), ("token_count", i32)] + [(n, i32) for n in CATS]
        + [("correctable_score", f32), ("quality_score", f32)])
    write("ocr_page_scores.parquet", scores_rows, scores_schema)
    write("ocr_spans_out.parquet", spans_rows,
          pa.schema([("doc_id", s), ("ord", i32), ("kind", s), ("text", s),
                     ("media_ref", s)]))
    write("ocr_quarantine.parquet", quar_rows,
          pa.schema([("doc_id", s), ("span_ord", i32), ("error", s)]))

    # worst-20 by (quality_score asc, doc_id), sentinels excluded — computed
    # on the same float32 values Spark sorts on
    eligible = [r for r in scores_rows if float(r[-1]) >= 0]
    eligible.sort(key=lambda r: (float(r[-1]), r[0]))
    worst = [[r[0], r[1], r[-1], r[-2]] for r in eligible[:20]]
    write("ocr_worst_pages.parquet", worst,
          pa.schema([("doc_id", s), ("token_count", i32),
                     ("quality_score", f32), ("correctable_score", f32)]))

    # media spans INPUT (not output): the media_frame_sample oracle re-derives
    # the deterministic sha256 frame counts and shas in DuckDB SQL from this input
    write("media_spans.parquet", media_rows,
          pa.schema([("doc_id", s), ("media_ref", s), ("kind", s)]))

    # caption adjacency (r5): for each media span, the next non-media span
    # with non-null text in document order (stable sort by offset — ties keep
    # array order, mirrored by the query's (offset, pos) window ordering)
    cap_rows = []
    for d in docs:
        spans = sorted(d["spans"], key=lambda sp: sp["offset"])
        for idx, sp in enumerate(spans):
            if sp["kind"] in oracle.MEDIA_KINDS:
                cap = next((t["text"] for t in spans[idx + 1:]
                            if t["kind"] not in oracle.MEDIA_KINDS
                            and t["text"] is not None), None)
                cap_rows.append([d["doc_id"], sp["offset"], sp["media_ref"],
                                 sp["kind"],
                                 cap[:40] if cap is not None else None,
                                 len(cap) if cap is not None else None])
    write("media_captions.parquet", cap_rows,
          pa.schema([("doc_id", s), ("span_ord", i32), ("media_ref", s),
                     ("media_kind", s), ("caption_excerpt", s),
                     ("caption_len", i32)]))

    # interleaved-corpus datasheet (r6, VERDICT r5 #8): the one-row release
    # summary covering the MULTIMODAL corpus — span mix by kind, how many
    # docs carry media, and caption coverage (from the same adjacency rule
    # as media_captions).  Coverage rounding is explicit half-up fixed-point
    # (floor(x*1e4 + 0.5)/1e4) — Python round() is banker's, Spark's is not.
    import math

    n_docs = len(docs)
    n_spans = sum(len(d["spans"]) for d in docs)
    n_media = len(media_rows)
    kind_counts: dict[str, int] = {}
    for _, _, kind in media_rows:
        kind_counts[kind] = kind_counts.get(kind, 0) + 1
    media_docs = sum(1 for d in docs
                     if any(sp["kind"] in oracle.MEDIA_KINDS
                            for sp in d["spans"]))
    captioned = sum(1 for r in cap_rows if r[4] is not None)
    coverage = (math.floor(captioned / n_media * 10000.0 + 0.5) / 10000.0
                if n_media else 0.0)
    i64, f64 = pa.int64(), pa.float64()
    write("interleaved_datasheet.parquet",
          [[n_docs, n_spans, n_spans - n_media, n_media,
            kind_counts.get("image", 0), kind_counts.get("table", 0),
            kind_counts.get("figure", 0), media_docs, captioned, coverage]],
          pa.schema([("n_docs", i64), ("n_spans", i64),
                     ("n_text_spans", i64), ("n_media_spans", i64),
                     ("n_images", i64), ("n_tables", i64),
                     ("n_figures", i64), ("media_docs", i64),
                     ("captioned_media", i64), ("caption_coverage", f64)]))


if __name__ == "__main__":
    main()
