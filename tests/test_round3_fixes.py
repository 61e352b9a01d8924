"""Round-3 fixes pinned by test (VERDICT r2 + ADVICE r2 items).

- the kernel's title parser raises exactly on the titles the Java reference
  crashes on and builds the oracle's map otherwise (kernel vs oracle);
- token_props x_wconf survives fractional confidences (ADVICE #5);
- golden oracle dir is derived from the package location (ADVICE #4);
- ensure_min_parallelism memoizes its partition probe (VERDICT #7).
"""

from __future__ import annotations

import pytest

from page_evaluator_spark.operators.parse import _title_props

from .test_parse_kernel import TITLE_BAD, TITLE_GOOD, _title_kernel_vs_oracle


def test_kernel_title_props_good_and_bad():
    for t in TITLE_GOOD:
        assert isinstance(_title_props(t), dict), repr(t)
    for t in TITLE_BAD:
        with pytest.raises(ValueError):
            _title_props(t)


def test_native_title_map_crash_parity():
    """The kernel raises exactly where the Java reference crashes and builds
    the same Properties map otherwise (its native twin is gone; the parity
    is now kernel vs oracle through the same hOCR route)."""
    for t in TITLE_GOOD:
        kernel, expected = _title_kernel_vs_oracle(t)
        assert expected is not None, repr(t)
        assert kernel == expected, repr(t)
    for t in TITLE_BAD:
        assert _title_kernel_vs_oracle(t) == (None, None), repr(t)


def test_token_props_fractional_x_wconf(spark):
    """Tesseract emits fractional confidences ('85.3'); the convenience column
    must not NULL them out (ADVICE r2 #5: cast via double).  A value that is
    no number, or out of int range, is NULL: under ANSI casts it would
    otherwise fail the job over metadata the reference never parses."""
    from page_evaluator_spark.corpus import corpus_to_spark_df
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    xml = ('<html><body><div class="ocr_page" id="p1" title="bbox 0 0 9 9">'
           '<span class="ocr_line" title="bbox 0 0 9 9">'
           '<span class="ocrx_word" title="bbox 1 2 3 4; x_wconf 85.3">Word</span>'
           '<span class="ocrx_word" title="bbox 5 6 7 8; x_wconf 40">Next</span>'
           '<span class="ocrx_word" title="bbox 1 2 3 4; x_wconf high">Odd</span>'
           '<span class="ocrx_word" title="bbox 1 2 3 4; x_wconf 1e20">Huge</span>'
           '</span></div></body></html>')
    docs = corpus_to_spark_df(spark, [{
        "doc_id": "d1",
        "spans": [{"kind": "hocr", "text": xml, "media_ref": None, "offset": 0}]}])
    rows = {r["text"]: r for r in evaluate_documents(docs).token_props.collect()}
    assert rows["Word"]["x_wconf"] == 85  # double→int truncation, not NULL
    assert rows["Next"]["x_wconf"] == 40
    assert rows["Word"]["props"]["x_wconf"] == "85.3"  # raw value untouched
    assert rows["Odd"]["x_wconf"] is None and rows["Huge"]["x_wconf"] is None
    assert rows["Odd"]["props"]["x_wconf"] == "high"


def test_golden_dir_is_package_relative():
    from pathlib import Path

    import page_evaluator_spark.queries as Q

    assert not Q._GOLDEN_DIR.startswith("/root/repo") or (
        Path(Q.__file__).resolve().parent.parent == Path("/root/repo"))
    assert Path(Q._GOLDEN_DIR) == (
        Path(Q.__file__).resolve().parent.parent / "fixtures" / "golden")
    assert (Path(Q._GOLDEN_DIR) / "ocr_page_scores.parquet").exists()


def test_ensure_min_parallelism_memoizes_probe(spark, sf01_dir, monkeypatch):
    """The partition probe (a driver-side plan→RDD conversion) runs at most
    once per cache_key and never re-runs on an already-marked DataFrame."""
    from page_evaluator_spark.operators import skew

    skew._SCAN_PARTS_CACHE.clear()
    probes = {"n": 0}
    orig = skew._probe_partitions

    def counting_probe(df):
        probes["n"] += 1
        return orig(df)

    monkeypatch.setattr(skew, "_probe_partitions", counting_probe)
    d1 = skew.ensure_min_parallelism(
        spark.read.parquet(f"{sf01_dir}/documents.parquet"), cache_key="k1")
    assert probes["n"] == 1
    skew.ensure_min_parallelism(
        spark.read.parquet(f"{sf01_dir}/documents.parquet"), cache_key="k1")
    assert probes["n"] == 1  # second load: cache hit, no df.rdd access
    skew.ensure_min_parallelism(d1)  # marked object: no probe either
    assert probes["n"] == 1
    skew.ensure_min_parallelism(spark.range(10).toDF("x"))  # unkeyed: probes
    assert probes["n"] == 2
