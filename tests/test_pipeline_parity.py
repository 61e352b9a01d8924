"""Differential parity: the Spark pipeline vs the transliterated oracle,
on fixtures + a seeded random corpus.  This is the BASELINE.json per-row
invariant: exact (kind, text, media_ref, order) span-sequence equality and
counter/score equality per doc_id.
"""

from __future__ import annotations

import pytest

from page_evaluator_spark.corpus import corpus_to_spark_df, fixtures_docs, gen_corpus
from page_evaluator_spark.plans.pipeline import evaluate_documents

from . import oracle


def _run_and_compare(spark, docs, repartition=None):
    out = evaluate_documents(corpus_to_spark_df(spark, docs), repartition=repartition)
    scores = {r["doc_id"]: r.asDict() for r in out.page_scores.collect()}
    spans: dict[str, list] = {}
    for r in out.spans_out.collect():
        spans.setdefault(r["doc_id"], []).append((r["ord"], r["kind"], r["text"], r["media_ref"]))
    quar: dict[str, list] = {}
    for r in out.quarantine.collect():
        quar.setdefault(r["doc_id"], []).append(r["span_ord"])

    assert len(scores) == len(docs), "every doc must get a score row"
    for d in docs:
        did = d["doc_id"]
        exp = oracle.doc_expected(d["spans"])
        got = scores[did]
        for n in oracle.COUNTER_NAMES:
            assert got[n] == getattr(exp["counters"], n), (did, n)
        assert got["correctable_score"] == pytest.approx(exp["correctable_score"], abs=1e-5), did
        assert got["quality_score"] == pytest.approx(exp["quality_score"], abs=1e-5), did
        assert sorted(spans.get(did, [])) == exp["spans_out"], did
        assert sorted(quar.get(did, [])) == sorted(q[0] for q in exp["quarantined"]), did


def test_fixtures_parity(spark):
    _run_and_compare(spark, fixtures_docs())


def test_random_corpus_parity(spark):
    _run_and_compare(spark, gen_corpus(80, seed=123, include_fixtures=False))


def test_random_corpus_parity_repartitioned(spark):
    # same corpus through the skew-spreading repartition path
    _run_and_compare(spark, gen_corpus(40, seed=7, include_fixtures=False), repartition=16)


def test_skew_doc_parity(spark):
    docs = gen_corpus(5, seed=99, include_fixtures=False, skew_docs=1, skew_spans=300)
    _run_and_compare(spark, docs, repartition=16)


def test_page_meta(spark):
    docs = fixtures_docs()
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    meta = {(r["doc_id"], r["span_offset"]): r.asDict() for r in out.page_meta.collect()}
    m = meta[("f001_hocr_canonical", 0)]
    assert m["page_id"] == "page_1"
    assert m["ocr_engine"] == "tesseract 3.02"
    assert m["ocr_capabilities"] == ["ocr_page", "ocr_line", "ocrx_word"]
    # missing meta → "" engine and [""] capabilities (HOCRPage.java:48-51)
    m9 = meta[("f009_hocr_no_meta", 0)]
    assert m9["ocr_engine"] == ""
    assert m9["ocr_capabilities"] == [""]


def test_nested_markup_fixture(spark):
    """f019: descendant text concatenation + hyphen join across the line
    boundary when the '-' lives inside nested markup."""
    docs = [d for d in fixtures_docs() if d["doc_id"] == "f019_nested_markup"]
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    spans = [r["text"] for r in out.spans_out.orderBy("ord").collect()]
    assert spans == ["word.", "hyphen"]
    exp = oracle.doc_expected(docs[0]["spans"])
    assert [s[2] for s in exp["spans_out"]] == spans


# ---------------------------------------------------------------------------
# The lean production pass: what cache_parsed persists, and what building the
# page_scores plan costs on the driver.
# ---------------------------------------------------------------------------

_SPANS = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _hocr_docs(spark):
    from page_evaluator_spark.corpus import make_hocr

    return spark.createDataFrame([
        ("h1", [("hocr", make_hocr([["Quality", "of-"], ["mercy", "85%"]]), None, 0),
                ("image", None, "img://h1/1", 1),
                ("hocr", make_hocr([["not", "strained"]], page_id="page_2",
                                   engine="ocropus 0.4"), None, 2)]),
        ("h2", [("hocr", make_hocr([["a", "b"]], bad_title_at=2), None, 0),
                ("text", "plain words here", None, 1)]),
    ], _SPANS)


def test_cached_parse_holds_only_the_writer_columns(spark):
    """cache_parsed persists the span parse: the seven columns page_scores,
    spans_out and quarantine read, without the hOCR metadata or props."""
    out = evaluate_documents(_hocr_docs(spark), cache_parsed=True)
    try:
        assert out.parsed.columns == ["doc_id", "span_offset", "pos", "kind", "text",
                                      "media_ref", "error"]
    finally:
        out.parsed.unpersist()


def test_cached_page_meta_and_token_props_equal_uncached(spark):
    """page_meta / token_props read columns the cache does not hold; on
    cached outputs they share their own metadata parse with the same rows."""
    docs = _hocr_docs(spark)
    cached = evaluate_documents(docs, cache_parsed=True)
    plain = evaluate_documents(docs)
    try:
        for branch in ("page_meta", "token_props"):
            got = sorted(map(repr, getattr(cached, branch).collect()))
            want = sorted(map(repr, getattr(plain, branch).collect()))
            assert got == want and want, branch
            assert getattr(cached, branch).schema == getattr(plain, branch).schema
    finally:
        cached.parsed.unpersist()
    meta = {r["span_offset"]: r["page_id"] for r in plain.page_meta.collect()
            if r["doc_id"] == "h1"}
    assert meta == {0: "page_1", 2: "page_2"}


def _py4j_commands(monkeypatch, build):
    """build() and the py4j commands this thread sent while it ran.  Counted
    at the py4j connection, so this guards driver plan-build cost without
    timing anything.  Only this thread's commands count: py4j's finalizer
    thread sends the detach commands of JavaObjects freed anywhere (earlier
    tests included) in batches at its own pace, and they are no part of the
    plan build."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent = []
    real = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        out = build()
    finally:
        monkeypatch.undo()
    return out, len(sent)


def test_score_pages_plan_build_is_a_few_py4j_commands(spark, monkeypatch):
    """Building page_scores over a parsed relation (no action) costs a few
    dozen py4j commands — the Column-per-counter form took ~1,400."""
    from page_evaluator_spark.operators.parse import parse_documents
    from page_evaluator_spark.operators.score import score_pages

    parsed = parse_documents(_hocr_docs(spark), columns=("doc_id", "kind", "text"))
    scores, n = _py4j_commands(monkeypatch, lambda: score_pages(parsed))
    assert 0 < n <= 60, n
    assert scores.columns[:2] == ["doc_id", "token_count"]


def test_parse_documents_plan_build_is_a_few_py4j_commands(spark, monkeypatch):
    """Building the parse plan (explode, kernel, token explode; no action)
    costs a few dozen py4j commands; with a Column-built explode_docs it
    took 191."""
    from page_evaluator_spark.operators.parse import parse_documents

    docs = _hocr_docs(spark)
    parsed, n = _py4j_commands(
        monkeypatch, lambda: parse_documents(docs, columns=("doc_id", "kind", "text")))
    assert 0 < n <= 90, n
    assert parsed.columns == ["doc_id", "kind", "text"]
