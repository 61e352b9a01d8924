"""HTML boilerplate strip: frozen-rule behavior, oracle equivalence, and
full-pipeline parity for span kind 'html'."""

from __future__ import annotations

from page_evaluator_spark.corpus import corpus_to_spark_df, fixtures_docs
from page_evaluator_spark.functions.html import extract_main_text
from page_evaluator_spark.plans.pipeline import evaluate_documents

from . import oracle

CASES = [
    # (html, must_contain, must_not_contain)
    ("<p>The quality of mercy is not strained upon the place beneath.</p>",
     ["quality of mercy"], []),
    ("<div><a href='/'>Home</a> <a href='/a'>About</a> <a href='/b'>More</a></div>"
     "<p>A real paragraph with enough characters to clear the threshold.</p>",
     ["real paragraph"], ["Home"]),
    ("<script>var boilerplate = 'long enough to be kept if it leaked';</script>"
     "<p>Visible content sentence that is long enough to keep here.</p>",
     ["Visible content"], ["boilerplate"]),
    ("<!-- a long comment that would pass the length check if it leaked -->"
     "<p>Another acceptable paragraph with sufficient length to be kept.</p>",
     ["acceptable paragraph"], ["comment"]),
    ("<p>short</p>", [], ["short"]),  # below MIN_BLOCK_CHARS
    ("<p>It is twice bless&#39;d &amp; &lt;quoted&gt; in a long sentence kept.</p>",
     ["bless'd & <quoted>"], ["&#39;", "&amp;"]),
    ("", [], []),
]


def test_extract_main_text_rule():
    for html, yes, no in CASES:
        out = extract_main_text(html)
        for y in yes:
            assert y in out, (html, out)
        for n in no:
            assert n not in out, (html, out)


def test_oracle_matches_pipeline_impl():
    for html, _, _ in CASES:
        assert oracle.html_main_text(html) == extract_main_text(html), html


def test_html_pipeline_parity(spark):
    docs = [d for d in fixtures_docs() if "html" in d["doc_id"]]
    assert docs
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    scores = {r["doc_id"]: r.asDict() for r in out.page_scores.collect()}
    spans: dict[str, list] = {}
    for r in out.spans_out.collect():
        spans.setdefault(r["doc_id"], []).append((r["ord"], r["kind"], r["text"], r["media_ref"]))
    for d in docs:
        exp = oracle.doc_expected(d["spans"])
        got = scores[d["doc_id"]]
        for n in oracle.COUNTER_NAMES:
            assert got[n] == getattr(exp["counters"], n), (d["doc_id"], n)
        assert sorted(spans.get(d["doc_id"], [])) == exp["spans_out"], d["doc_id"]
    # boilerplate words never reach the token stream
    f20 = [t for (_, k, t, _) in sorted(spans["f020_html_boilerplate"]) if k == "word"]
    assert "mercy" in f20 and "Home" not in f20 and "Terms" not in f20
    # interleaved: media span preserved between html-derived word spans
    seq = sorted(spans["f021_html_interleaved"])
    kinds = [k for (_, k, _, _) in seq]
    assert "image" in kinds and kinds[0] == "word"
