"""Round-2 regression tests: the ADVICE.md divergences (line-terminator
semantics, Java String.split trailing-empty rule, Matcher.matches() vs
find()+anchors, resume idempotency across fresh run ids) plus the carried hOCR token properties and staged-input pruning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from page_evaluator_spark.functions.classify import category_sql
from page_evaluator_spark.operators.parse import (
    _parse_hocr,
    _title_props,
    _tokenize_txt,
)

from . import oracle
from .test_parse_kernel import _title_kernel_vs_oracle, hocr_with_title

# ---------------------------------------------------------------------------
# ADVICE #1: BufferedReader.readLine splits ONLY on \n / \r / \r\n — never on
# \f, \x0B, \x1c-\x1e, NEL (U+0085), U+2028/9 the way str.splitlines() does.
# ---------------------------------------------------------------------------

TERMINATORISH = ["\f", "\x0b", "\x1c", "\x1d", "\x1e", "\x85", " ", " "]


def test_txt_no_split_on_non_readline_terminators():
    # reference: one line 'ab-\fcd' → trim keeps interior \f → no dehyphenation
    # (no '-\n') → SimpleTokenizer treats \f as whitespace → [ab, -, cd].
    # The old splitlines() bug injected a line break, joining to ['abcd'].
    assert _tokenize_txt("ab-\fcd") == ["ab", "-", "cd"]
    for ch in TERMINATORISH:
        text = f"ab-{ch}cd"
        assert _tokenize_txt(text) == [t.text for t in oracle.parse_txt(text).tokens], repr(ch)
    # real line breaks still dehyphenate
    assert _tokenize_txt("ab-\ncd") == ["abcd"]
    assert _tokenize_txt("ab-\r\ncd") == ["abcd"]
    assert _tokenize_txt("ab-\rcd") == ["abcd"]


def test_txt_udf_matches_native_twin_on_terminators():
    """Full TXT parse (reflow, dehyphenation, SimpleTokenizer) with the
    non-readline terminators inside lines; the native twin is gone, the
    kernel is held to the oracle."""
    for t in [f"ab-{ch}cd\nxy-\nz {ch} q" for ch in TERMINATORISH]:
        assert _tokenize_txt(t) == [tok.text for tok in oracle.parse_txt(t).tokens], repr(t)

# ---------------------------------------------------------------------------
# ADVICE #2: Java String.split(";") drops TRAILING empty segments — a trailing
# ';' in an hOCR title is legal; "" still crashes (Java "".split(";") == [""]).
# ---------------------------------------------------------------------------

TITLE_OK = {
    "bbox 1 2 3 4;": {"bbox": "1 2 3 4"},                       # trailing ';'
    "bbox 1 2 3 4;;": {"bbox": "1 2 3 4"},                      # multiple trailing
    ";": {},                                                     # Java ';'.split → []
    "bbox 393 604 442 620; x_wconf 85": {"bbox": "393 604 442 620", "x_wconf": "85"},
    "a 1;a 2": {"a": "2"},                                       # Properties.put last-wins
    "  a 1  ;  b 2 3  ": {"a": "1", "b": "2 3"},                 # per-segment Java trim
}
TITLE_BAD = ["", "bbox", ";a b", "a b;;c", "a b; ;c d"]  # space-less segment somewhere


def test_title_props_java_split_semantics():
    for title, expected in TITLE_OK.items():
        assert _title_props(title) == expected, repr(title)
        texts, last, props, *_ = _parse_hocr(hocr_with_title(title))
        assert props == [expected], repr(title)
        op = oracle.parse_hocr(hocr_with_title(title))
        assert op.error is None, repr(title)
        assert [t.props for t in op.tokens] == [expected], repr(title)
    for title in TITLE_BAD:
        with pytest.raises(ValueError):
            _title_props(title)
        assert oracle.parse_hocr(hocr_with_title(title)).error is not None, repr(title)


def test_native_title_map_matches_kernel():
    """The kernel's title parser on the awkward cases: trailing ';', padded
    segments, first-space split."""
    for title in ["bbox 393 604 442 620; x_wconf 85", "a 1;b 2 3;  c x y z  ",
                  "bbox 1 2 3 4;", "a 1 ; b 2"]:
        assert _title_props(title) == {
            k.strip(): v for k, v in (
                (seg.strip().split(" ", 1)[0], seg.strip().split(" ", 1)[1])
                for seg in title.rstrip("; \t").split(";"))}


def test_native_title_map_trailing_semicolon():
    """Trailing/repeated ';' and repeated keys: the kernel's map through
    the hOCR route equals both _title_props and the oracle's."""
    for t in ["bbox 1 2 3 4;", "bbox 1 2 3 4;;", "a 1 ; b 2", "a 1;a 2"]:
        kernel, expected = _title_kernel_vs_oracle(t)
        assert kernel == expected == _title_props(t), repr(t)

def test_trailing_semicolon_title_not_quarantined(spark):
    """End-to-end: a doc whose only span carries title='bbox 1 2 3 4;' must
    parse (token scored), not silently vanish into quarantine."""
    from page_evaluator_spark.corpus import corpus_to_spark_df
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    docs = [{"doc_id": "t1", "spans": [
        {"kind": "hocr", "text": hocr_with_title("bbox 1 2 3 4;"),
         "media_ref": None, "offset": 0}]}]
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    assert out.quarantine.count() == 0
    scores = out.page_scores.collect()
    assert len(scores) == 1 and scores[0]["token_count"] == 1


# ---------------------------------------------------------------------------
# ADVICE #4: Matcher.matches() == whole-input consumption.  Tokens ending in a
# line terminator that Java trim does NOT strip (U+0085/U+2028/U+2029) must
# fall through the three anchored patterns.
# ---------------------------------------------------------------------------

MATCHES_CASES = ["12 ", "12 ", "12\x85", "! ", "a ",
                 "$1,2 ", "12", "!", "a"]


def test_matches_semantics_native_oracle_agree(spark):
    df = spark.createDataFrame([(t,) for t in MATCHES_CASES], "text string")
    got = {r["text"]: r["cat"]
           for r in df.withColumn("cat", F.expr(category_sql("text"))).collect()}
    for t in MATCHES_CASES:
        assert got[t] == oracle.classify_token(t), repr(t)
    # the three clean ones still hit their categories
    assert got["12"] == "number_objects"
    assert got["!"] == "punct"
    assert got["a"] == "single_letter"
    # terminator-suffixed ones must NOT
    assert got["12 "] == "len_gt1_nonalpha"
    assert got["! "] == "len_gt1_nonalpha"
    assert got["a "] == "clean_short"  # clean len 2 (<3) wins first


# ---------------------------------------------------------------------------
# hOCR token title properties carried into the parsed relation (VERDICT #3)
# ---------------------------------------------------------------------------

def test_token_props_carried_end_to_end(spark):
    from page_evaluator_spark.corpus import corpus_to_spark_df
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    xml = (
        "<html><head></head><body><div class='ocr_page' id='p1'>"
        "<span class='ocr_line'>"
        "<span class='ocrx_word' title='bbox 1 2 3 4; x_wconf 85'>Qual-</span>"
        "</span><span class='ocr_line'>"
        "<span class='ocrx_word' title='bbox 5 6 7 8; x_wconf 40'>ity</span>"
        "<span class='ocrx_word' title='bbox 9 9 9 9; x_wconf 99'>done</span>"
        "</span></div></body></html>"
    )
    docs = [{"doc_id": "p1", "spans": [
        {"kind": "hocr", "text": xml, "media_ref": None, "offset": 0}]},
        {"doc_id": "p2", "spans": [
        {"kind": "text", "text": "plain text", "media_ref": None, "offset": 0}]}]
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    props = {(r["doc_id"], r["text"]): (dict(r["props"]), r["x_wconf"], r["bbox"])
             for r in out.token_props.collect()}
    # 'Qual-' is last-on-line + hyphen → joins 'ity'; surviving token carries
    # the FIRST token's props (the fold's src index)
    assert props[("p1", "Quality")] == (
        {"bbox": "1 2 3 4", "x_wconf": "85"}, 85, "1 2 3 4")
    assert props[("p1", "done")] == ({"bbox": "9 9 9 9", "x_wconf": "99"}, 99, "9 9 9 9")
    # TXT tokens carry no props and don't appear in token_props
    assert not any(d == "p2" for d, _ in props)
    # parity with the oracle's Properties parse
    op = oracle.parse_hocr(xml)
    assert [t.props for t in op.tokens] == [
        {"bbox": "1 2 3 4", "x_wconf": "85"},
        {"bbox": "5 6 7 8", "x_wconf": "40"},
        {"bbox": "9 9 9 9", "x_wconf": "99"}]


# ---------------------------------------------------------------------------
# ADVICE #5: streaming scorer == batch scorer INCLUDING sentinel rows for
# token-less documents (media-only / zero-span / quarantined).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# ADVICE #3: resume is idempotent across FRESH run ids — a crash between the
# output append and the lineage commit must not duplicate rows on re-run.
# ---------------------------------------------------------------------------

def test_resume_overwrites_orphaned_partial_commit(spark, tmp_path):
    from page_evaluator_spark.corpus import corpus_to_spark_df, gen_corpus
    from page_evaluator_spark.plans.incremental import IncrementalRunner
    from page_evaluator_spark.sources.catalog import Catalog

    docs = corpus_to_spark_df(spark, gen_corpus(30, seed=13, include_fixtures=False))
    out = str(tmp_path / "out")
    runner = IncrementalRunner(spark, out, n_parts=4)

    # crash simulation: first invocation dies AFTER appending part outputs but
    # BEFORE its lineage commit (the exact window ADVICE.md flagged)
    real_append = Catalog.append
    calls = {"n": 0}

    def crashing_append(self, df, ref, run_id=None, replace_where=None):
        if ref.endswith("lineage"):
            calls["n"] += 1
            raise RuntimeError("simulated crash before lineage commit")
        return real_append(self, df, ref, run_id=run_id, replace_where=replace_where)

    Catalog.append = crashing_append
    try:
        with pytest.raises(RuntimeError):
            runner.run(docs, run_id="runA")
    finally:
        Catalog.append = real_append
    assert calls["n"] == 1
    assert runner.committed_parts() == set()  # part still pending
    orphaned = runner.page_scores().count()
    assert orphaned > 0  # the orphaned partial commit exists

    # re-run under a DIFFERENT run id (the README's 're-run the same command'
    # with the default fresh-uuid run id) — must overwrite, not duplicate
    runner2 = IncrementalRunner(spark, out, n_parts=4)
    done = runner2.run(docs, run_id="runB")
    assert sorted(done) == [0, 1, 2, 3]
    n_docs = docs.count()
    scores = runner2.page_scores()
    assert scores.count() == n_docs
    assert scores.select("doc_id").distinct().count() == n_docs


# ---------------------------------------------------------------------------
# VERDICT #4: parquet-fallback staging — per-part jobs prune to one partition
# directory instead of rescanning the full input.
# ---------------------------------------------------------------------------

def test_incremental_staging_prunes_per_part(spark, tmp_path):
    import os

    from page_evaluator_spark.corpus import corpus_to_spark_df, gen_corpus
    from page_evaluator_spark.plans.incremental import IncrementalRunner

    docs = corpus_to_spark_df(spark, gen_corpus(40, seed=17, include_fixtures=False))
    out = str(tmp_path / "out")
    runner = IncrementalRunner(spark, out, n_parts=4)
    done = runner.run(docs, run_id="r1")
    assert sorted(done) == [0, 1, 2, 3]

    # staged layout exists and is hive-partitioned by _part
    staged = os.path.join(out, "staged_docs")
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    part_dirs = sorted(d for d in os.listdir(staged) if d.startswith("_part="))
    assert part_dirs and all(d.split("=")[1].isdigit() for d in part_dirs)

    # a per-part read partition-prunes: only that part's files are scanned
    one = spark.read.parquet(staged).where(F.col("_part") == int(part_dirs[0].split("=")[1]))
    files = one.select(F.input_file_name().alias("f")).distinct().collect()
    assert files and all(part_dirs[0] in r["f"] for r in files)

    # staging did not perturb results
    n_docs = docs.count()
    assert runner.page_scores().count() == n_docs
    assert runner.page_scores().select("doc_id").distinct().count() == n_docs


# hypothesis fuzz: title parsing (crash/no-crash AND parsed map) must agree
# between the kernel and the oracle on arbitrary titles
from hypothesis import given, settings
from hypothesis import strategies as st

_TITLE_ALPHABET = "ab1 ;\t_x\x1f "


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet=_TITLE_ALPHABET, min_size=0, max_size=24))
def test_title_props_fuzz_kernel_vs_oracle(title):
    """Kernel and oracle must agree on crash/no-crash AND the parsed map for
    arbitrary titles.  Both sides go through the SAME XML route (what the
    XML parser does to the attribute value, the reference's parser does
    too), so compare _parse_hocr, not _title_props directly."""
    if "<" in title or "&" in title or '"' in title:
        return
    xml = hocr_with_title(title)
    try:
        _texts, _last, kprops, *_ = _parse_hocr(xml)
        kernel, kernel_err = kprops[0], None
    except ValueError as e:
        kernel, kernel_err = None, str(e)
    op = oracle.parse_hocr(xml)
    if kernel_err is None:
        assert op.error is None, (title, kernel_err, op.error)
        assert op.tokens[0].props == kernel, title
    else:
        assert op.error is not None, (title, "kernel crashed, oracle did not")


def test_staging_restages_on_n_parts_change(spark, tmp_path, monkeypatch):
    """A run under a different --n-parts must NOT reuse the old staged
    _part layout (part ids would be wrong) — it re-stages.  A different
    n_parts is only accepted while no part is committed (committed parts
    pin it — test_resume.py), so the first run stages its input and then
    fails before committing any part."""
    import os

    from page_evaluator_spark.corpus import corpus_to_spark_df, gen_corpus
    from page_evaluator_spark.plans.incremental import IncrementalRunner
    from page_evaluator_spark.sources.catalog import Catalog

    def failing_append(self, *args, **kwargs):
        raise RuntimeError("simulated append failure")

    docs = corpus_to_spark_df(spark, gen_corpus(20, seed=23, include_fixtures=False))
    out = str(tmp_path / "out")
    r1 = IncrementalRunner(spark, out, n_parts=4)
    with monkeypatch.context() as m:
        m.setattr(Catalog, "append", failing_append)
        with pytest.raises(RuntimeError, match="simulated append failure"):
            r1.run(docs, run_id="a")  # stages with n_parts=4, commits nothing
    assert r1.committed_parts() == set()
    staged = os.path.join(out, "staged_docs")
    parts4 = sorted(d for d in os.listdir(staged) if d.startswith("_part="))
    assert parts4 and len(parts4) <= 4

    # same output root, DIFFERENT n_parts: must re-stage with the new layout
    r2 = IncrementalRunner(spark, out, n_parts=8)
    assert sorted(r2.run(docs, run_id="b")) == list(range(8))
    parts8 = sorted(d for d in os.listdir(staged) if d.startswith("_part="))
    assert max(int(d.split("=")[1]) for d in parts8) >= 4  # new layout present
    n_docs = docs.count()
    scores = r2.page_scores()
    # no doc lost to a stale staging layout, none scored twice
    assert scores.count() == n_docs
    assert scores.select("doc_id").distinct().count() == n_docs
