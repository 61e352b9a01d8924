"""The parse kernel (operators/parse.py) against the reference oracle
(tests/oracle.py): the hyphen fold, seeded hOCR title fuzzing, and how
malformed spans and column-pruned kernels turn into rows.  The good/bad
title sets and the title helpers here are shared with the round-2/3 tests.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from collections import Counter

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from page_evaluator_spark.operators import parse
from page_evaluator_spark.operators.parse import _fold_tokens, _parse_hocr

from . import oracle
from .conftest import REPO
from .test_native_parity import _ALPHABET

# Titles HOCRToken.java:20-29 parses fine (well-formed per the Java split;
# ";"/";;" split to the EMPTY array → empty Properties, no crash).
TITLE_GOOD = ["bbox 393 604 442 620; x_wconf 85", "a 1;b 2 3;  c x y z  ",
              "bbox 1 2 3 4;", "bbox 1 2 3 4;;", "a 1;;", "a 1;;;", "a 1 ; b 2",
              "a  1", ";", ";;",
              # repeated keys: java.util.Properties last-put-wins
              "a 1;a 2", "bbox 1 2 3 4; bbox 5 6 7 8", "a 1;a 2;a 3"]

# Titles the reference CRASHES on (StringIndexOutOfBounds): empty title,
# leading/interior empty segment, whitespace-only trailing segment, segment
# with no post-trim literal space (tabs don't count for indexOf(" ")).
TITLE_BAD = ["", " ", "; ", "a 1; ", "a 1;;b 2", ";a 1", "a 1; ;b 2",
             "abc", "a\t1", "a 1;b", "a 1;\n", "a 1;\r", ";;\n"]


def hocr_with_title(title: str) -> str:
    """A one-word hOCR page whose word carries ``title``.  Tab, LF and CR go
    in as character references so the title parser sees them as written
    (the XML parser turns a literal one in an attribute into a space)."""
    esc = (title.replace("&", "&amp;").replace('"', "&quot;").replace("<", "&lt;")
           .replace("\t", "&#9;").replace("\n", "&#10;").replace("\r", "&#13;"))
    return (
        "<html><head></head><body><div class='ocr_page' id='p1'>"
        f"<span class='ocr_line'><span class='ocrx_word' title=\"{esc}\">w</span></span>"
        "</div></body></html>"
    )


def _title_kernel_vs_oracle(title: str):
    """(kernel props, oracle props) of the one word; None where it crashes."""
    xml = hocr_with_title(title)
    try:
        kernel = _parse_hocr(xml)[2][0]
    except ValueError:
        kernel = None
    op = oracle.parse_hocr(xml)
    return kernel, (None if op.error is not None else op.tokens[0].props)


def test_title_props_fuzz_kernel_matches_oracle():
    """Seeded fuzz over the title grammar's awkward alphabet: the kernel
    crashes exactly where the oracle does and builds the same map otherwise.
    (A title holding \\x0b is not well-formed XML: both sides quarantine the
    whole page.)"""
    rng = random.Random(1234)
    alphabet = ["a", "b", "x1", "bbox", "85.3", ";", " ", "  ", "\t", "\x0b",
                ";;", "; ", " ;", "\n", "\r", "a 1;a 2"]
    titles = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 10)))
              for _ in range(400)]
    outcomes = Counter()
    for t in titles:
        kernel, expected = _title_kernel_vs_oracle(t)
        assert kernel == expected, f"{t!r}: kernel={kernel} oracle={expected}"
        outcomes[kernel is None] += 1
    assert outcomes[True] and outcomes[False], outcomes


@settings(max_examples=300, deadline=None)
@given(st.lists(
    st.tuples(st.text(alphabet=_ALPHABET + "-", min_size=0, max_size=8), st.booleans()),
    min_size=0, max_size=12))
def test_fold_tokens_matches_sequential(toks):
    tokens = [oracle.Token(t, last) for t, last in toks]
    folded, src = _fold_tokens([t for t, _ in toks], [last for _, last in toks])
    assert folded == oracle.final_tokens(tokens)
    assert len(src) == len(folded)
    for k, i in enumerate(src):
        # i is where the k-th surviving fold starts: no fold straddles it,
        # and folding from i on yields that token first
        assert oracle.final_tokens(tokens[:i]) == folded[:k], (k, i)
        assert oracle.final_tokens(tokens[i:])[:1] == [folded[k]], (k, i)


# A script that runs every declared kernel over the span rows on stdin (an
# Arrow IPC stream) and reports its output rows and which of the modules
# pa.array() would have imported are loaded.
_KERNEL_IN_FRESH_PROCESS = """
import json, sys
import pyarrow as pa
from page_evaluator_spark.operators.parse import ALL_COLUMNS, _make_parse_kernel
from page_evaluator_spark.plans.pipeline import BRANCH_COLUMNS

rb = pa.ipc.open_stream(sys.stdin.buffer.read()).read_next_batch()
rows = {}
for name, columns in {"all": ALL_COLUMNS, **BRANCH_COLUMNS}.items():
    out = list(_make_parse_kernel(columns)(iter([rb])))
    for b in out:
        b.validate(full=True)
    rows[name] = sum(b.num_rows for b in out)
print(json.dumps({"rows": rows, "loaded": [m for m in ("pandas", "pyarrow.compute")
                                          if m in sys.modules]}))
"""


def test_kernel_runs_without_pandas_or_pyarrow_compute():
    """The kernel's output arrays are built from buffers: pa.array() would
    import pandas and pyarrow.compute (~40 MB of every Python worker's peak
    RSS).  Checked in a fresh process over every kind of span row."""
    from page_evaluator_spark.corpus import make_hocr

    spans = [
        ("hocr", 0, "hocr", make_hocr([["Quality", "of-"], ["mercy", "\u00e9t\u00e9"]]), None),
        ("txt", 0, "text", "plain w\u00f6rds \U0001f600 here\nnext-\nline", None),
        ("html", 0, "html", "<html><body><p>" + "a paragraph of plain words " * 8
         + "</p></body></html>", None),
        ("media", 1, "image", None, "img://1"),
        ("bad_title", 0, "hocr", make_hocr([["a", "b"]], bad_title_at=1), None),
        ("null_kind", 3, None, "x", None),
        ("zero", None, None, None, None),
        ("blank", 0, "text", "  ", None),
    ]
    names = ["doc_id", "span_offset", "kind", "text", "media_ref"]
    types = [pa.string(), pa.int32(), pa.string(), pa.string(), pa.string()]
    rb = pa.RecordBatch.from_arrays(
        [pa.array(list(c), t) for c, t in zip(zip(*spans), types)], names=names)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as w:
        w.write_batch(rb)
    proc = subprocess.run([sys.executable, "-c", _KERNEL_IN_FRESH_PROCESS],
                          input=sink.getvalue().to_pybytes(), capture_output=True,
                          cwd=str(REPO), timeout=120, check=True)
    report = json.loads(proc.stdout.decode().splitlines()[-1])
    assert report["loaded"] == [], report
    assert len(set(report["rows"].values())) == 1, report["rows"]


_TEXT = st.one_of(st.none(), st.text(), st.sampled_from(["", "\x00", "\U0001f600", "\u00e9"]))
_INT32 = st.one_of(st.none(), st.integers(-2**31, 2**31 - 1))


def _equal(built: pa.Array, expected: pa.Array) -> None:
    built.validate(full=True)
    assert built.type == expected.type
    assert built.equals(expected), (built, expected)


@settings(max_examples=200, deadline=None)
@given(st.lists(_TEXT), st.lists(_INT32))
@example([], [])
@example([None, None], [None, None])
@example(["", "\x00", None, "\U0001f600x", "\u00e9"], [0, None, -1])
def test_buffer_builders_equal_pa_array(strings, ints):
    _equal(parse._string_array(strings), pa.array(strings, pa.string()))
    _equal(parse._int32_array(ints), pa.array(ints, pa.int32()))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), st.lists(_TEXT, max_size=4))),
       st.lists(st.one_of(st.none(), st.dictionaries(st.text(), _TEXT, max_size=3))))
@example([], [])
@example([None], [None])
@example([[], None, [""], ["\x00", None]], [{}, None, {"": None}, {"\U0001f600": "\x00"}])
def test_list_and_map_builders_equal_pa_array(lists, dicts):
    _equal(parse._string_list_array(lists), pa.array(lists, pa.list_(pa.string())))
    _equal(parse._map_array(dicts),
           pa.array([None if d is None else list(d.items()) for d in dicts],
                    pa.map_(pa.string(), pa.string())))
    # the kernel's per-token props: a list of maps parallel to the tokens
    _equal(parse._list_array([len(dicts)], parse._map_array(dicts)),
           pa.array([[None if d is None else list(d.items()) for d in dicts]],
                    pa.list_(pa.map_(pa.string(), pa.string()))))


_SPANS = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def test_null_kind_or_offset_span_is_quarantined(spark):
    """A span with a null kind or offset becomes one quarantine row naming
    the cause; only explode_outer's all-null row of a zero-span or
    null-spans document is the 'no spans' marker."""
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    docs = spark.createDataFrame([
        ("nk", [(None, "x", None, 3), ("text", "good words", None, 0)]),
        ("no", [("text", "hello world", None, None)]),
        ("zero", []),
        ("nul", None),
    ], _SPANS)
    for cache_parsed in (False, True):
        out = evaluate_documents(docs, cache_parsed=cache_parsed)
        q = sorted((r["doc_id"], r["span_ord"], r["error"])
                   for r in out.quarantine.collect())
        assert q == [("nk", 3, "InvalidSpan: null kind"),
                     ("no", None, "InvalidSpan: null offset")], q
        scores = {r["doc_id"]: r for r in out.page_scores.collect()}
        assert sorted(scores) == ["nk", "no", "nul", "zero"]
        assert scores["nk"]["token_count"] == 2
        for d in ("no", "nul", "zero"):
            r = scores[d]
            assert (r["token_count"], r["correctable_score"], r["quality_score"]) \
                == (0, -1.0, -1.0), d
        words = sorted((r["doc_id"], r["text"]) for r in out.spans_out.collect())
        assert words == [("nk", "good"), ("nk", "words")]


def test_pruned_kernels_keep_crash_parity(spark, monkeypatch):
    """Every column subset the pipeline declares yields the same error, page
    and empty rows as the full kernel — dropping `props` from the output
    must not change which spans are quarantined."""
    from page_evaluator_spark.corpus import make_hocr
    from page_evaluator_spark.operators import parse
    from page_evaluator_spark.plans import pipeline

    good = make_hocr([["Quality", "of-"], ["mercy"]])
    docs = spark.createDataFrame([
        ("bad_title", [("hocr", make_hocr([["a", "b"]], bad_title_at=2), None, 0),
                       ("hocr", good, None, 1)]),
        ("no_page", [("hocr", make_hocr([["a"]], with_page=False), None, 0)]),
        ("unknown", [("pdf", "x", None, 0), ("text", "", None, 1)]),
        ("null_kind", [(None, "x", None, 2)]),
        ("media", [("image", None, "img://1", 0)]),
        ("zero", []),
    ], _SPANS)

    declared = []
    real = pipeline.parse_documents

    def recording(d, repartition=None, columns=None):
        declared.append(columns)
        return real(d, repartition=repartition, columns=columns)

    monkeypatch.setattr(pipeline, "parse_documents", recording)
    out = pipeline.evaluate_documents(docs)
    for branch in ("page_scores", "spans_out", "quarantine", "page_meta",
                   "token_props", "parsed"):
        getattr(out, branch)
    assert len(declared) == 6 and None in declared, declared

    marker_kinds = ("error", "page", "empty")
    full = [r for r in real(docs).collect() if r["kind"] in marker_kinds]
    assert {(r["doc_id"], r["kind"]) for r in full} == {
        ("bad_title", "error"), ("bad_title", "page"), ("no_page", "error"),
        ("unknown", "error"), ("unknown", "empty"), ("null_kind", "error"),
        ("zero", "empty")}
    for columns in declared:
        # (doc_id, kind) always; span_offset and error where the subset has them
        keys = [c for c in ("doc_id", "kind", "span_offset", "error")
                if c in (columns or parse.ALL_COLUMNS)]
        got = Counter(tuple(r[c] for c in keys)
                      for r in real(docs, columns=columns).collect()
                      if r["kind"] in marker_kinds)
        assert got == Counter(tuple(r[c] for c in keys) for r in full), columns
