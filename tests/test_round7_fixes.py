"""Round-7 (optimization round) pins: every restructured operator must be
bit-identical to its pre-optimization form.

  * pagerank_int: the driver-side dimension-graph path == the distributed
    loop (both modes), and the distributed loop == the integer recurrence
    written out literally.
  * textstats: the complement-counted alpha == the replace-then-length
    formulation it replaced, on adversarial inputs.
  * repeated_substrings: the staged-counts form leaves exactly ONE window
    explode (Generate) in the final action's plan — the counting pass runs
    in the materialization, not per consumer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import plan_string


@pytest.fixture(scope="module")
def spark():
    from page_evaluator_spark.session import get_spark

    return get_spark(app_name="round7-tests", master="local[4]")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


PAIRS = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"),
         ("e", "a"), ("x", "a"), ("b", "d"), ("c", "e"), ("e", "b")]
DANGLING_PAIRS = PAIRS + [("a", "sink"), ("c", "sink2")]


@pytest.mark.parametrize("redistribute", [False, True])
def test_pagerank_driver_path_equals_distributed(spark, monkeypatch,
                                                 redistribute):
    from page_evaluator_spark.operators import graph

    e = _edges(spark, DANGLING_PAIRS)
    monkeypatch.setattr(graph, "_DRIVER_EDGE_LIMIT", 10**9)
    drv = sorted(map(tuple, graph.pagerank_int(
        e, iters=7, redistribute_dangling=redistribute).collect()))
    monkeypatch.setattr(graph, "_DRIVER_EDGE_LIMIT", 0)
    dist = sorted(map(tuple, graph.pagerank_int(
        e, iters=7, redistribute_dangling=redistribute).collect()))
    assert drv == dist
    assert len(drv) == 8  # a b c d e x sink sink2


def test_pagerank_distributed_matches_reference_recurrence(
        spark, monkeypatch):
    """The distributed loop against a hand-rolled Python recurrence (the
    pre-r7 semantics), on a graph with duplicate edges and dangling mass."""
    from page_evaluator_spark.operators import graph

    pairs = DANGLING_PAIRS + DANGLING_PAIRS[:4]  # duplicates must collapse
    monkeypatch.setattr(graph, "_DRIVER_EDGE_LIMIT", 0)
    e = _edges(spark, pairs)
    got = {r["node"]: r["rank_i"]
           for r in graph.pagerank_int(e, iters=5,
                                       redistribute_dangling=True).collect()}
    # reference recurrence
    edges = sorted(set(pairs))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    srcs = {s for s, _ in edges}
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    base = graph.PR_FXP // n
    teleport = (graph.PR_FXP * 15) // (100 * n)
    rank = dict.fromkeys(nodes, base)
    for _ in range(5):
        dm = sum(rank[v] for v in nodes if v not in srcs)
        extra = dm * 85 // (100 * n)
        s = dict.fromkeys(nodes, 0)
        for a, b in edges:
            s[b] += rank[a] // deg[a]
        rank = {v: teleport + s[v] * 85 // 100 + extra for v in nodes}
    assert got == rank


def test_textstats_rewrites_equal_old_regex_forms(spark):
    rows = [("",), (None,), (" \t\n\x0b\x0c\r",), ("héllo wörld 123 !?",),
            ("\U0001d518\U0001d52b\U0001d526 \U0001f600 abc",),
            ("中文 字符 123",), ("a-b_c.d,e;f:g!h?i",), ("  padded  ",),
            ("line1\nline2\r\nline3\x0bline4",), ("ALLCAPS 42 #tag",)]
    t = spark.createDataFrame(rows, "text string")
    import page_evaluator_spark.functions.textstats as TS

    old_nonspace = F.length("text") - F.regexp_count("text", F.lit(r"\s"))
    old_alpha = F.length(F.regexp_replace("text", r"[^\p{L}]", ""))
    new_nonspace = TS._nonspace_count(F.col("text"))
    new_alpha = new_nonspace - F.regexp_count(
        "text", F.lit(r"[^\p{L} \t\n\x0B\f\r]"))
    bad = t.select(old_nonspace.alias("a"), new_nonspace.alias("b"),
                   old_alpha.alias("c"), new_alpha.alias("d")) \
           .where("a <> b or c <> d").collect()
    assert bad == []


def test_tokenize_lower_equals_tokenize_normalized(spark):
    """The r7 tokenization shortcut: regexp_extract_all over lower(text) ==
    over lower(trim(regexp_replace(text, \\s+, ' '))) — whitespace never
    appears inside a token, and Java's contextual Σ→ς lowering sees a
    non-letter on either side of a whitespace run both ways."""
    from page_evaluator_spark.operators.dedup import PORTABLE_TOKEN_RE

    rows = [("ΣΟΦΟΣ ΟΔΥΣΣΕΥΣ",), ("ΣΟΦΟΣ\t\nΟΔΥΣΣΕΥΣ  ",), ("Σ",),
            (" Σ \n",), ("İstanbul İ",), ("Wörter\x0bMIT\fUmlauten",),
            ("a-b--c  1\t2\r\n3",), ("",), (None,), ("中文 字符",),
            ("ΑΣ ΒΣ\nΓΣ",), ("ΤΕΛΟΣ.",), ("ΜΕΣΑΙΟΣδ",)]
    t = spark.createDataFrame(rows, "text string")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    old = F.regexp_extract_all(norm, F.lit(PORTABLE_TOKEN_RE), 0)
    new = F.regexp_extract_all(F.lower("text"), F.lit(PORTABLE_TOKEN_RE), 0)
    bad = t.select(old.alias("a"), new.alias("b")).where("a <> b").collect()
    assert bad == []


def test_repeated_substrings_single_explode_in_final_plan(spark):
    from page_evaluator_spark.operators.dedup import repeated_substrings

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3 + str(i))
         for i in range(30)], "doc_id long, text string")
    out = repeated_substrings(docs, width=24, min_docs=2, top_k=10)
    out.collect()
    plan = plan_string(out).split("== Initial Plan ==")[0]
    # exactly one window explode: the recount pass; the counting aggregate
    # ran inside the materialized (checkpointed) counts relation, which
    # appears as a scan (ExistingRDD), not a Generate
    assert plan.count("Generate") == 1, plan
    assert "ExistingRDD" in plan


def _ddl(schema) -> str:
    """`schema` as DDL text that spells out every nullability, nested ones
    included (NOT NULL marks a non-nullable field, element or map value)."""
    from pyspark.sql.types import ArrayType, MapType

    def typ(t):
        if isinstance(t, ArrayType):
            return f"array<{typ(t.elementType)}{'' if t.containsNull else ' NOT NULL'}>"
        if isinstance(t, MapType):
            return (f"map<{typ(t.keyType)},{typ(t.valueType)}"
                    f"{'' if t.valueContainsNull else ' NOT NULL'}>")
        return t.simpleString()

    return ", ".join(f"{f.name} {typ(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
                     for f in schema.fields)


def test_parse_kernel_output_is_column_pruned(spark):
    """Each uncached pipeline branch declares only the parsed columns it
    consumes, so the Arrow boundary ships nothing else (guide §4.1).  The
    kernel emits one row per span — `tokens` carries a span's words, or
    only their count `n_words` when the branch reads no text — and a native
    posexplode_outer turns them back into the parsed relation, whose
    schema (nullability included) and the outputs' are unchanged."""
    import re

    from page_evaluator_spark.plans.pipeline import evaluate_documents

    docs = spark.createDataFrame(
        [(1, [("text", "some words here", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = evaluate_documents(docs)
    crossing = {
        "page_scores": ["doc_id", "kind", "tokens"],
        "spans_out": ["doc_id", "span_offset", "pos", "kind", "tokens", "media_ref"],
        "quarantine": ["doc_id", "span_offset", "kind", "error", "n_words"],
    }
    for branch, expected in crossing.items():
        plan = plan_string(getattr(out, branch))
        args = re.search(r"MapInArrow .*?#\d+, \[([^\]]*)\]", plan)
        assert args, plan
        cols = [c.split("#")[0].strip() for c in args.group(1).split(",")]
        assert cols == expected, (branch, cols)
        assert re.search(r"Generate posexplode\(", plan), plan

    assert {b: _ddl(getattr(out, b).schema) for b in (*crossing, "parsed")} == {
        "page_scores": "doc_id string, token_count int, punct int, "
                       "number_objects int, single_letter int, ge4_repeated int, "
                       "len_gt1_nonalpha int, clean_short int, clean_all_alpha int, "
                       "clean_one_nonalpha int, clean_two_nonalpha int, "
                       "clean_3plus_nonalpha int, correctable_score float, "
                       "quality_score float",
        "spans_out": "doc_id string, ord int NOT NULL, kind string, text string, "
                     "media_ref string",
        "quarantine": "doc_id string, span_ord int, error string",
        "parsed": "doc_id string, span_offset int, pos int, kind string, "
                  "text string, media_ref string, line_idx int, tok_idx int, "
                  "page_id string, ocr_engine string, ocr_capabilities array<string>, "
                  "props map<string,string>, error string",
    }
