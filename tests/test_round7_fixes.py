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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_pack_interleaved_null_spans_cost_zero(spark):
    """ADVICE r6: a NULL spans array must cost 0 (F.size(NULL) is -1 and
    would corrupt bin assignment), matching the DuckDB twin's coalesce."""
    from page_evaluator_spark.operators.media import pack_interleaved_sequences

    docs = spark.createDataFrame(
        [(1, [("text", "five words of real text", None, 0)]),
         (2, None),
         (3, [("image", None, "img://3", 0)])],
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = pack_interleaved_sequences(docs, budget=100, media_tokens=10,
                                     n_shards=2)
    rows = out.collect()
    total_cost = sum(r["total_cost"] for r in rows)
    total_docs = sum(r["n_docs"] for r in rows)
    assert total_docs == 3           # the NULL-spans doc is packed, at cost 0
    assert total_cost == 5 + 0 + 10  # text tokens + empty + one media span
    assert all(r["total_cost"] >= 0 for r in rows)


def test_repeated_substrings_single_explode_in_final_plan(spark):
    from page_evaluator_spark.operators.dedup import repeated_substrings

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3 + str(i))
         for i in range(30)], "doc_id long, text string")
    out = repeated_substrings(docs, width=24, min_docs=2, top_k=10)
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    # exactly one window explode: the recount pass; the counting aggregate
    # ran inside the materialized (checkpointed) counts relation, which
    # appears as a scan (ExistingRDD), not a Generate
    assert plan.count("Generate") == 1, plan
    assert "ExistingRDD" in plan


def test_parse_kernel_output_is_column_pruned(spark):
    """r7: each uncached pipeline branch declares only the parsed columns it
    consumes, so the Arrow boundary never ships the other ten (guide §4.1).
    Pinned on the scores branch: the Python node is MapInArrow and its
    output is exactly (doc_id, kind, text)."""
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    docs = spark.createDataFrame(
        [(1, [("text", "some words here", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    plan = evaluate_documents(docs).page_scores._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInArrow" in plan, plan
    import re
    args = re.search(r"MapInArrow .*?#\d+, \[([^\]]*)\]", plan)
    assert args, plan
    cols = [c.split("#")[0].strip() for c in args.group(1).split(",")]
    assert cols == ["doc_id", "kind", "text"], cols
