"""Curation operators: connected components, dedup clusters, packing."""

from __future__ import annotations

from .conftest import plan_string


def test_connected_components_known_graph(spark):
    from page_evaluator_spark.operators.curation import connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"),          # chain a-b-c
         ("x", "y"),                      # pair
         ("p", "q"), ("q", "r"), ("r", "s"), ("p", "s")],  # cycle p-q-r-s
        "doc_a string, doc_b string")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x",
                   "p": "p", "q": "p", "r": "p", "s": "p"}


def test_dedup_clusters_collapse_exact_dups(spark):
    from page_evaluator_spark.operators.curation import dedup_clusters

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [("a1", text), ("a2", text), ("a3", text),
         ("z9", "completely different content nothing shared here at all")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()}
    # the three exact dups collapse to the min id; the unrelated doc is not
    # in any candidate pair and therefore absent
    assert got == {"a1": "a1", "a2": "a1", "a3": "a1"}


def test_pack_token_budget_bins_bounded(spark, sf01_dir):
    from page_evaluator_spark.operators.curation import pack_token_budget

    d = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    budget = 512
    packed = pack_token_budget(d, budget=budget, n_shards=16).collect()
    n_docs = d.count()
    assert sum(r["n_docs"] for r in packed) == n_docs
    # contract: every bin with >1 doc stays within budget + one overflowing doc;
    # single-doc bins may be any size (a doc larger than the budget)
    from pyspark.sql import functions as F2

    max_doc = d.select(F2.size(F2.regexp_extract_all(
        "text", F2.lit(r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"), 0)).alias("n")) \
        .agg(F2.max("n")).collect()[0][0]
    for r in packed:
        if r["n_docs"] > 1:
            assert r["total_tokens"] < budget + max_doc
    # bin-count sanity: roughly total/budget bins (straddling docs can shorten
    # a bin; giant docs can skip bins entirely — both bounded per shard)
    total_tokens = sum(r["total_tokens"] for r in packed)
    assert total_tokens // (budget + max_doc) <= len(packed)
    assert len(packed) <= total_tokens // budget + 16  # ≤1 extra bin per shard


def test_connected_components_vs_union_find_adversarial(spark):
    """Ground-truth check vs union-find on random graphs, a 200-node chain
    (diameter stress — pointer doubling must converge in O(log) rounds, and
    plain propagation's old silent-non-convergence bug must stay dead), a
    star and a cycle."""
    import random

    from page_evaluator_spark.operators.curation import connected_components

    def uf(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    rng = random.Random(77)
    cases = []
    for _ in range(4):
        n = rng.randint(5, 30)
        nodes = [f"n{i:03d}" for i in range(n)]
        cases.append([tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(1, n))])
    cases.append([(f"c{i:03d}", f"c{i + 1:03d}") for i in range(200)])
    cases.append([(f"a{i}", f"a{i + 1}") for i in range(9)]
                 + [("z0", f"z{i}") for i in range(1, 5)]
                 + [("y0", "y1"), ("y1", "y2"), ("y2", "y0")])
    for edges in cases:
        nodes = sorted({x for e in edges for x in e})
        exp = uf(edges, nodes)
        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        assert got == exp, f"edges={len(edges)}"


def test_connected_components_reliable_checkpoint_same_result(spark, tmp_path):
    """VERDICT r2 #4: with a checkpoint dir configured the loop truncates
    lineage via RELIABLE checkpoint() (cluster-survivable) and the labels are
    identical to the localCheckpoint fallback."""
    from page_evaluator_spark.operators.curation import connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("d", "e"),   # 5-chain
         ("x", "y"), ("m", "n"), ("n", "o")],
        "doc_a string, doc_b string")
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # fallback path first
    local = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = {r["doc_id"]: r["cluster_id"]
                    for r in connected_components(pairs).collect()}
        import os
        assert any(os.scandir(str(tmp_path / "ckpt")))  # checkpoint files written
    finally:
        sc.setCheckpointDir(None)
    assert reliable == local == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                                 "x": "x", "y": "x", "m": "m", "n": "m", "o": "m"}


def test_benchmark_contamination_counts_and_plan(spark):
    """Decontamination scan (r3): known-gram overlap counts, every input doc
    present (incl. zero-token docs), benchmark matched via BROADCAST join (the
    doc-side gram stream must never shuffle raw)."""
    from page_evaluator_spark.operators.curation import benchmark_contamination

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox jumps"),       # contains 'the quick brown'
         ("d2", "quick brown fox sleeps"),          # contains 'quick brown fox'
         ("d3", "entirely unrelated words here"),
         ("d4", "")],                               # zero tokens
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("the quick brown",), ("quick brown fox",)], "gram string")
    out = benchmark_contamination(docs, bench, shingle_n=3)
    got = {r["doc_id"]: (r["n_contaminated"], r["contaminated"]) for r in out.collect()}
    assert got == {"d1": (2, True),   # both benchmark grams occur in d1
                   "d2": (1, True),
                   "d3": (0, False),
                   "d4": (0, False)}
    plan = plan_string(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]


def test_remove_boilerplate_lines_known(spark):
    """Inter-doc boilerplate removal (r3): a line in >= min_docs distinct docs
    is stripped everywhere, whitespace-only lines survive, dup lines within
    one doc don't trigger removal on their own, and reconstruction preserves
    order."""
    from page_evaluator_spark.operators.curation import remove_boilerplate_lines

    footer = "(c) footer"
    docs = spark.createDataFrame(
        [("d1", f"alpha\n{footer}\nbeta"),
         ("d2", f"{footer}\ngamma"),
         ("d3", f"delta\n  {footer}  "),            # trimmed form matches
         ("d4", "solo\nsolo\nsolo\n\nend"),         # intra-doc dups: 1 doc only
         ("d5", footer)],                            # whole doc is boilerplate
        "doc_id string, text string")
    got = {r["doc_id"]: r for r in
           remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert {d: (r["n_lines"], r["n_removed"], r["clean_text"])
            for d, r in got.items()} == {
        "d1": (3, 1, "alpha\nbeta"),
        "d2": (2, 1, "gamma"),
        "d3": (2, 1, "delta"),
        "d4": (5, 0, "solo\nsolo\nsolo\n\nend"),    # blank line survives
        "d5": (1, 1, ""),
    }
