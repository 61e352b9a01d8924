"""Round-5 items: PageRank dangling-mass redistribution, the IVF-PQ-backed
kNN eval's agreement with brute force, the zero-norm seed guard, and the
dtype-parity canonicalizer itself."""

from __future__ import annotations

import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from page_evaluator_spark.operators.graph import PR_FXP, pagerank_int

from .conftest import plan_string


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: string, dst: string")


# ---------------------------------------------------------------------------
# VERDICT r4 #6: dangling-mass redistribution
# ---------------------------------------------------------------------------

def test_pagerank_dangling_equals_leaky_on_dangling_free_graph(spark):
    """On a graph where every node has an out-edge, the dm term is always 0,
    so both modes must be BIT-identical (not just close)."""
    cycle = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]
    extra = [("n0", "n3"), ("n2", "n5"), ("n4", "n1")]
    base = {r["node"]: r["rank_i"]
            for r in pagerank_int(_edges(spark, cycle + extra), iters=6).collect()}
    red = {r["node"]: r["rank_i"]
           for r in pagerank_int(_edges(spark, cycle + extra), iters=6,
                                 redistribute_dangling=True).collect()}
    assert base == red


def test_pagerank_dangling_conserves_mass(spark):
    """With redistribution, total integer mass stays ~PR_FXP (only floor-
    division dust is lost); the leaky default drops far more on a graph
    whose sinks hold most of the mass."""
    # star into a sink: all of n1..n5 point at "sink", sink has no out-edges
    pairs = [(f"n{i}", "sink") for i in range(1, 6)] + [("n1", "n2")]
    leaky = pagerank_int(_edges(spark, pairs), iters=8)
    red = pagerank_int(_edges(spark, pairs), iters=8, redistribute_dangling=True)
    n = 6  # nodes: n1..n5 + sink
    mass_leaky = sum(r["rank_i"] for r in leaky.collect())
    mass_red = sum(r["rank_i"] for r in red.collect())
    # redistribution: lost mass bounded by floor-division dust per round/node
    assert PR_FXP - mass_red < 8 * (n + 2) * 100
    # the leaky variant on this sink-heavy graph loses a large share
    assert mass_leaky < 0.7 * PR_FXP


def test_pagerank_dangling_partitioning_invariant(spark):
    """Integer mass + integer redistribution ⇒ bit-identical results at any
    parallelism (the property the whole fixed-point doctrine buys)."""
    rng = random.Random(5)
    pairs = [(f"a{rng.randrange(30)}", f"a{rng.randrange(30)}") for _ in range(80)]
    e = _edges(spark, pairs)
    r1 = {(r["node"], r["rank_i"]) for r in
          pagerank_int(e.repartition(1), iters=5,
                       redistribute_dangling=True).collect()}
    r13 = {(r["node"], r["rank_i"]) for r in
           pagerank_int(e.repartition(13), iters=5,
                        redistribute_dangling=True).collect()}
    assert r1 == r13


# ---------------------------------------------------------------------------
# VERDICT r4 #7: IVF-PQ-backed kNN eval agrees with the brute-force verdict
# ---------------------------------------------------------------------------

def _labeled_clustered_corpus(spark, n_clusters=16, dim=64, seed=3):
    """Clustered embeddings with label = cluster id: corpus ids 0..18*16-1,
    held-out queries at ids 400..431 (two per cluster) so the queries-level
    400 split convention holds."""
    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]

    def vec(c):
        return [float(centers[c][d] + rng.gauss(0, 0.12)) for d in range(dim)]

    rows = [(i, vec(i % n_clusters), i % n_clusters)
            for i in range(18 * n_clusters)]
    rows += [(400 + j, vec(j % n_clusters), j % n_clusters) for j in range(32)]
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: int")


def test_knn_ivfpq_agrees_with_brute_force(spark):
    from page_evaluator_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_ann_topk,
    )
    from page_evaluator_spark.queries import _knn_verdict

    e = _labeled_clustered_corpus(spark)
    corpus = e.where(F.col("vec_id") < 400)
    held = (e.where(F.col("vec_id") >= 400)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    bf = {r["query_id"]: r for r in
          _knn_verdict(brute_force_topk(corpus, held, k=10), corpus, e).collect()}
    iv = {r["query_id"]: r for r in
          _knn_verdict(ivfpq_ann_topk(corpus, held, k=10, n_cells=16, nprobe=4,
                                      kmeans_rounds=1, m=8, n_codes=16),
                       corpus, e).collect()}
    assert set(bf) == set(iv) and len(bf) == 32
    bf_acc = sum(r["correct"] for r in bf.values()) / len(bf)
    iv_acc = sum(r["correct"] for r in iv.values()) / len(iv)
    agree = sum(bf[q]["pred_label"] == iv[q]["pred_label"] for q in bf) / len(bf)
    # on a separable corpus the eval verdicts must essentially coincide —
    # this is what makes the IVF-PQ eval a usable stand-in at scale
    assert bf_acc >= 0.9, bf_acc
    assert iv_acc >= 0.85, iv_acc
    assert agree >= 0.85, agree


# ---------------------------------------------------------------------------
# ADVICE r4: zero-norm seed guard
# ---------------------------------------------------------------------------

def test_ivf_centroids_rejects_zero_norm_seed(spark):
    from page_evaluator_spark.operators.similarity import ivf_centroids

    rows = [(i, [0.0] * 8 if i == 2 else [float(i + 1)] * 8) for i in range(8)]
    e = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="zero-norm"):
        ivf_centroids(e, 4)


# ---------------------------------------------------------------------------
# r5 harness: dtype canonicalizer sanity (the gate that catches twin drift)
# ---------------------------------------------------------------------------

def test_dtype_canonicalizer_tokens():
    from tests.test_queries import _canon_duck, _canon_spark

    assert _canon_duck("HUGEINT") == "int128"
    assert _canon_duck("BIGINT") == _canon_spark("bigint") == "int64"
    assert _canon_duck("BIGINT[]") == _canon_spark("array<bigint>") \
        == "array<int64>"
    assert _canon_duck("DECIMAL(38,0)") == _canon_spark("decimal(38,0)") \
        == "decimal(38,0)"
    # nested containers (code-review r5: the flat regex version false-failed)
    assert _canon_duck("BIGINT[][]") == _canon_spark("array<array<bigint>>") \
        == "array<array<int64>>"
    assert _canon_duck("STRUCT(a BIGINT, b VARCHAR)") == \
        _canon_spark("struct<a:bigint,b:string>") == "struct<a:int64,b:str>"
    assert _canon_duck("MAP(VARCHAR, BIGINT)") == \
        _canon_spark("map<string,bigint>") == "map<str,int64>"
    assert _canon_duck("STRUCT(a DOUBLE[])") == \
        _canon_spark("struct<a:array<double>>") == "struct<a:array<float64>>"
    # the class of failure r4 shipped: HUGEINT != int64
    assert _canon_duck("HUGEINT") != _canon_spark("bigint")


# ---------------------------------------------------------------------------
# r5: temperature mixture resampling + DSIR-shaped importance sampling
# ---------------------------------------------------------------------------

def _mix_docs(spark, seed=11):
    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "kappa"]
    rows = []
    did = 0
    for s, n_docs in [("big", 60), ("mid", 25), ("small", 8)]:
        for _ in range(n_docs):
            rows.append((did, s, " ".join(rng.choice(words)
                                          for _ in range(rng.randrange(5, 40)))))
            did += 1
    return spark.createDataFrame(rows, "doc_id: long, source: string, text: string")


def test_domain_mixture_quota_and_flattening(spark):
    from page_evaluator_spark.operators.curation import domain_mixture_sample

    out = {r["source"]: r for r in
           domain_mixture_sample(_mix_docs(spark), budget_pct=50).collect()}
    assert set(out) == {"big", "mid", "small"}
    total = sum(r["total_tokens"] for r in out.values())
    assert sum(r["target_tokens"] for r in out.values()) <= total * 50 // 100
    for r in out.values():
        assert r["kept_tokens"] <= r["target_tokens"]
        assert 0 < r["kept_docs"] <= 1 + r["kept_tokens"]  # docs are non-empty
    # α=0.5 flattens: the smallest source keeps a LARGER fraction of its
    # tokens than the biggest one
    frac = {s: r["target_tokens"] / r["total_tokens"] for s, r in out.items()}
    assert frac["small"] > frac["big"]


def test_domain_mixture_partitioning_invariant(spark):
    from page_evaluator_spark.operators.curation import domain_mixture_sample

    d = _mix_docs(spark, seed=4)
    a = sorted(map(tuple, domain_mixture_sample(d.repartition(1)).collect()))
    b = sorted(map(tuple, domain_mixture_sample(d.repartition(13)).collect()))
    assert a == b


def test_mixture_targets_reject_unsupported_alpha(spark):
    from page_evaluator_spark.operators.curation import domain_mixture_sample

    with pytest.raises(ValueError, match="alpha"):
        domain_mixture_sample(_mix_docs(spark), alpha_num=3, alpha_den=4)


def test_dsir_selects_target_like_docs_and_is_deterministic(spark):
    from page_evaluator_spark.operators.curation import dsir_importance_sample
    from page_evaluator_spark.functions.textstats import quality_score

    rng = random.Random(9)
    rows = []
    # half the corpus: clean alpha-rich prose (high quality -> target slice);
    # half: punctuation soup (low quality)
    for i in range(60):
        rows.append((i, " ".join(rng.choice(["amber", "birch", "cedar", "dune"])
                                 for _ in range(25))))
    for i in range(60, 120):
        rows.append((i, " ".join(rng.choice(["#!?", "%%%", "@@"])
                                 for _ in range(25))))
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    top = dsir_importance_sample(d, top_k=30).collect()
    assert len(top) == 30
    # importance resampling must pull from the target-like (clean) half
    clean_share = sum(1 for r in top if r["doc_id"] < 60) / 30
    assert clean_share >= 0.9, clean_share
    a = sorted(map(tuple, dsir_importance_sample(d.repartition(1), top_k=30).collect()))
    b = sorted(map(tuple, dsir_importance_sample(d.repartition(11), top_k=30).collect()))
    assert a == b


def test_html_block_scores_discriminates_nav_from_content(spark, sf01_dir):
    from page_evaluator_spark.queries import html_block_scores

    rows = html_block_scores(spark, sf01_dir).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    sample = by_doc[sorted(by_doc)[0]]
    # wrapper layout: block 0 = nav (link-dense), 1..2 = content halves,
    # 3 = footer link, plus a trailing empty split
    nav = sample[0]
    assert nav["link_density"] > 0.33 and not nav["kept"]
    content = [r for r in sample if r["block_idx"] in (1, 2)]
    assert all(r["link_len"] == 0 for r in content)
    # long docs: both halves kept
    longdocs = [d for d, rs in by_doc.items()
                if all(r["text_len"] >= 25 for r in rs if r["block_idx"] in (1, 2))]
    assert longdocs, "corpus should contain docs with >=50-char texts"
    for d in longdocs[:5]:
        assert all(r["kept"] for r in by_doc[d] if r["block_idx"] in (1, 2))


# ---------------------------------------------------------------------------
# r5: exact-substring candidate stage + BPE encode pass
# ---------------------------------------------------------------------------

def test_repeated_substrings_finds_planted_span(spark):
    from page_evaluator_spark.operators.dedup import repeated_substrings

    planted = "the quick brown fox jumps over the lazy dog"
    rng = random.Random(2)
    rows = []
    for i in range(20):
        filler = " ".join(rng.choice(["x", "yz", "qqq"]) for _ in range(30))
        text = filler + " " + planted if i % 4 == 0 else filler
        rows.append((i, text))
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = repeated_substrings(d, width=24, min_docs=2, top_k=50).collect()
    assert out, "planted span must surface"
    assert any(r["span"] in planted and r["n_docs"] >= 5 for r in out)
    # short docs (< width chars) must not contribute windows
    short = spark.createDataFrame([(0, "tiny"), (1, "tiny")],
                                  "doc_id: long, text: string")
    assert repeated_substrings(short, width=24).count() == 0


def test_bpe_encode_counts_invariants(spark):
    from page_evaluator_spark.operators.tokenizer import bpe_encode_counts

    rows = [(i, "banana band bandana " * 3) for i in range(6)]
    rows += [(10, "zzz"), (11, "")]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    enc0 = {r["doc_id"]: r for r in bpe_encode_counts(d, n_merges=0).collect()}
    enc4 = {r["doc_id"]: r for r in bpe_encode_counts(d, n_merges=4).collect()}
    # zero merges: every char is a symbol
    for did, r in enc0.items():
        assert r["n_bpe_syms"] == r["n_base_syms"]
    # merges strictly compress the repetitive docs, never expand any doc
    for did, r in enc4.items():
        assert r["n_bpe_syms"] <= r["n_base_syms"]
    assert enc4[0]["n_bpe_syms"] < enc4[0]["n_base_syms"]
    # the empty doc has no words -> no row (documented inner semantics)
    assert 11 not in enc4
    # deterministic across partitionings
    a = sorted(map(tuple, bpe_encode_counts(d.repartition(1), 4).collect()))
    b = sorted(map(tuple, bpe_encode_counts(d.repartition(7), 4).collect()))
    assert a == b


def test_bpe_encode_twin_survives_merge_exhaustion(spark, ddb_tiny=None):
    """code-review r5: when the corpus supports fewer merges than n_merges,
    bpe_train breaks early; the encode twin's u-chain must degrade the same
    way (LEFT JOIN ON TRUE), not cross-join against an empty best{r}."""
    import duckdb

    from page_evaluator_spark.operators.tokenizer import bpe_encode_counts
    from page_evaluator_spark.queries import _bpe_encode_sql

    d = spark.createDataFrame([(1, "ab ab ab"), (2, "ab cd")],
                              "doc_id: long, text: string")
    sp = sorted(map(tuple, bpe_encode_counts(d, n_merges=8).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS "
                "SELECT 1 AS doc_id, 'ab ab ab' AS text UNION ALL SELECT 2, 'ab cd'")
    op = sorted(map(tuple, con.sql(_bpe_encode_sql(8)).fetchall()))
    assert sp == op and len(sp) == 2


# ---------------------------------------------------------------------------
# r5: streaming incremental dedup (stream-static band join)
# ---------------------------------------------------------------------------

def test_minhash_band_keys_expr_matches_agg_path(spark, sf01_dir):
    from page_evaluator_spark.operators.dedup import (
        minhash_band_key_array,
        minhash_band_keys_expr,
        minhash_signatures_agg,
    )

    d = spark.read.parquet(f"{sf01_dir}/documents.parquet").limit(120)
    agg = {r["doc_id"]: sorted(r["ks"]) for r in
           minhash_signatures_agg(d)
           .select("doc_id", minhash_band_key_array(16, 4).alias("ks")).collect()}
    row = {r["doc_id"]: sorted(r["ks"]) for r in
           d.select("doc_id", minhash_band_keys_expr(F.col("text")).alias("ks"))
           .where(F.col("ks").isNotNull()).collect()}
    assert agg == row


# ---------------------------------------------------------------------------
# r5: plan-shape pins for the new window queries (the properties that keep
# them viable at 100 TB — regressions here matter more than wall time)
# ---------------------------------------------------------------------------

def test_r5_plan_shapes(spark, sf01_dir):
    from page_evaluator_spark import queries as Q

    # DSIR + repeated_substrings: top-k must be TakeOrderedAndProject
    # (per-partition heaps), never a one-partition global rank window
    for name in ("dsir_importance_sample", "repeated_substrings"):
        plan = plan_string(Q.QUERIES[name](spark, sf01_dir))
        assert "TakeOrderedAndProject" in plan, name
    # DSIR's 256-row ratio table must broadcast, not sort-merge
    plan = plan_string(Q.QUERIES["dsir_importance_sample"](spark, sf01_dir))
    assert "SortMergeJoin" not in plan
    # mixture: the |sources|-row target table joins broadcast; no cartesian
    plan = plan_string(Q.QUERIES["domain_mixture_sample"](spark, sf01_dir))
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    # source prior: the final composed plan (candidate bands + rollup join;
    # the PageRank rounds live behind their lineage truncation) must stay
    # equi-join-only — no cartesian anywhere
    plan = plan_string(Q.QUERIES["curation_source_prior"](spark, sf01_dir))
    assert "CartesianProduct" not in plan
    # captions: single window pass, no join of any kind
    plan = plan_string(Q.QUERIES["ocr_media_captions"](spark, sf01_dir))
    assert "Join" not in plan and "Window" in plan


# ---------------------------------------------------------------------------
# r5: mixture / dsir as opt-in curation stages
# ---------------------------------------------------------------------------

def test_curation_mixture_and_dsir_stages(spark, tmp_path):
    from jobs.run_curation import parse_args, run

    rng = random.Random(21)
    rows = []
    did = 0
    for s, n in [("big", 40), ("small", 6)]:
        for _ in range(n):
            rows.append((str(did), " ".join(
                rng.choice(["amber", "birch", "cedar", "dune", "elm"])
                for _ in range(20)), "en", s))
            did += 1
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id: string, text: string, lang: string,"
                          " source: string").write.parquet(src)

    counts = run(spark, parse_args(
        ["--input", src, "--output", str(tmp_path / "o1"),
         "--stages", "mixture", "--mixture-budget-pct", "50"]))
    # ~half the tokens survive; every doc uniform 20 tokens -> roughly half
    assert 0 < counts["kept"] < counts["input"]
    audit = {r["doc_id"]: r["drop_stage"] for r in
             spark.read.parquet(str(tmp_path / "o1/curation_audit")).collect()}
    assert "mixture" in set(audit.values())

    counts2 = run(spark, parse_args(
        ["--input", src, "--output", str(tmp_path / "o2"),
         "--stages", "dsir", "--dsir-top-k", "10"]))
    assert counts2["kept"] == 10
    assert counts2["dropped_dsir"] == counts2["input"] - 10

    # mixture without a source column fails loudly
    src2 = str(tmp_path / "nosrc")
    spark.createDataFrame([("1", "hello world", "en")],
                          "doc_id: string, text: string, lang: string") \
        .write.parquet(src2)
    with pytest.raises(ValueError, match="source"):
        run(spark, parse_args(["--input", src2, "--output",
                               str(tmp_path / "o3"), "--stages", "mixture"]))


def test_mixture_rejects_null_sources_and_cli_ranges(spark, tmp_path):
    from page_evaluator_spark.operators.curation import domain_mixture_sample

    d = spark.createDataFrame([("1", "hello world", None), ("2", "hi", "a")],
                              "doc_id: string, text: string, source: string")
    with pytest.raises(ValueError, match="NULL"):
        domain_mixture_sample(d)

    from jobs.run_curation import parse_args

    for bad in (["--mixture-budget-pct", "0"], ["--mixture-budget-pct", "101"],
                ["--dsir-top-k", "0"]):
        with pytest.raises(SystemExit):
            parse_args(["--input", "i", "--output", "o"] + bad)


def test_repeated_substrings_counts_verified_independently(spark, sf01_dir):
    """Independent recount: every returned span must actually occur in
    n_docs distinct normalized documents with n_occ total occurrences —
    verified with plain Python string scanning (no Spark, no SQL)."""
    import re

    from page_evaluator_spark.queries import repeated_substrings as q

    out = q(spark, sf01_dir).collect()
    assert out
    texts = {r["doc_id"]: re.sub(r"[ \t\n\x0B\f\r]+", " ", r["text"] or "")
             .strip().lower()
             for r in spark.read.parquet(f"{sf01_dir}/documents.parquet")
             .collect()}

    def occurrences(t, span):
        n = start = 0
        while True:
            i = t.find(span, start)
            if i < 0:
                return n
            n += 1
            start = i + 1  # overlapping windows count, like the explode

    for r in out[:25]:  # spot-verify the top rows
        per_doc = [occurrences(t, r["span"]) for t in texts.values()]
        assert sum(1 for c in per_doc if c) == r["n_docs"], r["span"]
        assert sum(per_doc) == r["n_occ"], r["span"]


def test_corpus_report_null_text_parity(spark):
    """code-review r5: NULL text must coalesce identically on both sides —
    Spark windows sort a NULL bucket first, DuckDB last, which skewed the
    percentiles apart before the coalesce."""
    import duckdb

    from page_evaluator_spark.queries import _CORPUS_REPORT_SQL, corpus_report

    rows = [(i, f"alpha beta gamma delta {'x ' * i}", "en", "s1", 0)
            for i in range(8)]
    rows += [(100, None, "en", "s2", 0), (101, None, "de", "s2", 0)]
    import tempfile

    d = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string,"
              " n_chars: long")
    path = tempfile.mkdtemp(prefix="rep_") + "/documents.parquet"
    d.write.parquet(path)
    sp = corpus_report(spark, str(Path(path).parent)).toPandas()
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    op = con.sql(_CORPUS_REPORT_SQL).df()[list(sp.columns)]
    assert sp.astype("float64").round(6).equals(op.astype("float64").round(6)), \
        (sp.to_string(), op.to_string())
    # the two NULL-text docs share the empty fingerprint -> one dup
    assert int(sp["dup_docs"][0]) == 1
