"""Round-6 regression pins: the sharded mixture selection (VERDICT r5 #1),
the hash-first repeated-substring counting pass (VERDICT r5 #3 / ADVICE r5),
and the exact-substring dedup completion (VERDICT r5 #5).
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from .conftest import plan_string


def _mix_docs(spark, seed=11):
    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "kappa"]
    rows = []
    did = 0
    for s, n_docs in [("big", 220), ("mid", 40), ("small", 9)]:
        for _ in range(n_docs):
            rows.append((did, s, " ".join(rng.choice(words)
                                          for _ in range(rng.randrange(0, 40)))))
            did += 1
    return spark.createDataFrame(rows, "doc_id: long, source: string, text: string")


def _brute_mixture_keep(docs):
    """The r4 single-window reference form: one cumulative-sum window
    partitioned by source alone.  Kept as the test-only semantics oracle
    for the sharded selection."""
    from page_evaluator_spark.functions.textstats import PORTABLE_TOKEN_RE
    from page_evaluator_spark.operators.curation import _targets_from_totals

    n_tok = F.size(F.regexp_extract_all(F.col("text"),
                                        F.lit(PORTABLE_TOKEN_RE), 0))
    # per-source quotas from one plain groupBy (the sharded path derives
    # its totals from per-shard stats instead)
    toks = F.regexp_count(F.col("text"), F.lit(PORTABLE_TOKEN_RE)).cast("long")
    totals = sorted((r["source"], int(r["toks"])) for r in docs.groupBy("source")
                    .agg(F.coalesce(F.sum(toks), F.lit(0)).alias("toks")).collect())
    tgt = docs.sparkSession.createDataFrame(
        _targets_from_totals(totals, 2, 50),
        "source: string, total_tokens: long, target_tokens: long")
    base = docs.select(F.col("doc_id"), "source",
                       n_tok.cast("long").alias("n_tok"),
                       F.md5(F.col("doc_id").cast("string")).alias("shuf"))
    w = (Window.partitionBy("source").orderBy("shuf", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = base.withColumn("cum", F.sum("n_tok").over(w)).join(tgt, "source")
    return cum.where(F.col("cum") <= F.col("target_tokens")).select("doc_id")


def test_sharded_mixture_keep_set_identical_to_single_window(spark):
    from page_evaluator_spark.operators.curation import domain_mixture_keep

    d = _mix_docs(spark)
    got = sorted(r["doc_id"] for r in domain_mixture_keep(d).collect())
    ref = sorted(r["doc_id"] for r in _brute_mixture_keep(d).collect())
    assert got == ref and len(got) > 0


def test_mixture_windows_never_partition_by_source_alone(spark):
    """The scale pin for VERDICT r5 #1: every per-doc window in the mixture
    plans must partition by (source, shard) — a dominant source may never
    funnel through one cumulative-sum task again."""
    from page_evaluator_spark.operators.curation import (
        domain_mixture_keep,
        domain_mixture_sample,
    )

    d = _mix_docs(spark)
    for df in (domain_mixture_sample(d), domain_mixture_keep(d)):
        plan = plan_string(df)
        specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
        assert specs, "expected the boundary-shard window in the plan"
        for spec in specs:
            assert "shard" in spec, f"window not sharded: {spec}"


def test_mixture_boundary_window_input_is_boundary_only(spark):
    """At most ONE boundary shard per source; the windowed frame holds only
    those shards' docs — a small fraction of the corpus."""
    from page_evaluator_spark.operators.curation import (
        _boundary_cum,
        _mixture_selection,
    )

    d = _mix_docs(spark)
    sel, keepall = _mixture_selection(d, 1, 2, 50, "text", "source", "doc_id")
    per_cls = {r["cls"]: r["n"] for r in
               sel.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    n_bnd_shards = (sel.where(F.col("cls") == "boundary")
                    .select("source", "shard").distinct().count())
    assert n_bnd_shards <= 3  # one per source
    assert per_cls.get("boundary", 0) < d.count()
    # boundary window sees exactly the boundary rows
    assert _boundary_cum(sel).count() == per_cls.get("boundary", 0)
    # keep-all partials exist for every source
    assert {r[0] for r in keepall} == {"big", "mid", "small"}


def test_repeated_substrings_counting_shuffle_carries_hashes_only(spark):
    """ADVICE r5 / VERDICT r5 #3: the corpus-wide counting agg groups by
    xxhash64(span); no Exchange in the counting pass carries the substring
    column."""
    from page_evaluator_spark.operators.dedup import (
        _span_hash_counts,
        _span_windows,
    )

    d = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(6)],
        "doc_id: long, text: string")
    counts = _span_hash_counts(_span_windows(d, 24, "text", "doc_id"), 2)
    plan = plan_string(counts)
    assert "xxhash64" in plan
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "span" not in part, f"counting shuffle carries span text: {part}"


def test_repeated_substrings_matches_brute_text_grouping(spark):
    from page_evaluator_spark.operators.dedup import (
        _span_windows,
        repeated_substrings,
    )

    rng = random.Random(3)
    shared = "shared boilerplate sentence that repeats everywhere verbatim"
    rows = []
    for i in range(40):
        filler = " ".join(rng.choice(["aa", "bb", "cc", "dd"]) for _ in range(30))
        rows.append((i, filler + (" " + shared if i % 2 == 0 else "")))
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = [tuple(r) for r in repeated_substrings(d, width=24, top_k=25).collect()]
    brute = (_span_windows(d, 24, "text", "doc_id")
             .groupBy("span")
             .agg(F.countDistinct("doc_id").alias("n_docs"),
                  F.count("*").alias("n_occ"))
             .where(F.col("n_docs") >= 2)
             .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "span")
             .limit(25))
    assert got == [tuple(r) for r in brute.collect()] and len(got) == 25


def test_repeated_substrings_empty_result_schema(spark):
    from page_evaluator_spark.operators.dedup import repeated_substrings

    d = spark.createDataFrame([(1, "abcdefgh"), (2, "zzzzyyyy")],
                              "doc_id: long, text: string")
    out = repeated_substrings(d, width=24)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["span", "n_docs", "n_occ"]


# ---------------------------------------------------------------------------
# r6: daily-ingest dedup mode (the consumer of the r5 incremental machinery)
# ---------------------------------------------------------------------------

_INGEST_TEXTS = {
    "ref": "alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron",
    "uniq_a": "crimson harbor lantern meadow orchard prairie quarry "
              "ridge summit thicket valley willow yonder zephyr arbor",
    "uniq_b": "anchor bridge cascade dynamo engine furnace glacier "
              "harvest island journey kestrel lagoon meridian nomad oasis",
    "uniq_c": "pixel quartz raster shader texture uniform vertex "
              "wavelet xenon yield zoom aperture bokeh contrast depth",
}


def _land(spark, land_dir, rows):
    spark.createDataFrame(rows, "doc_id: string, text: string") \
        .coalesce(1).write.mode("append").parquet(str(land_dir))


def test_daily_ingest_dedup_two_days(spark, tmp_path):
    from jobs.run_ingest import parse_args, run

    ref = str(tmp_path / "ref")
    spark.createDataFrame([("r1", _INGEST_TEXTS["ref"])],
                          "doc_id: string, text: string").write.parquet(ref)
    land = tmp_path / "land"
    out = str(tmp_path / "out")

    def day(rid):
        return parse_args(["--new", str(land), "--output", out,
                           "--run-id", rid, "--reference", ref])

    # day 1: one dup of the reference, two fresh docs
    _land(spark, land, [("n1", _INGEST_TEXTS["ref"]),
                        ("n2", _INGEST_TEXTS["uniq_a"]),
                        ("n3", _INGEST_TEXTS["uniq_b"])])
    c1 = run(spark, day("d1"))
    assert (c1["processed"], c1["duplicates"], c1["survivors"]) == (3, 1, 2)

    # day 2: one dup of a DAY-1 SURVIVOR (the index grew), one dup of the
    # BOOTSTRAP reference (code-review r6: the overwrite/append layout split
    # silently dropped bootstrap bands from day 2 on), one fresh doc
    _land(spark, land, [("n4", _INGEST_TEXTS["uniq_a"]),
                        ("n6", _INGEST_TEXTS["ref"]),
                        ("n5", _INGEST_TEXTS["uniq_c"])])
    c2 = run(spark, day("d2"))
    assert (c2["processed"], c2["duplicates"], c2["survivors"]) == (3, 2, 1)
    assert c2["index_size"] > c1["index_size"]

    clean = spark.read.parquet(f"{out}/clean_new")
    assert sorted(r["doc_id"] for r in clean.collect()) == ["n2", "n3", "n5"]

    # re-running day 2 with no new files replays nothing and changes nothing
    c2b = run(spark, day("d2"))
    assert c2b == c2
    clean2 = spark.read.parquet(f"{out}/clean_new")
    assert sorted(r["doc_id"] for r in clean2.collect()) == ["n2", "n3", "n5"]

    # a fresh run-id with no new files is a clean no-op
    c3 = run(spark, day("d3"))
    assert (c3["processed"], c3["duplicates"], c3["survivors"]) == (0, 0, 0)


def test_daily_ingest_empty_landing_dir_is_noop(spark, tmp_path):
    """Code-review r6: a scheduled run before the first files land must be
    a clean no-op (bootstrap + zero counts), not a schema-inference crash."""
    from jobs.run_ingest import parse_args, run

    ref = str(tmp_path / "ref")
    spark.createDataFrame([("r1", _INGEST_TEXTS["ref"])],
                          "doc_id: string, text: string").write.parquet(ref)
    c = run(spark, parse_args(
        ["--new", str(tmp_path / "never_created"), "--output",
         str(tmp_path / "out"), "--run-id", "d0", "--reference", ref]))
    assert (c["processed"], c["duplicates"], c["survivors"]) == (0, 0, 0)
    assert c["index_size"] > 0  # the bootstrap still happened


def test_ingest_run_id_validation():
    from jobs.run_ingest import parse_args

    with pytest.raises(SystemExit):
        parse_args(["--new", "x", "--output", "y", "--run-id", "d'1"])


# ---------------------------------------------------------------------------
# r6: exact-substring dedup completion (Lee et al. 2021 removal stage)
# ---------------------------------------------------------------------------

def _py_exact_substring(docs: dict, width: int = 24, min_docs: int = 2):
    """Pure-Python reference for exact_substring_clean: same whitespace
    collapse ([ \\t\\n\\x0B\\f\\r] is Java's \\s — Python's is Unicode-wide),
    CASE-SENSITIVE matching, same canonical-first-occurrence rule, interval
    merge by slicing; untouched docs pass through verbatim."""
    norm = {k: re.sub(r"[ \t\n\x0B\f\r]+", " ", v).strip()
            for k, v in docs.items()}
    occ: dict[str, list] = {}
    for did in sorted(norm):
        t = norm[did]
        for i in range(len(t) - width + 1):
            occ.setdefault(t[i:i + width], []).append((did, i + 1))
    rm: dict = {}
    for lst in occ.values():
        if len({d for d, _ in lst}) >= min_docs:
            canon = min(lst)
            for d, p in lst:
                if (d, p) != canon:
                    rm.setdefault(d, set()).add(p)
    out = {}
    for did, t in norm.items():
        ps = sorted(rm.get(did, ()))
        if not ps:
            out[did] = (docs[did], 0, 0)  # verbatim, original whitespace
            continue
        cleaned, n_spans, chars = t[:ps[0] - 1], 1, width
        for prev, cur in zip(ps, ps[1:]):
            gap = cur - prev
            if gap > width:
                n_spans += 1
            chars += min(gap, width)
            cleaned += t[prev + width - 1:cur - 1]
        cleaned += t[ps[-1] + width - 1:]
        out[did] = (cleaned, n_spans, chars)
    return out


def test_exact_substring_clean_matches_python_reference(spark):
    from page_evaluator_spark.operators.dedup import exact_substring_clean

    rng = random.Random(17)
    vocab = ["amber", "birch", "cedar", "dune", "elm", "fern", "grove"]
    passage_a = "the very same duplicated training passage appears here"
    passage_b = "another big shared chunk of boilerplate text to strip"
    docs = {}
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randrange(4, 25))]
        txt = " ".join(words)
        if i % 3 == 0:
            txt += "  " + passage_a  # double space: normalization folds it
        if i % 5 == 0:
            txt = passage_b + " " + txt
        docs[i] = txt
    d = spark.createDataFrame(list(docs.items()), "doc_id: long, text: string")
    got = {r["doc_id"]: (r["text_clean"], r["n_spans_removed"],
                         r["chars_removed"])
           for r in exact_substring_clean(d, width=24).collect()}
    ref = _py_exact_substring(docs, width=24)
    assert got == ref
    # the canonical first occurrence survives somewhere
    assert any(passage_a in t for t, _, _ in got.values())
    assert any(passage_b in t for t, _, _ in got.values())
    # and the duplicates were actually cut
    assert sum(passage_a in t for t, _, _ in got.values()) == 1
    assert sum(passage_b in t for t, _, _ in got.values()) == 1


def test_exact_substring_is_case_sensitive_and_case_preserving(spark):
    """Code-review r6: matching is case-SENSITIVE (the Lee et al. raw-byte
    contract) and the rewrite never lowercases — an uppercased variant of a
    duplicated passage is different text and must survive verbatim."""
    from page_evaluator_spark.operators.dedup import exact_substring_clean

    passage = "This Duplicated Passage Keeps Its Capital Letters Intact"
    rows = [(1, "head one " + passage), (2, passage + " tail two"),
            (3, "head three " + passage.upper())]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in exact_substring_clean(d, width=24).collect()}
    assert passage in out[1]["text_clean"]       # canonical keeps case
    assert passage not in out[2]["text_clean"]   # duplicate cut
    assert out[3]["n_spans_removed"] == 0        # different bytes — no match
    assert out[3]["text_clean"] == rows[2][1]    # verbatim passthrough


def test_exact_substring_position_shuffles_carry_hashes_only(spark):
    from page_evaluator_spark.operators.dedup import _dup_window_positions

    d = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(4)],
        "doc_id: long, text: string")
    plan = plan_string(_dup_window_positions(d, 24, 2, "text", "doc_id"))
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "span" not in part and "t#" not in part, \
            f"position shuffle carries text: {part}"


def test_curation_exact_substring_stage(spark, tmp_path):
    from jobs.run_curation import parse_args, run

    passage = "a long duplicated passage planted verbatim in two documents"
    rows = [("0", "first doc unique words " + passage, "en"),
            ("1", passage + " second doc with its own tail", "en"),
            ("2", "a third document with nothing in common at all", "en")]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id: string, text: string, lang: string") \
        .write.parquet(src)
    counts = run(spark, parse_args(
        ["--input", src, "--output", str(tmp_path / "o1"),
         "--stages", "exact_substring"]))
    assert counts["kept"] == counts["input"] == 3  # rewrites, never drops
    assert counts["substring_cleaned_docs"] == 1
    assert counts["substring_removed_chars"] > 0
    clean = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(str(tmp_path / "o1/clean_docs")).collect()}
    assert passage in clean["0"]        # canonical occurrence kept
    assert passage not in clean["1"]    # duplicate cut
    assert clean["2"] == rows[2][1]     # untouched (already normalized)


def test_curation_substring_width_validation():
    from jobs.run_curation import parse_args

    with pytest.raises(SystemExit):
        parse_args(["--input", "x", "--output", "y",
                    "--stages", "exact_substring", "--substring-width", "4"])


def test_mixture_zero_token_docs_and_empty_source_edge(spark):
    """Zero-token docs sort inside shards like any other row and are kept
    while cum <= target (cum unchanged) — parity with the single-window
    form on a corpus dense in empty texts."""
    from page_evaluator_spark.operators.curation import domain_mixture_keep

    rows = [(i, "only", "" if i % 3 else "alpha beta gamma") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    got = sorted(r["doc_id"] for r in domain_mixture_keep(d).collect())
    ref = sorted(r["doc_id"] for r in _brute_mixture_keep(d).collect())
    assert got == ref


def test_eval_split_is_keyed_by_content_not_doc_id(spark):
    """The leakage contract itself: byte-identical texts land in the SAME
    split regardless of doc_id or source — a doc_id-keyed bucket (the
    obvious 'fix' that reintroduces C4-style eval leakage) passes engine
    parity but fails this."""
    import pandas as pd

    from page_evaluator_spark import queries as Q

    texts = ["the quick brown fox %d" % i for i in range(40)]
    rows = []
    for i, t in enumerate(texts):
        # every text appears under TWO different doc_ids and sources
        rows.append((i, t, "en", "src_a", len(t)))
        rows.append((10_000 + i, t, "en", "src_b", len(t)))
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = Q.EXTRA_QUERIES["eval_split_assignment"](spark, d).collect()
    # per (source, split) the content-class count must be IDENTICAL across
    # the two sources: same texts → same buckets → same split, so any
    # straddle would desynchronize the per-source breakdowns
    by = {(r["source"], r["split"]): (r["n_docs"], r["n_contents"]) for r in out}
    for split in {s for (_, s) in by}:
        assert by.get(("src_a", split)) == by.get(("src_b", split)), (split, by)
    assert sum(r["n_docs"] for r in out) == len(rows)
    # and the corpus actually exercises ≥2 splits at n=40 distinct texts
    assert len({s for (_, s) in by}) >= 2


