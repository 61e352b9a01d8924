"""Lineage + resume: interrupted runs pick up exactly the uncommitted parts;
final outputs are complete and duplicate-free (north_rule resumability)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from page_evaluator_spark.corpus import corpus_to_spark_df, gen_corpus
from page_evaluator_spark.plans.incremental import IncrementalRunner


@pytest.fixture()
def docs(spark):
    return corpus_to_spark_df(spark, gen_corpus(40, seed=11, include_fixtures=True))


def test_interrupted_run_resumes(spark, docs, tmp_path):
    runner = IncrementalRunner(spark, str(tmp_path / "out"), n_parts=6)

    # simulated kill: first invocation only commits 2 parts
    first = runner.run(docs, run_id="r1", max_parts=2)
    assert len(first) == 2
    assert sorted(runner.committed_parts()) == sorted(first)
    assert len(runner.pending_parts()) == 4

    # resume: second invocation processes ONLY the remaining parts
    second = runner.run(docs, run_id="r2")
    assert sorted(first + second) == list(range(6))
    assert runner.pending_parts() == []

    # completeness + no duplicates
    n_docs = docs.count()
    scores = runner.page_scores()
    assert scores.count() == n_docs
    assert scores.select("doc_id").distinct().count() == n_docs

    # lineage metrics add up to the real totals
    lineage = runner.lineage()
    assert lineage.count() == 6
    total = lineage.agg(F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t")).collect()[0]
    assert total["d"] == n_docs
    real_tokens = scores.agg(F.sum("token_count")).collect()[0][0]
    assert total["t"] == real_tokens


def test_rerun_is_noop(spark, docs, tmp_path):
    runner = IncrementalRunner(spark, str(tmp_path / "out"), n_parts=4)
    assert len(runner.run(docs, run_id="r1")) == 4
    assert runner.run(docs, run_id="r2") == []  # nothing pending
    assert runner.page_scores().count() == docs.count()


def test_stable_part_assignment(spark, docs):
    from page_evaluator_spark.plans.incremental import part_id_expr

    a = {r["doc_id"]: r["p"] for r in
         docs.select("doc_id", part_id_expr(8).alias("p")).collect()}
    b = {r["doc_id"]: r["p"] for r in
         docs.select("doc_id", part_id_expr(8).alias("p")).collect()}
    assert a == b
    assert all(0 <= p < 8 for p in a.values())


# ---------------------------------------------------------------------------
# Per-part commit: three concurrent output appends, then the lineage row,
# whose counts come from the writes' observations.
# ---------------------------------------------------------------------------

def _lineage_fields(spark):
    from page_evaluator_spark.plans.incremental import LINEAGE_SCHEMA

    return spark.createDataFrame([], LINEAGE_SCHEMA).schema.fields


def _rows_per_part(df) -> dict[int, int]:
    return {r["part_id"]: r["n"] for r in df.groupBy("part_id").agg(F.count("*").alias("n"))
            .collect()}


def _lineage_by_part(runner) -> dict[int, dict]:
    rows = runner.lineage().collect()
    assert len(rows) == len({r["part_id"] for r in rows})  # each part exactly once
    return {r["part_id"]: r.asDict() for r in rows}


def test_lineage_counts_match_outputs_and_keep_job_group(spark, docs, tmp_path):
    """Observed per-part counts equal the rows each table holds for the part;
    the lineage reads back as LINEAGE_SCHEMA; every job of the run (the
    concurrent appends included) carries the caller's job group."""
    import warnings

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    runner = IncrementalRunner(spark, str(tmp_path / "out"), n_parts=4)
    sc.setJobGroup("lineage_test", "resumable run under a caller's job group")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            done = runner.run(docs, run_id="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(done) == [0, 1, 2, 3]
    assert not [w for w in caught if "not be inherited" in str(w.message)]
    group_jobs = set(tracker.getJobIdsForGroup("lineage_test"))
    assert len(group_jobs) >= 4 * len(done)  # three appends + lineage per part
    # the tracker retains a bounded number of jobs, so only new ids are compared
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped

    scores = _rows_per_part(runner.page_scores())
    spans = _rows_per_part(runner.spans_out())
    quarantined = _rows_per_part(runner.quarantine_rows())
    tokens = {r["part_id"]: r["t"] for r in runner.page_scores().groupBy("part_id")
              .agg(F.sum("token_count").alias("t")).collect()}
    assert sum(quarantined.values()) > 0  # the fixture docs include malformed hOCR
    lineage = _lineage_by_part(runner)
    assert sorted(lineage) == [0, 1, 2, 3]
    for part, row in lineage.items():
        assert row["n_docs"] == scores.get(part, 0)
        assert row["n_tokens"] == (tokens.get(part) or 0)
        assert row["metrics"] == {"pipeline": "evaluate_documents",
                                  "n_spans": str(spans.get(part, 0)),
                                  "n_quarantined": str(quarantined.get(part, 0))}
        assert runner.part_counts[part] == {
            "n_docs": row["n_docs"], "n_tokens": row["n_tokens"],
            "n_spans": spans.get(part, 0), "n_quarantined": quarantined.get(part, 0)}
        assert row["committed_at"] is not None

    # the parquet emulation adds its commit= directory column after the schema
    fields = runner.lineage().schema.fields
    assert fields[:-1] == _lineage_fields(spark)
    assert fields[-1].name == "commit"


def test_empty_parts_commit_zero_counts(spark, tmp_path):
    docs = corpus_to_spark_df(spark, gen_corpus(3, seed=5, include_fixtures=False))
    runner = IncrementalRunner(spark, str(tmp_path / "out"), n_parts=8)
    assert sorted(runner.run(docs, run_id="r1")) == list(range(8))
    lineage = _lineage_by_part(runner)
    assert sorted(lineage) == list(range(8))
    scores = _rows_per_part(runner.page_scores())
    empty = [p for p in range(8) if p not in scores]
    assert len(empty) >= 5  # 3 docs over 8 parts
    for part in empty:
        row = lineage[part]
        assert (row["n_docs"], row["n_tokens"]) == (0, 0)
        assert row["metrics"]["n_spans"] == "0"
        assert row["metrics"]["n_quarantined"] == "0"
    assert sum(r["n_docs"] for r in lineage.values()) == 3


def test_resume_over_lineage_of_the_previous_format(spark, docs, tmp_path):
    """An output root whose lineage rows were built by createDataFrame (and
    carry only the pipeline metric) resumes and reads cleanly; the resume
    reads the lineage once to find its pending parts."""
    from page_evaluator_spark.plans.incremental import LINEAGE_SCHEMA
    from page_evaluator_spark.sources.catalog import Catalog

    out = str(tmp_path / "out")
    runner = IncrementalRunner(spark, out, n_parts=6)
    first = runner.run(docs, run_id="old", max_parts=2)
    for part in first:  # re-commit those parts' lineage the way it used to be built
        counts = runner.part_counts[part]
        old_row = spark.createDataFrame(
            [("old", part, counts["n_docs"], counts["n_tokens"], None,
              {"pipeline": "evaluate_documents"})],
            LINEAGE_SCHEMA,
        ).withColumn("committed_at", F.current_timestamp())
        Catalog(spark).append(old_row, runner.lineage_ref, run_id=f"part{part}")

    reads = []
    real_read = Catalog.read

    def counting_read(self, ref):
        if ref == runner.lineage_ref:
            reads.append(ref)
        return real_read(self, ref)

    resumed = IncrementalRunner(spark, out, n_parts=6)
    Catalog.read = counting_read
    try:
        pending = resumed.pending_parts()
    finally:
        Catalog.read = real_read
    assert len(reads) == 1
    assert sorted(pending) == sorted(set(range(6)) - set(first))

    second = resumed.run(docs, run_id="new")
    assert sorted(second) == pending
    lineage = _lineage_by_part(resumed)
    assert sorted(lineage) == list(range(6))
    for part in first:
        assert lineage[part]["metrics"] == {"pipeline": "evaluate_documents"}
    for part in second:
        assert set(lineage[part]["metrics"]) == {"pipeline", "n_spans", "n_quarantined"}
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in lineage.values()) == n_docs
    assert resumed.page_scores().count() == n_docs
    assert resumed.lineage().schema.fields[:-1] == _lineage_fields(spark)


def test_failed_concurrent_append_leaves_part_pending(spark, docs, tmp_path):
    """One of the three concurrent appends fails: the error propagates, the
    part gets no lineage row, and a re-run under a fresh run id leaves no
    duplicate rows in any output table."""
    from page_evaluator_spark.plans.pipeline import evaluate_documents
    from page_evaluator_spark.sources.catalog import Catalog

    out = str(tmp_path / "out")
    runner = IncrementalRunner(spark, out, n_parts=4)
    real_append = Catalog.append

    def failing_append(self, df, ref, run_id=None, replace_where=None):
        if ref.endswith("spans_out"):
            raise RuntimeError("simulated spans_out write failure")
        return real_append(self, df, ref, run_id=run_id, replace_where=replace_where)

    Catalog.append = failing_append
    try:
        with pytest.raises(RuntimeError, match="spans_out write failure"):
            runner.run(docs, run_id="runA")
    finally:
        Catalog.append = real_append
    assert runner.committed_parts() == set()  # the failed part stays pending
    assert runner.page_scores().count() > 0  # its sibling appends did land

    runner2 = IncrementalRunner(spark, out, n_parts=4)
    assert sorted(runner2.run(docs, run_id="runB")) == [0, 1, 2, 3]
    expected = evaluate_documents(docs)
    n_docs = docs.count()
    scores = runner2.page_scores()
    assert scores.count() == n_docs
    assert scores.select("doc_id").distinct().count() == n_docs
    spans = runner2.spans_out()
    assert spans.count() == spans.select("doc_id", "ord").distinct().count()
    assert spans.count() == expected.spans_out.count()
    quarantined = runner2.quarantine_rows()
    assert quarantined.count() == quarantined.select("doc_id", "span_ord").distinct().count()
    assert quarantined.count() == expected.quarantine.count() > 0


def test_part_jobs_are_described_per_layer(spark, docs, tmp_path, monkeypatch):
    """Each part's appends run under the descriptions 'part {N}: {table}' and
    its lineage commit under 'part {N}: lineage', while the job group stays
    the caller's; the caller's own description is back after the run."""
    from page_evaluator_spark.plans.incremental import OUTPUTS
    from page_evaluator_spark.sources.catalog import Catalog

    sc = spark.sparkContext
    seen = []
    real = Catalog.append

    def recording(self, df, ref, *args, **kwargs):
        seen.append((ref.rsplit("/", 1)[-1], sc.getLocalProperty("spark.job.description"),
                     sc.getLocalProperty("spark.jobGroup.id")))
        return real(self, df, ref, *args, **kwargs)

    monkeypatch.setattr(Catalog, "append", recording)
    runner = IncrementalRunner(spark, str(tmp_path / "out"), n_parts=3)
    sc.setJobGroup("described", "caller's description")
    try:
        done = runner.run(docs, run_id="r1")
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(done) == [0, 1, 2]
    want = {(t, f"part {p}: {t}", "described") for p in done for t in (*OUTPUTS, "lineage")}
    assert sorted(seen) == sorted(want)
