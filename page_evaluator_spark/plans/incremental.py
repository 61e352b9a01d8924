"""Resumable, lineage-tracked execution (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Documents are assigned a STABLE partition id — pmod(xxhash64(doc_id), n_parts)
— so the work breakdown is identical across runs and cluster sizes.  Each part
is one commit, in this order:

1. the part is parsed once into a persisted relation;
2. its three outputs (page_scores, spans_out, quarantine) are appended
   through the Catalog facade CONCURRENTLY, one thread per table, all over
   that one persisted parse (the threads keep the caller's job group and
   tags, and describe their jobs as ``part {N}: {table}``);
3. only when all three appends succeeded, one lineage row is appended
   (described ``part {N}: lineage``).  Its counts come from the writes
   themselves: a ``DataFrame.observe`` on each output collects n_docs /
   n_tokens (page_scores) and n_spans (spans_out) / n_quarantined
   (quarantine, both in the ``metrics`` map), so no extra job re-reads the
   part to count it.

A failed output append re-raises (the first failure, in table order) and
leaves the part without a lineage row, i.e. pending.  An interrupted run
leaves complete parts committed; the next invocation reads the lineage table
once and processes only the remainder.  Re-processing a part is idempotent
on BOTH backends — even when the retry runs under a fresh --run-id: the
parquet emulation keys the commit directory by the PART alone
(commit=part{N}, mode=overwrite), and the Iceberg branch passes
``replace_where="part_id = {N}"`` so Catalog.append atomically overwrites the
rows that part owns (one snapshot commit — every output row carries a part_id
column for exactly this; on Iceberg create the output tables PARTITIONED BY
(part_id) so overwrite-by-filter stays file-aligned even after compaction —
the Catalog.append alignment contract).

At 10^12 docs the input table would be bucketed by the same hash so each
part-job prunes to its buckets instead of re-scanning (Iceberg
bucket(n_parts, doc_id) partition transform).  The parquet fallback gets the
same property by STAGING: the input is written ONCE partitioned by _part, and
every per-part job then reads only its own partition directory (partition
pruning) — one extra full write instead of n_parts full scans.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from .pipeline import evaluate_documents

LINEAGE_SCHEMA = ("run_id string, part_id int, n_docs bigint, n_tokens bigint, "
                  "committed_at timestamp, metrics map<string,string>")
# the per-part output tables, in commit (and failure-report) order
OUTPUTS = ("page_scores", "spans_out", "quarantine")
# local property behind SparkContext.setJobDescription: each part's jobs are
# described "part {N}: {table}" / "part {N}: lineage" so an event log alone
# says which layer a job belongs to
JOB_DESCRIPTION = "spark.job.description"


def part_id_expr(n_parts: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_parts)).cast("int")


@dataclass
class IncrementalRunner:
    spark: SparkSession
    out_dir: str
    n_parts: int = 8
    repartition: int | None = None
    catalog: Catalog = field(init=False)
    # counts of the parts committed by the last run(), by part id
    part_counts: dict[int, dict[str, int]] = field(init=False, default_factory=dict)

    def __post_init__(self) -> None:
        self.catalog = Catalog(self.spark)

    # --- table refs -----------------------------------------------------
    def _ref(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    @property
    def lineage_ref(self) -> str:
        return self._ref("lineage")

    def lineage(self) -> DataFrame:
        if self.catalog.exists(self.lineage_ref):
            return self.catalog.read(self.lineage_ref)
        return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    # --- resume logic ----------------------------------------------------
    def committed_parts(self) -> set[int]:
        return {r["part_id"] for r in self.lineage().select("part_id").distinct().collect()}

    def pending_parts(self) -> list[int]:
        committed = self.committed_parts()
        return [p for p in range(self.n_parts) if p not in committed]

    # --- input staging (parquet-fallback bucketing) -----------------------
    def _stage_docs(self, docs: DataFrame) -> DataFrame:
        """Write the input once, partitioned by _part, so per-part jobs prune
        to one directory instead of rescanning the full input (the parquet
        stand-in for Iceberg bucket(n_parts, doc_id)).

        Idempotent: reused on resume when the staged write completed
        (_SUCCESS present) AND it was staged with the SAME n_parts — a resume
        under a different --n-parts re-stages, since the old _part layout
        would assign docs to the wrong parts.  (Resume semantics assume the
        same logical input across invocations, as lineage does.)
        """
        import json

        staged = self._ref("staged_docs")
        meta_path = os.path.join(self.out_dir, "_staging_meta.json")
        ok = os.path.exists(os.path.join(staged, "_SUCCESS"))
        if ok and os.path.exists(meta_path):
            with open(meta_path) as f:
                ok = json.load(f).get("n_parts") == self.n_parts
        else:
            ok = False
        if not ok:
            (docs.withColumn("_part", part_id_expr(self.n_parts))
                 .write.mode("overwrite").partitionBy("_part").parquet(staged))
            os.makedirs(self.out_dir, exist_ok=True)
            with open(meta_path, "w") as f:
                json.dump({"n_parts": self.n_parts}, f)
        return self.spark.read.parquet(staged)

    # --- execution ---------------------------------------------------------
    def run(self, docs: DataFrame, run_id: str, max_parts: int | None = None,
            stage_input: bool | None = None) -> list[int]:
        """Process pending parts (optionally capped — simulates interruption).

        stage_input (default: auto — stage when >1 part is pending and the
        output root is a path) controls the write-once/prune-per-part staging;
        on Iceberg the input table's own bucket(doc_id) layout replaces it.
        Returns the list of parts committed by THIS invocation; their counts
        are in ``part_counts``.
        """
        done: list[int] = []
        self.part_counts = {}
        pending = self.pending_parts()
        if max_parts is not None:
            pending = pending[:max_parts]
        if stage_input is None:
            stage_input = len(pending) > 1 and "/" in self.out_dir
        if stage_input:
            docs_p = self._stage_docs(docs)
        else:
            docs_p = docs.withColumn("_part", part_id_expr(self.n_parts))
        with ThreadPoolExecutor(len(OUTPUTS)) as pool:
            for part in pending:
                # Commit token derived from the PART, not the run id: if a
                # prior run crashed after appending outputs but before the
                # lineage commit, the part is still pending and re-processing
                # OVERWRITES the orphaned commit=part{N} dir (parquet) /
                # atomically overwrites the part's rows (Iceberg, replace_where
                # snapshot commit) instead of duplicating them — resume is
                # idempotent across fresh --run-ids.
                commit = f"part{part}"
                owns = f"part_id = {part}"
                part_docs = docs_p.where(F.col("_part") == part).drop("_part")
                out = evaluate_documents(part_docs, repartition=self.repartition,
                                         cache_parsed=True)
                try:
                    counts = self._append_outputs(pool, out, part, commit, owns)
                finally:
                    out.parsed.unpersist()
                # lineage commit LAST: a crash before this line leaves the part
                # uncommitted and it will be re-done (idempotent per-part dirs)
                with self._described(f"part {part}: lineage"):
                    self.catalog.append(self._lineage_row(run_id, part, counts),
                                        self.lineage_ref, run_id=commit,
                                        replace_where=owns)
                self.part_counts[part] = counts
                done.append(part)
        return done

    def _append_outputs(self, pool: ThreadPoolExecutor, out, part: int,
                        commit: str, owns: str) -> dict[str, int]:
        """Append the part's outputs concurrently over its one persisted parse
        and return the counts their writes observed.

        Waits for every append; the first failure (in OUTPUTS order) is
        re-raised.  Observation.get blocks until its query has completed, so
        the counts are read only after all writes returned successfully.
        """
        metrics = {
            "page_scores": (F.count(F.lit(1)).alias("n_docs"),
                            F.sum("token_count").alias("n_tokens")),
            "spans_out": (F.count(F.lit(1)).alias("n_spans"),),
            "quarantine": (F.count(F.lit(1)).alias("n_quarantined"),),
        }
        observations = {name: Observation() for name in OUTPUTS}

        def append(name: str) -> None:
            df = getattr(out, name).withColumn("part_id", F.lit(part))
            self.catalog.append(df.observe(observations[name], *metrics[name]),
                                self._ref(name), run_id=commit, replace_where=owns)

        futures = []
        for name in OUTPUTS:
            # wrapped here, in the caller's thread: each wrapper captures its
            # own copy of the caller's local properties (job group, and this
            # table's description) and tags now.  One wrapper shared by the
            # three threads would hand them ONE properties object, so a
            # description set inside a thread would leak into its siblings.
            with self._described(f"part {part}: {name}"):
                target = inheritable_thread_target(self.spark)(append)
            futures.append(pool.submit(target, name))
        wait(futures)
        for f in futures:
            f.result()
        counts: dict[str, int] = {}
        for obs in observations.values():
            counts.update({k: int(v or 0) for k, v in obs.get.items()})
        return counts

    @contextmanager
    def _described(self, text: str) -> Iterator[None]:
        """Run the block with job description ``text``, then restore the
        caller's.  The job group is left alone (perfbench groups jobs by
        spark.jobGroup.id)."""
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty(JOB_DESCRIPTION)
        sc.setJobDescription(text)
        try:
            yield
        finally:
            sc.setLocalProperty(JOB_DESCRIPTION, caller)

    def _lineage_row(self, run_id: str, part: int, counts: dict[str, int]) -> DataFrame:
        """The part's one lineage row, typed as LINEAGE_SCHEMA, built natively
        (no Python-side rows to parallelize and re-schema)."""
        metrics = {"pipeline": "evaluate_documents",
                   "n_spans": str(counts["n_spans"]),
                   "n_quarantined": str(counts["n_quarantined"])}
        return self.spark.range(1, numPartitions=1).select(
            F.lit(run_id).cast("string").alias("run_id"),
            F.lit(part).cast("int").alias("part_id"),
            F.lit(counts["n_docs"]).cast("bigint").alias("n_docs"),
            F.lit(counts["n_tokens"]).cast("bigint").alias("n_tokens"),
            F.current_timestamp().alias("committed_at"),
            F.create_map(*[F.lit(x) for kv in metrics.items() for x in kv])
             .cast("map<string,string>").alias("metrics"),
        )

    # --- outputs ---------------------------------------------------------
    def page_scores(self) -> DataFrame:
        return self.catalog.read(self._ref("page_scores"))

    def spans_out(self) -> DataFrame:
        return self.catalog.read(self._ref("spans_out"))

    def quarantine_rows(self) -> DataFrame:
        return self.catalog.read(self._ref("quarantine"))
