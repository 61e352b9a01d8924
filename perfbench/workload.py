"""One benchmark process: start a session, run one workload's passes and
write every number as JSON to ``--result``.  The last pass's committed
outputs stay on disk for run.py to check once this process has exited.

run.py starts a fresh process (and so a fresh JVM) for every run and every
setup probe.  Modes:

* ``probe``: set up only (the extra ``setup_s`` samples);
* ``measure``: the end-to-end protocol, tracing off;
* ``trace``: the same protocol with Spark's event log on (enabled by run.py
  through launch-time conf) and a job group around each public call, then
  the per-layer probes.  The package itself is not instrumented.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import N_PARTS, files  # noqa: E402

TABLES = ("page_scores", "spans_out", "quarantine")
SCORE_COLUMNS = ("doc_id", "kind", "text")
# corpus_mixed: passes still speed up over the first three after the cold
# one (JIT), so WARMUP_PASSES warm passes are discarded; then at least
# MIN_PASSES (and --seconds of them) are measured.  The throughput is taken
# over the whole window: it was steadier across runs than the median pass.
WARMUP_PASSES = 3
MIN_PASSES = 3
# the incremental probe of a corpus_mixed traced run: few, large parts
PROBE_PARTS = 4
# the cumulative read / explode / parse plans are each timed this many times
# and their medians differenced: single timings of these sub-second plans
# depended on which ran first
PLAN_REPEATS = 3


def python_worker_peak_rss_mb() -> float:
    """Largest VmHWM among this process's Python-worker descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    peak = 0.0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
            if not any(a.startswith((b"pyspark.daemon", b"pyspark.worker")) for a in argv):
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:  # the worker exited meanwhile
            continue
    return peak


class Bench:
    def __init__(self, spark, args, ready: float) -> None:
        from page_evaluator_spark.sources.catalog import Catalog

        self.spark = spark
        self.input = args.input
        self.seconds = args.seconds
        self.trace = args.mode == "trace"
        self.work = args.work
        self.ready = ready
        self.catalog = Catalog(spark)
        # from the file footer: a Spark job here would warm the cold pass
        self.n_docs = sum(pq.read_metadata(f).num_rows for f in files(self.input))
        self.rss = 0.0
        self.out: dict[str, float] = {}
        self._dirs = 0

    # --- helpers ------------------------------------------------------------
    def docs(self):
        return self.spark.read.parquet(self.input)

    def fresh_dir(self) -> str:
        self._dirs += 1
        return os.path.join(self.work, "out", f"pass{self._dirs}")

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def sample_rss(self) -> None:
        self.rss = max(self.rss, python_worker_peak_rss_mb())

    def timed(self, group: str, fn) -> float:
        self.group(group)
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def median_noop(self, group: str, plan) -> float:
        """Median wall of sinking ``plan()`` to noop PLAN_REPEATS times.  Only
        the first run is in ``group``, so the event-log metrics of the group
        describe one execution."""
        return statistics.median(
            self.timed(group if i == 0 else f"{group}_repeat", lambda: self.noop(plan()))
            for i in range(PLAN_REPEATS))

    # --- corpus_mixed: one-shot scoring --------------------------------------
    def one_shot(self, out_root: str) -> None:
        from page_evaluator_spark.plans.pipeline import evaluate_documents

        out = evaluate_documents(self.docs(), cache_parsed=True)
        try:
            for name in TABLES:
                self.catalog.append(getattr(out, name), os.path.join(out_root, name),
                                    run_id="pass")
        finally:
            out.parsed.unpersist()

    def corpus_e2e(self) -> None:
        root = self.fresh_dir()
        self.timed("cold", lambda: self.one_shot(root))
        self.out["first_commit_s"] = time.time() - self.ready
        self.sample_rss()
        walls: list[float] = []
        while (len(walls) < WARMUP_PASSES + MIN_PASSES
               or sum(walls[WARMUP_PASSES:]) < self.seconds):
            shutil.rmtree(root)
            root = self.fresh_dir()
            walls.append(self.timed(f"pass{len(walls)}", lambda: self.one_shot(root)))
            self.sample_rss()
        self.last_group = (f"pass{len(walls) - 1}",)
        measured = walls[WARMUP_PASSES:]
        self.out["docs_per_s"] = self.n_docs * len(measured) / sum(measured)
        self.out["pass_walls_s"] = walls
        self.out["checked_root"] = root

    # --- txt_parts_resume: interrupted, then resumed -------------------------
    def resumable(self, root: str, n_parts: int, prefix: str) -> dict:
        """First invocation capped at half the parts, then a fresh runner on
        the same root resumes the rest."""
        from page_evaluator_spark.plans.incremental import IncrementalRunner

        self.group(prefix + "first")
        first = IncrementalRunner(self.spark, root, n_parts=n_parts).run(
            self.docs(), run_id="first", max_parts=n_parts // 2)
        self.group(prefix + "resume")
        runner = IncrementalRunner(self.spark, root, n_parts=n_parts)
        runner.run(self.docs(), run_id="resume")
        return {"runner": runner, "first_part": first[0], "end": time.time()}

    def txt_e2e(self) -> None:
        """docs_per_s counts the docs committed after the first lineage
        commit (the warm-up), through the interruption and the resume."""
        walls: list[float] = []
        docs = 0
        while not walls or sum(walls) < self.seconds:
            if walls:
                shutil.rmtree(root)
            root = self.fresh_dir()
            p = self.resumable(root, N_PARTS, f"pass{len(walls)}_")
            lineage = os.path.join(root, "lineage")
            first_commit = os.path.getmtime(
                os.path.join(lineage, f"_manifest_part{p['first_part']}.json"))
            if not walls:
                self.out["first_commit_s"] = first_commit - self.ready
            self.sample_rss()
            walls.append(p["end"] - first_commit)
            self.group("bookkeeping")
            rows = p["runner"].lineage().select("part_id", "n_docs").collect()
            docs += sum(r["n_docs"] for r in rows if r["part_id"] != p["first_part"])
            if self.trace:
                self.incremental_metrics(p)
        self.last_group = (f"pass{len(walls) - 1}_first", f"pass{len(walls) - 1}_resume")
        self.out["docs_per_s"] = docs / sum(walls)
        self.out["pass_walls_s"] = walls
        self.out["checked_root"] = root
        self.out["checked_parts"] = N_PARTS

    # --- per-layer probes (trace mode) ---------------------------------------
    def incremental_metrics(self, p: dict) -> None:
        from pyspark.sql import functions as F

        runner = p["runner"]
        t = time.perf_counter()
        runner.pending_parts()
        self.out["incremental.pending_parts_s"] = time.perf_counter() - t
        rows = runner.lineage().select("run_id", F.col("committed_at").cast("double").alias("t")) \
            .orderBy("t").collect()
        windows = []
        for run_id in ("first", "resume"):
            ts = [r["t"] for r in rows if r["run_id"] == run_id]
            windows += list(zip(ts, ts[1:]))
        parts = [b - a for a, b in windows]
        self.out["incremental.part_s_p50"] = statistics.median(parts)
        self.out["incremental.part_s_max"] = max(parts)
        self.part_windows = windows

    def layers(self) -> None:
        """Cumulative plans sunk to noop, then the branches over one filled
        cache, each under its own job group."""
        from page_evaluator_spark.operators.parse import explode_docs, parse_spans
        from page_evaluator_spark.plans.pipeline import evaluate_documents
        from pyspark.sql import functions as F

        o = self.out
        o["catalog.read_s"] = self.median_noop("read", self.docs)
        explode = self.median_noop("explode", lambda: explode_docs(self.docs()))
        parse = self.median_noop(
            "parse", lambda: parse_spans(explode_docs(self.docs()), columns=SCORE_COLUMNS))
        o["parse.explode_s"] = explode - o["catalog.read_s"]
        o["parse.kernel_s"] = parse - explode

        box = {}

        def build():
            out = evaluate_documents(self.docs(), cache_parsed=True)
            for name in TABLES:
                getattr(out, name)
            box["out"] = out

        o["pipeline.plan_build_s"] = self.timed("plan", build)
        out = box["out"]
        try:
            o["pipeline.cache_fill_s"] = self.timed(
                "cache_fill", lambda: box.update(rows=out.parsed.count()))
            o["parse.rows_out"] = box["rows"]
            o["parse.error_rows"] = out.parsed.where(F.col("kind") == "error").count()
            o["score.s"] = self.timed("score", lambda: self.noop(out.page_scores))
            o["spans_out.s"] = self.timed("spans_out", lambda: self.noop(out.spans_out))
            o["quarantine.s"] = self.timed("quarantine", lambda: self.noop(out.quarantine))
            root = self.fresh_dir()

            def append():
                for name in TABLES:
                    self.catalog.append(getattr(out, name), os.path.join(root, name),
                                        run_id="pass")

            o["catalog.append_s"] = self.timed("append", append)
            shutil.rmtree(root)
        finally:
            out.parsed.unpersist()

    def incremental_probe(self) -> None:
        """The incremental layer on a one-shot workload's own input."""
        root = self.fresh_dir()
        self.incremental_metrics(self.resumable(root, PROBE_PARTS, "probe_"))
        shutil.rmtree(root)

    def event_metrics(self, log) -> None:
        from eventlog import PY_INIT, PY_RECV, PY_RUN, PY_SENT, PY_START, quantile

        o = self.out
        for key, acc in (("session.py_boot_ms", PY_START), ("session.py_init_ms", PY_INIT)):
            vals = [t.py[acc] for t in log.tasks if acc in t.py]
            o[key + "_sum"] = sum(vals)
            o[key + "_p50"] = quantile(vals, 0.5)
        py_tasks = [t for t in log.in_groups("parse") if PY_RUN in t.py]
        durs = [t.duration_ms for t in py_tasks]
        o["parse.tasks"] = len(py_tasks)
        o["parse.task_p50_ms"] = quantile(durs, 0.5)
        o["parse.task_p99_ms"] = quantile(durs, 0.99)
        o["parse.py_run_ms"] = sum(t.py[PY_RUN] for t in py_tasks)
        o["parse.py_bytes_sent"] = sum(t.py.get(PY_SENT, 0) for t in py_tasks)
        o["parse.py_bytes_received"] = sum(t.py.get(PY_RECV, 0) for t in py_tasks)
        o["catalog.bytes_written"] = sum(t.bytes_written for t in log.in_groups("append"))
        tasks = log.in_groups(*self.last_group)
        o["spark.jobs"] = len(log.jobs_in(*self.last_group))
        o["spark.tasks"] = len(tasks)
        o["spark.gc_ms"] = sum(t.gc_ms for t in tasks)
        o["spark.shuffle_bytes"] = sum(t.shuffle_bytes for t in tasks)
        jobs, n_tasks = [], []
        for a, b in self.part_windows:
            # job submission times are whole milliseconds
            lo, hi = math.floor(a * 1000), math.floor(b * 1000)
            ids = {j.job_id for j in log.jobs if lo <= j.submit_ms < hi}
            jobs.append(len(ids))
            n_tasks.append(sum(1 for t in log.tasks if t.job in ids))
        o["incremental.jobs_per_part"] = statistics.median(jobs)
        o["incremental.tasks_per_part"] = statistics.median(n_tasks)

    def run(self, workload: str) -> dict:
        e2e = self.corpus_e2e if workload == "corpus_mixed" else self.txt_e2e
        e2e()
        if self.trace:
            self.layers()
            if workload == "corpus_mixed":
                self.incremental_probe()
        self.sample_rss()
        return self.out


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark process (see run.py)")
    ap.add_argument("--mode", choices=("probe", "measure", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--spawned", type=float, required=True,
                    help="wall-clock time at which the parent started this process")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from page_evaluator_spark.session import get_spark

    t = time.time()
    spark = get_spark(master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    get_spark_s = time.time() - t
    spark.read.parquet(args.input)
    ready = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    res = {"setup_s": ready - args.spawned, "session.get_spark_s": get_spark_s,
           "spark_version": spark.version, "python_version": sys.version.split()[0]}
    try:
        if args.mode != "probe":
            bench = Bench(spark, args, ready)
            res.update(bench.run(args.workload))
            res["py_worker_peak_rss_mb"] = bench.rss
    finally:
        spark.stop()
    if args.mode == "trace":
        import eventlog

        bench.event_metrics(eventlog.read(os.path.join(args.work, "eventlog")))
        res.update(bench.out)
    with open(args.result, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
