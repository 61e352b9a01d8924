"""Structured Streaming jobs.

The reference is strictly batch (one page per JVM invocation, Main.java:26-50),
so there are no event-time semantics to preserve (SURVEY.md §2.6 'Streaming').
These jobs exist for the engine's own streaming surface: incremental ingest of
the documents/events tables with Trigger.AvailableNow (run-to-completion over
whatever has arrived — the batch-incremental pattern that backs resume): a
daily event aggregate, a watermarked stream-stream interval join, and the
exactly-once daily ingest dedup behind jobs/run_ingest.py.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Stream one parquet table file/dir as a file-source stream: the source
    needs a DIRECTORY, so glob-filter to the one table (shared by every
    events-stream job below — one place to fix source behavior)."""
    import os

    schema = spark.read.parquet(events_path).schema
    return (spark.readStream.format("parquet").schema(schema)
            .option("pathGlobFilter", os.path.basename(events_path))
            .load(os.path.dirname(events_path)))


def _run_to_memory(df: DataFrame, prefix: str, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    uuid-named memory sink and return the materialized table."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return df.sparkSession.table(name)


def run_events_daily_availablenow(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming daily event aggregation, run to completion (AvailableNow).

    Returns the final aggregate as a batch DataFrame (memory sink).  Matches
    the batch SQL `GROUP BY date_trunc('day', ts), event_type` exactly.
    """
    stream = _read_events_stream(spark, events_path)
    # .cast("date") matches the DuckDB twin (date_trunc returns DATE there);
    # complete-mode agg, so no event-time watermark tag is needed on the key.
    agg = (stream.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"),
                          "event_type")
           .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")))
    return _run_to_memory(agg, "events_daily", "complete")


def run_stream_stream_interval_join(spark: SparkSession, events_path: str,
                                    watermark: str = "1 day",
                                    horizon_s: int = 3600) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (the remaining streaming join
    surface): clicks joined to same-user purchases within `horizon_s` seconds.

    Both sides carry watermarks and the join has an event-time range
    constraint, so Spark can bound the buffered state (clicks older than
    watermark+horizon are evicted).  Run to completion with AvailableNow the
    result equals the batch interval join — the harness pins that with a
    DuckDB twin.
    """
    def src():
        return _read_events_stream(spark, events_path)

    clicks = (src().where(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").cast("timestamp_ltz").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    buys = (src().where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("buy_id"),
                    F.col("ts").cast("timestamp_ltz").alias("buy_ts"))
            .withWatermark("buy_ts", watermark))
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")),
        "inner")
    out = joined.select(
        "user_id", "click_id", "buy_id",
        (F.unix_timestamp("buy_ts") - F.unix_timestamp("click_ts"))
        .cast("bigint").alias("delay_s"))
    return _run_to_memory(out, "ss_join", "append")


def run_daily_ingest_dedup(spark: SparkSession, new_docs_dir: str,
                           out_root: str, run_id: str,
                           ref_docs: DataFrame | None = None) -> dict:
    """The daily-ingest dedup MODE (VERDICT r5 #7): the consumer the r5
    candidate stream lacked.  One invocation = one ingest "day":

      1. bootstrap or load the STORED reference band index
         (<out_root>/ref_band_index — computed once, grows per day);
      2. stream the newly landed files (file-source checkpoint under
         <out_root>/checkpoint ⇒ each file is processed exactly once across
         invocations), banding each doc per row (minhash_band_keys_expr,
         stateless) and joining against the index inside foreachBatch —
         every write is the Catalog keyed-batch pattern, so crash-replay
         stays exactly-once;
      3. post-stream: docs with >= 1 index match are DROPPED as duplicates;
         survivors are anti-joined out, appended to <out_root>/clean_new,
         and their bands appended to the reference index — tomorrow's
         ingest dedups against today's survivors too.

    In-day self-duplicates are out of scope by contract: new docs compare
    against the reference index snapshot taken at stream start (the batch
    minhash_lsh_candidates operator owns within-corpus dedup).  NOTE the
    consequence (ADVICE r6): two near-identical docs landing in the SAME
    run both survive into clean_new and the index, and later runs never
    retroactively dedup clean_new — a deployment that cares must run the
    batch within-corpus dedup over each day's clean_new before shipping it
    downstream.  Docs with no shingles produce no bands and always
    survive.

    Returns counts: processed / duplicates / survivors / index_size."""
    from ..operators.dedup import minhash_band_keys_expr, reference_band_index
    from ..sources.catalog import Catalog

    cat = Catalog(spark)
    idx_ref = f"{out_root}/ref_band_index"
    if not cat.exists(idx_ref):
        if ref_docs is not None:
            boot = (reference_band_index(ref_docs)
                    .select(F.col("ref_id").cast("string").alias("ref_id"),
                            "band_key",
                            F.lit("bootstrap").alias("ingest_run")))
        else:
            boot = spark.createDataFrame(
                [], "ref_id: string, band_key: string, ingest_run: string")
        # bootstrap MUST go through the same keyed-append layout as every
        # later index write: on the parquet branch, overwrite() puts files at
        # the table root while append() creates commit= partition dirs, and
        # spark.read.parquet silently DROPS root-level files once partition
        # dirs exist — the bootstrap bands would vanish from day 2 on
        # (code-review r6, reproduced live)
        cat.append(boot, idx_ref, run_id="bootstrap",
                   replace_where="ingest_run = 'bootstrap'")
    # persist + materialize BEFORE batches start: the index joins into every
    # micro-batch, and the post-stream index append must not change what the
    # in-flight batches saw
    ref_bands = cat.read(idx_ref).select("ref_id", "band_key").persist()
    ref_bands.count()
    from pyspark.errors import AnalysisException

    try:
        # schema inference doubles as the landed-data probe: it works on any
        # filesystem / layout Spark can read (nested dirs, non-.parquet part
        # names, hdfs/s3a URIs) — a local-fs suffix scan would silently skip
        # real data on all of those (code-review r6)
        schema = spark.read.parquet(new_docs_dir).schema
        stream = spark.readStream.schema(schema).parquet(new_docs_dir)
    except AnalysisException as e:
        # Only the no-data-yet error classes are a clean no-op day; anything
        # else (schema-merge conflicts, corrupt footers, duplicate-cased
        # columns in REAL landed files) must surface, not read as "day ran
        # clean" while the data is silently skipped (code-review r6, pass 3)
        if (e.getErrorClass() or "") not in (
                "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            ref_bands.unpersist()
            raise
        # nothing has landed yet (or the producer dir does not exist): a
        # clean no-op day — the checkpoint is untouched, so the next run
        # with real files processes everything
        ref_bands.unpersist()
        if not cat.exists(f"{out_root}/ingest_docs"):
            return {"processed": 0, "duplicates": 0, "survivors": 0,
                    "index_size": cat.read(idx_ref).count()}
        stream = None
    keys = minhash_band_keys_expr(F.col("text"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key = f"{run_id}_b{batch_id}"
        own = f"ingest_run = '{run_id}' AND _batch = {batch_id}"

        def tag(df):
            return (df.withColumn("ingest_run", F.lit(run_id))
                    .withColumn("_batch", F.lit(batch_id)))

        batch_df = batch_df.persist()  # feeds docs write + banding
        try:
            bands = (batch_df
                     .select(F.col("doc_id").cast("string").alias("new_id"),
                             F.explode(keys).alias("band_key"))
                     .persist())  # feeds bands write + match join
            try:
                cat.append(tag(batch_df), f"{out_root}/ingest_docs",
                           run_id=key, replace_where=own)
                cat.append(tag(bands), f"{out_root}/ingest_bands",
                           run_id=key, replace_where=own)
                matches = (bands.join(ref_bands, "band_key")
                           .select("new_id", "ref_id").distinct())
                cat.append(tag(matches), f"{out_root}/ingest_matches",
                           run_id=key, replace_where=own)
            finally:
                bands.unpersist()
        finally:
            batch_df.unpersist()

    if stream is not None:
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", f"{out_root}/checkpoint")
             .trigger(availableNow=True)
             .start())
        try:
            q.awaitTermination()
        finally:
            ref_bands.unpersist()

    if not cat.exists(f"{out_root}/ingest_docs"):
        # nothing has EVER landed — no per-run tables to reconcile
        return {"processed": 0, "duplicates": 0, "survivors": 0,
                "index_size": cat.read(idx_ref).count()}
    this = F.col("ingest_run") == run_id
    docs_now = cat.read(f"{out_root}/ingest_docs").where(this)
    matches_now = (cat.read(f"{out_root}/ingest_matches").where(this)
                   if cat.exists(f"{out_root}/ingest_matches")
                   else None)
    bands_now = cat.read(f"{out_root}/ingest_bands").where(this)
    dup_ids = (matches_now.select("new_id").distinct() if matches_now is not None
               else spark.createDataFrame([], "new_id: string"))
    dup_ids = dup_ids.persist()  # feeds the anti-join and the dup count
    survivors = (docs_now
                 .join(dup_ids,
                       docs_now["doc_id"].cast("string") == dup_ids["new_id"],
                       "left_anti")
                 # drop the ledger columns: '_batch' is internal, and on the
                 # parquet branch reads also surface the inferred 'commit'
                 # partition column — written into clean_new it would collide
                 # with clean_new's own commit= keying (code-review r6)
                 .drop("_batch", "commit")
                 .persist())  # feeds clean write + band semi-join + count
    cat.append(survivors, f"{out_root}/clean_new", run_id=f"{run_id}_clean",
               replace_where=f"ingest_run = '{run_id}'")
    surv_bands = (bands_now
                  .join(survivors.select(F.col("doc_id").cast("string")
                                         .alias("new_id")),
                        "new_id", "left_semi")
                  .select(F.col("new_id").alias("ref_id"), "band_key",
                          "ingest_run"))
    cat.append(surv_bands, idx_ref, run_id=f"{run_id}_idx",
               replace_where=f"ingest_run = '{run_id}'")
    counts = {"processed": docs_now.count(),
              "duplicates": dup_ids.count(),
              "survivors": survivors.count(),
              "index_size": cat.read(idx_ref).count()}
    survivors.unpersist()
    dup_ids.unpersist()
    return counts
