"""Structured Streaming jobs.

The reference is strictly batch (one page per JVM invocation, Main.java:26-50),
so there are no event-time semantics to preserve (SURVEY.md §2.6 'Streaming').
These jobs exist for the engine's own streaming surface: incremental ingest of
the documents/events tables with Trigger.AvailableNow (run-to-completion over
whatever has arrived — the batch-incremental pattern that backs resume), plus
watermarked windowed aggregation for genuinely continuous sources.
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


def run_scores_stream(spark: SparkSession, docs_path: str,
                      checkpoint_dir: str) -> DataFrame:
    """Streaming page scoring: the SAME Arrow mapInPandas parse kernel and
    native classify/agg layers, applied to a streaming documents source and
    run to completion with Trigger.AvailableNow.

    This is the engine's incremental-ingest surface: point it at a landing
    directory, keep the checkpoint, and every invocation scores only newly
    arrived files (Spark's file-source tracking = the resume semantics the
    north_rule asks for, at the ingest tier).
    """
    from ..operators.parse import explode_docs, parse_spans
    from ..operators.score import score_pages
    from ..plans.pipeline import BRANCH_COLUMNS

    schema = spark.read.parquet(docs_path).schema
    stream = spark.readStream.schema(schema).parquet(docs_path)
    # EXACTLY the batch plan (explode_outer + marker rows + null-category agg,
    # score.py), so zero-span / media-only / quarantined docs still emit the
    # -1.0/-1.0 sentinel score row — streaming == batch, pinned by test.
    scored = score_pages(parse_spans(explode_docs(stream),
                                     columns=BRANCH_COLUMNS["page_scores"]))
    name = f"stream_scores_{uuid.uuid4().hex[:8]}"
    q = (scored.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def run_session_windows_stream(spark: SparkSession, events_path: str,
                               gap: str = "30 minutes",
                               watermark: str = "1 day") -> DataFrame:
    """Streaming session windows: the native SessionWindowing operator under a
    watermark, append mode — only sessions CLOSED by the watermark are
    emitted, matching the batch events_session_window query on closed
    sessions (pinned by test)."""
    stream = (_read_events_stream(spark, events_path)
              # watermarks require an instant (LTZ) event-time column, not NTZ
              .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    agg = (stream.withWatermark("ts", watermark)
           .groupBy("user_id", F.session_window(F.col("ts"), gap).alias("win"))
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value")))
    out = agg.select("user_id", F.col("win.start").alias("session_start"),
                     F.col("win.end").alias("session_end"), "n_events", "sum_value")
    return _run_to_memory(out, "session_windows", "append")


def run_stateful_first_seen(spark: SparkSession, docs_path: str,
                            checkpoint_dir: str, out_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    streaming exact-dedup that emits each content hash's FIRST-seen doc only
    (the streaming counterpart of exact_dedup_groups — state = seen flag per
    content hash, grouped by hash so state is partition-local).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(docs_path).schema
    stream = spark.readStream.schema(schema).parquet(docs_path)
    hashed = stream.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
         .alias("content_hash"))

    def dedup_fn(key: tuple, pdfs, state: GroupState):
        seen = state.exists
        first: str | None = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = str(pdf["doc_id"].iloc[0])
        if not seen and first is not None:
            state.update((1,))
            yield pd.DataFrame({"content_hash": [key[0]], "first_doc_id": [first]})
        else:
            yield pd.DataFrame({"content_hash": [], "first_doc_id": []})

    out = hashed.groupBy("content_hash").applyInPandasWithState(
        dedup_fn,
        outputStructType="content_hash string, first_doc_id string",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # parquet sink (not memory): fault-tolerant, so the query RESUMES from the
    # checkpoint — state survives restarts and only new files are processed
    q = (out.writeStream.format("parquet")
         .outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_dropdup_within_watermark(spark: SparkSession, events_dir: str,
                                 checkpoint_dir: str, out_dir: str,
                                 key_cols: tuple[str, ...] = ("event_id",),
                                 watermark: str = "1 day") -> DataFrame:
    """Streaming dedup via the BUILT-IN dropDuplicatesWithinWatermark — the
    bounded-state complement of run_stateful_first_seen (VERDICT r3 #7).

    Plain streaming dropDuplicates keeps every key ever seen (state grows
    without bound); dropDuplicatesWithinWatermark evicts key state once the
    watermark passes the key's event time, which is the only shape that
    survives an unbounded stream at 100 TB/day — the contract weakens to
    "duplicates arriving within the watermark interval are dropped", exactly
    the guarantee dedup-on-ingest needs when producers retry within minutes.

    Parquet sink + checkpoint ⇒ resumable: a restart with the same checkpoint
    processes only new files and still drops duplicates of earlier keys whose
    state the watermark has not yet evicted.  Equals batch
    dropDuplicates(key) whenever all duplicates of a key arrive within the
    watermark (the harness test pins that batch equality).
    """
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema).parquet(events_dir)
              # watermarks need an instant (LTZ) event-time column, not NTZ
              .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    deduped = (stream.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(list(key_cols)))
    q = (deduped.writeStream.format("parquet")
         .outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf Python package (its
    state-server protocol is proto-encoded); this sandbox ships without it
    (probed r4: `import google.protobuf` fails, no network to install).
    The operator below is complete and its test arms itself on this probe —
    identical policy to the import-guarded media/PDF decode kernels."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def run_running_totals_tws(spark: SparkSession, events_dir: str,
                           checkpoint_dir: str, out_dir: str) -> DataFrame:
    """Per-user running totals on the NEW arbitrary-state API
    (transformWithStateInPandas, Spark 4) — the successor of
    applyInPandasWithState used by run_stateful_first_seen, with typed
    per-key state handles instead of one opaque tuple.  Requires the
    protobuf package (see tws_available) and the RocksDB state store
    (set below — the API refuses the default HDFS-backed provider).

    ValueState("n, v") accumulates (event count, value sum) per user; each
    micro-batch emits the UPDATED totals for the users it touched.  State
    lives in the checkpoint → a restart with new files continues the same
    totals (pinned by test: two-batch run equals one batch recompute).
    Value sums accumulate in the integer domain (cents) so restarts and
    partitionings cannot reorder float additions.

    The parquet sink appends one row per (user, touching micro-batch), so
    the raw files hold intermediate totals too (ADVICE r4); the return value
    dedups to the LATEST row per user (max n_events — the count is strictly
    increasing) so callers get exactly one final-total row per user.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, cents long")

        def handleInputRows(self, key, rows, timer_values):
            prev = self._state.get()
            n, cents = (int(prev[0]), int(prev[1])) if prev else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._state.update((n, cents))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "sum_value": [cents / 100.0]})

        def close(self) -> None:
            pass

    # set-then-RESTORE: flipping the provider globally would make other
    # streaming jobs' existing checkpoints (written under the default
    # HDFS-backed provider) fail to resume in the same session
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema).parquet(events_dir)
              .select("user_id",
                      F.round(F.col("value") * 100).cast("long").alias("cents")))
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    try:
        q = (out.writeStream.format("parquet")
             .outputMode("append")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        if prev_provider is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev_provider)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.read.parquet(out_dir)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def run_stream_static_enrich(spark: SparkSession, events_path: str,
                             dim_df: DataFrame, key: str = "user_id",
                             dim_col: str = "tier") -> DataFrame:
    """Stream-STATIC broadcast enrichment — the remaining streaming-join
    surface beside the watermarked stream-stream interval join: a streaming
    fact LEFT-joined to a bounded dimension (user/source/domain reputation
    table; stream rows without a dimension match keep flowing with a NULL
    attribute).  No watermark and no state: the dimension broadcasts to
    every micro-batch's tasks, so each batch is a map-side hash join — at
    10¹² events/day this is exactly how per-event reputation lookup stays
    shuffle-free.  Value sums accumulate in integer cents (micro-batch
    partial-merge order differs from a batch scan's, so a rounded float sum
    could flip at half-cent boundaries).  Run to completion the result
    equals the batch join — pinned by test, incl. the unmatched-key group.
    """
    stream = _read_events_stream(spark, events_path)
    enriched = (stream.join(F.broadcast(dim_df), key, "left")
                .groupBy(key, dim_col)
                .agg(F.count("*").alias("n"),
                     (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
                     .alias("sum_value")))
    return _run_to_memory(enriched, "enrich", "complete")


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


def run_scores_stream_to_catalog(spark: SparkSession, docs_path: str,
                                 checkpoint_dir: str, out_ref: str) -> DataFrame:
    """Streaming page scoring into a Catalog table with EXACTLY-ONCE rows.

    foreachBatch is the production sink pattern: each micro-batch runs the
    full BATCH pipeline (no streaming agg state — a doc's spans arrive in one
    file row, so per-batch scoring is complete), and the write is keyed by
    batch_id through Catalog.append — commit=batch{N} directory overwrite on
    parquet, atomic `overwrite(_batch_id = N)` snapshot commit on Iceberg.  Structured
    Streaming guarantees at-least-once batch replay after a crash between the
    write and the checkpoint commit; an idempotent keyed write turns that
    into exactly-once.  Restartable: keep the checkpoint and every invocation
    scores only newly arrived files.
    """
    from ..operators.parse import explode_docs, parse_spans
    from ..operators.score import score_pages
    from ..plans.pipeline import BRANCH_COLUMNS
    from ..sources.catalog import Catalog

    cat = Catalog(spark)
    schema = spark.read.parquet(docs_path).schema
    stream = spark.readStream.schema(schema).parquet(docs_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_spans(explode_docs(batch_df),
                             columns=BRANCH_COLUMNS["page_scores"])
        scores = score_pages(parsed).withColumn("_batch_id", F.lit(batch_id))
        cat.append(scores, out_ref, run_id=f"batch{batch_id}",
                   replace_where=f"_batch_id = {batch_id}")

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return cat.read(out_ref)


def run_watermarked_event_windows(spark: SparkSession, events_path: str,
                                  window: str = "1 day",
                                  watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling-window aggregation (late-data handling surface).

    Append mode: only windows finalized by the watermark are emitted — the
    trailing open window is withheld, which the test asserts explicitly.
    """
    stream = (_read_events_stream(spark, events_path)
              # watermarks require an instant (LTZ) event-time column, not NTZ
              .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    agg = (stream.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("win"), "event_type")
           .agg(F.count("*").alias("n")))
    out = agg.select(F.col("win.start").alias("win_start"),
                     F.col("win.end").alias("win_end"), "event_type", "n")
    return _run_to_memory(out, "event_windows", "append")


def run_stream_incremental_dedup(spark: SparkSession, new_docs_dir: str,
                                 ref_docs: DataFrame, checkpoint_dir: str,
                                 out_ref: str) -> DataFrame:
    """STREAMING daily-ingest dedup (r5): newly landed documents are banded
    PER ROW (minhash_band_keys_expr — a stateless projection, so no
    streaming-aggregation state/watermark machinery) and joined
    stream-static against the reference corpus' precomputed band index —
    the production shape where ref signatures are computed once and stored.

    Stateless join ⇒ each new doc's (new_id, ref_id) candidate matches are
    emitted exactly once per file arrival (the file source's checkpoint
    tracks processed files); the write is the Catalog keyed-batch pattern
    (idempotent overwrite per batch id), so crash-replay stays
    exactly-once.  Restartable: keep the checkpoint, land more files, rerun
    — only the new files' matches are appended (pinned by test).

    Returns the distinct accumulated candidate table (new_id, ref_id)."""
    from ..operators.dedup import minhash_band_keys_expr, reference_band_index
    from ..sources.catalog import Catalog

    cat = Catalog(spark)
    # persist: the static side joins into EVERY micro-batch — unpersisted,
    # the whole reference signature agg would re-execute per batch
    ref_bands = reference_band_index(ref_docs).persist()
    schema = spark.read.parquet(new_docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(new_docs_dir)
    keys = minhash_band_keys_expr(F.col("text"))
    new_bands = (stream
                 .select(F.col("doc_id").alias("new_id"), keys.alias("ks"))
                 .where(F.col("ks").isNotNull())
                 .select("new_id", F.explode("ks").alias("band_key")))
    joined = new_bands.join(ref_bands, "band_key")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        pairs = (batch_df.select("new_id", "ref_id").distinct()
                 .withColumn("_batch_id", F.lit(batch_id)))
        cat.append(pairs, out_ref, run_id=f"batch{batch_id}",
                   replace_where=f"_batch_id = {batch_id}")

    q = (joined.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        ref_bands.unpersist()
    return cat.read(out_ref).select("new_id", "ref_id").distinct()


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
