"""Structured Streaming: the AvailableNow daily aggregate equals its batch
form."""

from __future__ import annotations

import pyspark.sql.functions as F

from page_evaluator_spark.streaming.jobs import run_events_daily_availablenow


def test_streaming_daily_matches_batch(spark, sf_dir):
    got = run_events_daily_availablenow(spark, f"{sf_dir}/events.parquet")
    batch = (spark.read.parquet(f"{sf_dir}/events.parquet")
             # r5: the job keys by DATE (matches the DuckDB twin's date_trunc)
             .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"),
                      "event_type")
             .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")))
    g = {(r["day"], r["event_type"]): (r["n"], r["sum_value"]) for r in got.collect()}
    b = {(r["day"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()}
    assert g == b

