#!/usr/bin/env python
"""Production job entry point (ship path: spark-submit --py-files).

The Spark re-expression of the reference CLI (Main.java:52-73's JSAP arg
parse, widened from one file to a corpus):

  spark-submit --py-files pageeval.zip jobs/run_pipeline.py \
      --input  <documents table: iceberg name or parquet path> \
      --output <output root: iceberg namespace or directory> \
      [--n-parts 64] [--repartition 512] [--run-id r42] [--max-parts K] \
      [--lexicon <headword table/path>] [--quiet]

Resumable: re-invoking with the same --output continues from the lineage
table (only uncommitted parts are processed).
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Score OCR page quality over a span corpus")
    p.add_argument("--input", required=True, help="documents table (doc_id, spans)")
    p.add_argument("--output", required=True, help="output root (tables created within)")
    p.add_argument("--n-parts", type=int, default=64,
                   help="stable lineage partition count (resume granularity)")
    p.add_argument("--repartition", type=int, default=None,
                   help="span-level shuffle width before the parse UDF (skew spread)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--max-parts", type=int, default=None,
                   help="cap parts this invocation (testing/chunked execution)")
    p.add_argument("--lexicon", default=None,
                   help="optional lexicon table/path for match-rate scoring")
    p.add_argument("--master", default=None)
    p.add_argument("-q", "--quiet", action="store_true",
                   help="print only 'docs,seconds' like the reference's -q mode")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from page_evaluator_spark.operators.lexicon import page_match_rates
    from page_evaluator_spark.plans.incremental import IncrementalRunner
    from page_evaluator_spark.session import get_spark
    from page_evaluator_spark.sources.catalog import Catalog

    spark = get_spark(app_name="page-evaluator", master=args.master)
    if args.quiet:
        spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(spark)
    t0 = time.time()

    docs = catalog.read(args.input)
    runner = IncrementalRunner(spark, args.output, n_parts=args.n_parts,
                               repartition=args.repartition)
    run_id = args.run_id or f"run_{uuid.uuid4().hex[:8]}"
    done = runner.run(docs, run_id=run_id, max_parts=args.max_parts)

    if args.lexicon:
        from page_evaluator_spark.operators.parse import parse_documents

        lex = catalog.read(args.lexicon)
        parsed = parse_documents(docs, repartition=args.repartition)
        # the rates cover the whole input on every invocation, so a resume
        # replaces the table instead of appending a second copy
        rates = page_match_rates(parsed, lex)
        catalog.overwrite(rates, f"{args.output}/lexicon_match_rates")

    # docs scored by THIS invocation: the counts its own part writes observed
    n_docs = sum(runner.part_counts[p]["n_docs"] for p in done)
    dt = time.time() - t0
    if args.quiet:
        print(f"{n_docs},{dt:.3f}")
    else:
        print(f"run_id={run_id} parts_committed={done} docs_scored={n_docs} "
              f"pending={runner.pending_parts()} seconds={dt:.1f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
