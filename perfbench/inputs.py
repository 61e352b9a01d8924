"""Seeded benchmark inputs: the prepare step.

Each workload's input is a pure function of (workload, seed, size).  It is
generated once, written as a directory of parquet files shaped like the
program's documents table, and cached under ``<work>/inputs`` so that no
clock ever covers generation.

    python3 perfbench/inputs.py --workload corpus_mixed --seed 7

prints the cached path (generating it first if needed).
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# docs per workload, sized so that a run (the JVM setups, a cold pass and the
# warm passes) takes about a minute on 4 cores; one interrupted-and-resumed
# txt_parts_resume pass over N_PARTS parts fits a run.
SIZES = {"corpus_mixed": 5000, "txt_parts_resume": 2000}
N_PARTS = 8
# corpus_mixed keeps the shape of the ROADMAP's gen_corpus(30000, skew_docs=4,
# skew_spans=800) corpus at a sixth of its docs: the skew docs' spans are
# scaled with the doc count (the same share of span rows), and the input is
# split into as many files as the 30k bench file has scan splits (3).  The
# parse stage's default width is the number of scan splits, and each small
# file is one split, so the layout is part of the workload.
SKEW_DOCS = 4
SKEW_SPANS = round(800 * SIZES["corpus_mixed"] / 30000)
FILES = {"corpus_mixed": 3, "txt_parts_resume": 1}
# bench.py's row-group size
ROW_GROUP = 512
KEEP_CACHED = 6


def txt_docs(n_docs: int, seed: int) -> list[dict]:
    """TXT-heavy small docs: 1-3 spans each, ~10% of spans media."""
    from page_evaluator_spark.corpus import CATEGORY_EXEMPLARS, MEDIA_KINDS

    words = [w for ws in CATEGORY_EXEMPLARS.values() for w in ws]
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        doc_id = f"t{i:07d}"
        spans = []
        for off in range(rng.randint(1, 3)):
            if rng.random() < 0.1:
                spans.append({"kind": rng.choice(MEDIA_KINDS), "text": None,
                              "media_ref": f"img://{doc_id}/{off}", "offset": off})
                continue
            lines = []
            for _ in range(rng.randint(1, 6)):
                line = " ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))
                if rng.random() < 0.1:
                    line += " wrap-"
                lines.append(line)
            spans.append({"kind": "text", "text": "\n".join(lines) + "\n",
                          "media_ref": None, "offset": off})
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


def generate(workload: str, seed: int) -> list[dict]:
    if workload == "corpus_mixed":
        from page_evaluator_spark.corpus import gen_corpus

        return gen_corpus(SIZES[workload], seed=seed, skew_docs=SKEW_DOCS,
                          skew_spans=SKEW_SPANS)
    if workload == "txt_parts_resume":
        return txt_docs(SIZES[workload], seed)
    raise ValueError(f"unknown workload: {workload}")


def files(path: str) -> list[str]:
    """The parquet files of an input directory, in doc order."""
    return [os.path.join(path, n) for n in sorted(os.listdir(path)) if n.endswith(".parquet")]


def prepare(workload: str, seed: int) -> str:
    """Path of the cached input directory for (workload, seed, size)."""
    from page_evaluator_spark.corpus import write_corpus_parquet

    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"{workload}-s{seed}-n{SIZES[workload]}")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        os.makedirs(tmp)
        docs = generate(workload, seed)
        n = FILES[workload]
        for i in range(n):  # contiguous slices, so doc order is file order
            part = docs[len(docs) * i // n:len(docs) * (i + 1) // n]
            write_corpus_parquet(os.path.join(tmp, f"part-{i}.parquet"), part,
                                 row_group_size=ROW_GROUP)
        os.replace(tmp, path)
        # the cache serves the repeated runs of one seed; keep it bounded
        cached = sorted((os.path.join(cache, n) for n in os.listdir(cache)
                         if not n.endswith(".tmp")), key=os.path.getmtime)
        for old in cached[:-KEEP_CACHED]:
            shutil.rmtree(old)
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    print(prepare(args.workload, args.seed))


if __name__ == "__main__":
    main()
