"""Two-set steadiness check for the end-to-end metrics.

    python3 perfbench/steadiness.py --label A            # 10 seeds per workload
    python3 perfbench/steadiness.py --label B --first-seed 101
    python3 perfbench/steadiness.py --compare A B

A set runs the benchmark command of BENCHMARK.json once for each of ten
seeds on every workload (tracing off, ``run_seconds`` from the file) and
saves the values under ``.perfbench_work/steadiness-<label>.json``.  For
each metric it prints the median and the spread: the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median.  A metric is steady when its spread stays below a third of
its bound.  ``--compare`` checks that no median of the second set is worse
than the first by more than the metric's bound.  Both exit with code 1 when
a metric is over its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUNS = 10


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def set_path(label: str) -> str:
    return os.path.join(WORK, f"steadiness-{label}.json")


def run_set(label: str, seeds: list[int]) -> bool:
    s = spec()
    values: dict[str, dict[str, list[float]]] = {}
    for w in [x["name"] for x in s["workloads"]]:
        values[w] = {m["name"]: [] for m in s["end_to_end"]}
        for seed in seeds:
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-3000:]}")
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: {res['failed']} of {res['attempted']} failed")
            print(w, seed, lines[-2], flush=True)
            for name, m in res["metrics"].items():
                values[w][name].append(m["value"])
    os.makedirs(WORK, exist_ok=True)
    with open(set_path(label), "w") as fh:
        json.dump(values, fh, indent=1)
    return report(values)


def report(values: dict) -> bool:
    """Print each metric's median and spread; False if a spread is over its bound."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    ok = True
    for w, metrics in values.items():
        for name, vals in metrics.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok &= spread <= bounds[name]
            verdict = ("steady" if spread < bounds[name] / 3 else
                       "within bound" if spread <= bounds[name] else "TOO NOISY")
            print(f"{w:18s} {name:24s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds[name]:.2f}  {verdict}  (n={len(vals)})")
    return ok


def compare(a: str, b: str) -> bool:
    """Print each median of both sets; False if the second is worse by more
    than the bound."""
    with open(set_path(a)) as fh:
        first = json.load(fh)
    with open(set_path(b)) as fh:
        second = json.load(fh)
    ok = True
    for m in spec()["end_to_end"]:
        for w in first.keys() & second.keys():
            m1 = statistics.median(first[w][m["name"]])
            m2 = statistics.median(second[w][m["name"]])
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            ok &= worse <= m["bound"]
            verdict = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
            print(f"{w:18s} {m['name']:24s} {m1:12.4f} -> {m2:12.4f}"
                  f"  worse by {worse:+.3f}  bound {m['bound']:.2f}  {verdict}")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--label")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        ok = compare(*args.compare)
    elif args.label:
        ok = run_set(args.label, list(range(args.first_seed, args.first_seed + RUNS)))
    else:
        ap.error("--label or --compare is required")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
