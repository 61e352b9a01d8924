"""The benchmark's one command.

    python3 perfbench/run.py --workload corpus_mixed --seed 1 --seconds 12 --trace 0

Generates (or reuses) the seeded input before any clock starts, then starts
one fresh process per measurement (workload.py): the measuring process, plus
setup probes when tracing is off.  Each runs at ``local[nproc]`` with the
program's own defaults.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is deleted at the end, except the
input cache.

Prints an info line (nproc, load average, versions) and, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: every end-to-end metric of
BENCHMARK.json with ``--trace 0``, every per-layer metric with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

DEADLINE_S = 170
# setup samples per untraced run: the measuring process plus the probes
SETUP_SAMPLES = 2
# knobs that change what the program does; unset so its defaults are measured
UNSET = ("PAGEEVAL_FAST_WORKERS", "PYSPARK_PYTHON", "PYSPARK_DRIVER_PYTHON",
         "PYSPARK_SUBMIT_ARGS", "SPARK_MASTER", "SPARK_DRIVER_MEMORY")
# the traced run's own end-to-end numbers, next to the per-layer ones
TRACED = {"traced.setup_s": "setup_s", "traced.first_commit_s": "first_commit_s",
          "traced.docs_per_s": "docs_per_s"}


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def child_env(run_dir: str, nproc: int, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    conf = [f"spark.driver.defaultJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false"]
    env.update(
        SPARK_GRAFT_CPUS=str(nproc), TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # read by pyspark when it launches the JVM, so the package's session
        # factory stays untouched
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in conf) + " pyspark-shell")
    return env


def run_child(mode: str, args, input_path: str, run_dir: str, env: dict,
              deadline: float) -> dict:
    result = os.path.join(run_dir, f"{mode}-{time.monotonic_ns()}.json")
    log = os.path.join(run_dir, "child.log")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--mode", mode,
           "--workload", args.workload, "--input", input_path,
           "--seconds", str(args.seconds), "--work", run_dir, "--result", result]
    with open(log, "a") as fh:
        spawned = time.time()
        proc = subprocess.Popen(cmd + ["--spawned", repr(spawned)], cwd=run_dir, env=env,
                                stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM and its Python workers share the child's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{mode} process {'timed out' if code is None else f'exited with {code}'}")
    with open(result) as fh:
        res = json.load(fh)
    res["wall_s"] = time.time() - spawned
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    deadline = started + DEADLINE_S

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("page_evaluator_spark/__init__.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    input_path = inputs.prepare(args.workload, args.seed)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(inputs.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load = os.getloadavg()
    cpu0 = cpu_times()
    try:
        env = child_env(run_dir, nproc, bool(args.trace))
        mode = "trace" if args.trace else "measure"
        res = run_child(mode, args, input_path, run_dir, env, deadline)
        setups, walls = [res["setup_s"]], [res["wall_s"]]
        if not args.trace:
            for _ in range(SETUP_SAMPLES - 1):
                probe = run_child("probe", args, input_path, run_dir, env, deadline)
                setups.append(probe["setup_s"])
                walls.append(probe["wall_s"])
        res["setup_s"] = statistics.median(setups)
        from check import verify

        attempted, failed, problems = verify(res["checked_root"], input_path,
                                             res.get("checked_parts"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    # share of CPU time the hypervisor gave to other guests during the run
    steal = cpu[7] / max(1, sum(cpu))
    if args.trace:
        res.update({name: res[src] for name, src in TRACED.items()})
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "loadavg": load, "steal": steal,
            "spark": res["spark_version"], "python": res["python_version"],
            "pass_walls_s": res["pass_walls_s"], "setup_samples_s": setups,
            "process_walls_s": walls, "problems": problems,
            "run_s": time.monotonic() - started}
    print(json.dumps(info))
    missing = [m["name"] for m in wanted if res.get(m["name"]) is None]
    if missing:
        fail(f"no value for {missing}")
    metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
