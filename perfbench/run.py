"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates (or verifies and reuses) the
seeded inputs, pins the run environment, runs the workload in a fresh
worker process and prints one JSON result line last on stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (names and units are read from it);
the traced run also writes its spans to
perfbench/_work/traces/<workload>-seed<n>.json.

`--record-expected` stores this run's output checksums as the expected
values in perfbench/expected.json (seed-independent: the seed only
permutes input row order).
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
sys.path.insert(0, HERE)

DRIVER_MEMORY = "3g"
WORKER_TIMEOUT_S = 165


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group (Python driver, JVM,
    Python workers) and wait until all have ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ad_data_pipelines_spark", "session.py")):
        print("perfbench: run from the repository root (ad_data_pipelines_spark/ "
              "not found)", file=sys.stderr)
        return 2

    import inputs
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(HERE, "_work")
    ins = {}
    for part in wl.parts:
        full_dir, props = inputs.materialize(part.kind, "full", args.seed, os.path.join(work, "inputs"))
        ins[part.kind] = {"full": full_dir, "props": props}
        if part.warm_units:
            ins[part.kind]["warm"], _ = inputs.materialize(
                part.kind, "warm", args.seed, os.path.join(work, "inputs")
            )

    run_dir = os.path.join(work, wl.name)
    shutil.rmtree(run_dir, ignore_errors=True)
    local_dir = os.path.join(run_dir, "spark-local")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)

    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as f:
        expected_all = json.load(f)
    result_path = os.path.join(run_dir, "result.json")
    history_path = os.path.join(work, "history", f"{wl.name}.jsonl")
    untraced = []
    if os.path.isfile(history_path):
        with open(history_path) as f:
            untraced = [json.loads(line)["wall_s"] for line in f]
    req = {
        "workload": wl.name,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "inputs": ins,
        "out_dir": os.path.join(run_dir, "out"),
        "expected": None if args.record_expected else expected_all.get(wl.name, {}),
        "result_path": result_path,
        # tracing overhead is measured against the untraced runs' median
        "untraced_wall_s": statistics.median(untraced) if untraced else None,
    }
    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=local_dir,
        TMPDIR=tmp_dir,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=root,
    )
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_UI", "SPARK_PERIODIC_GC"):
        env.pop(var, None)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(req)],
            cwd=run_dir,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        def stop(signum, frame):
            _stop_group(proc.pid)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exit code {code}"
        print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    if args.record_expected:
        expected_all[wl.name] = {
            k: v for k, v in res["checksums"].items() if k != "legs_counted"
        }
        with open(expected_path, "w") as f:
            json.dump(expected_all, f, indent=1, sort_keys=True)
            f.write("\n")
    for err in res["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)

    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace_path = os.path.join(work, "traces", f"{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed,
                       "inputs": {k: v["props"] for k, v in ins.items()},
                       "spans": res["spans"], "layers": res["layers"]}, f, indent=1)
        values, listed = res["layers"], spec["per_layer"]
    else:
        values, listed = res["e2e"], spec["end_to_end"]
        os.makedirs(os.path.dirname(history_path), exist_ok=True)
        with open(history_path, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": res["e2e"]["wall_s"]}) + "\n")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"detail": res["detail"], "checksums": res["checksums"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
