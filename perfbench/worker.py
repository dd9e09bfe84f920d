"""One benchmark run of one workload, in a fresh process.

Started by run.py with the run environment already pinned. Sequence:

  session start -> warm-up pass on the small input -> timed pass(es)
  on the full input -> [traced pass] -> correctness check -> result
  JSON written to the path named in the request.

Input preparation (reading the generated tables, deriving AFC legs) is
untimed and is not part of set-up.

End-to-end numbers come from outside the program (wall clock, /proc);
per-layer numbers come from the traced pass: a span per unit, Spark
jobs attached to units by job group, counters from the status store.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402
from workloads import (  # noqa: E402
    CURATE_STAGES,
    GRAPH_QUERIES,
    TRANSIT_UNITS,
    PASS_S,
    WORKLOADS,
    checksum,
    dir_stats,
    legs_counted,
)


def _merge_intervals(iv: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


class Runner:
    def __init__(self, spark, wl):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = wl
        self.py_pid = os.getpid()
        self.errors: list[str] = []

    def run_pass(self, ctxs: list, out: str, traced: bool = False, warm: bool = False) -> dict:
        units = [
            u
            for part, ctx in zip(self.wl.parts, ctxs)
            if not warm or part.warm_units
            for u in part.units(self.spark, ctx, out)
            if not warm or u.name in part.warm_units
        ]
        spans = []
        layers: dict[str, float] = {}
        cpu0 = probes.tree_cpu_s(self.py_pid)
        steal0 = probes.host_steal_s()
        t0 = time.perf_counter()
        e0 = time.time()
        for u in units:
            if traced:
                self.sc.setJobGroup(f"{self.wl.name}/{u.name}", u.name)
            us = time.time()
            try:
                layers.update(u.run())
            except Exception:  # counted as a failed output by the check
                self.errors.append(f"{u.name}: {traceback.format_exc(limit=3)}")
            spans.append({"name": u.name, "start": us, "end": time.time()})
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "cpu_s": probes.tree_cpu_s(self.py_pid) - cpu0,
            "steal_s": probes.host_steal_s() - steal0,
            "start": e0,
            "end": time.time(),
            "units": spans,
            "layers": layers,
        }


def _trace(wl_name: str, p: dict, store: probes.StatusStore) -> tuple[list, dict]:
    """Spans workload -> unit [-> curate stage] -> Spark job, with self
    times, and the Spark counters of the traced pass and of each unit."""
    store.settle()
    jobs = [j for j in store.jobs() if j.get("submissionTime")]
    stages = store.stages()
    lo, hi = p["start"] * 1e3, p["end"] * 1e3
    pass_jobs = [j for j in jobs if lo <= j["submissionTime"] <= hi]
    spans = [{"id": 0, "parent": None, "kind": "workload", "name": wl_name,
              "start": p["start"], "end": p["end"]}]
    by_unit: dict[str, list] = {}
    for j in pass_jobs:
        group = j.get("jobGroup") or ""
        if group.startswith(wl_name + "/"):
            by_unit.setdefault(group.split("/", 1)[1], []).append(j)
        else:  # a job started outside any group: attach by time
            t = j["submissionTime"] / 1e3
            for u in p["units"]:
                if u["start"] <= t <= u["end"]:
                    by_unit.setdefault(u["name"], []).append(j)
    unit_counters = {}
    for u in p["units"]:
        uid = len(spans)
        spans.append({"id": uid, "parent": 0, "kind": "unit", "name": u["name"],
                      "start": u["start"], "end": u["end"]})
        parents = [(uid, u["start"], u["end"])]
        if u["name"] == "curate_corpus":  # curate's own stage timings, in order
            t = u["start"]
            for s in CURATE_STAGES:
                d = p["layers"].get(f"curate.{s}.wall_s", 0.0)
                sid = len(spans)
                spans.append({"id": sid, "parent": uid, "kind": "stage", "name": s,
                              "start": t, "end": t + d})
                parents.append((sid, t, t + d))
                t += d
        ujobs = by_unit.get(u["name"], [])
        for j in ujobs:
            js, je = j["submissionTime"] / 1e3, (j.get("completionTime") or hi) / 1e3
            parent = next((pid for pid, a, b in reversed(parents) if a <= js <= b), uid)
            spans.append({"id": len(spans), "parent": parent, "kind": "job",
                          "name": f"job {j['jobId']}", "start": js, "end": je,
                          "status": j["status"]})
        unit_counters[u["name"]] = probes.job_counters(ujobs, stages)
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        inside = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        s["self_s"] = (s["end"] - s["start"]) - _merge_intervals(inside)
        if s["kind"] == "unit":
            s["counters"] = unit_counters[s["name"]]
    total = probes.job_counters(pass_jobs, stages)
    write_jobs = [
        j for j in pass_jobs
        if any(stages.get(sid, {}).get("outputBytes", 0) > 0 for sid in j["stageIds"])
    ]
    total["write_s"] = sum(
        ((j.get("completionTime") or hi) - j["submissionTime"]) / 1e3 for j in write_jobs
    )
    total["units"] = unit_counters
    return spans, total


def _layers(traced, tot, store_mb, session, rss, untraced_wall, failed_frac, out):
    """Every per-layer metric of BENCHMARK.json; a unit the workload does
    not run reads 0."""
    slots = int(os.environ["SPARK_GRAFT_CPUS"])
    files, nbytes = dir_stats(out)
    layer = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "jvm.peak_rss_mb": rss,
        "trace.overhead_s": traced["wall_s"] - untraced_wall,
        "failed_frac": failed_frac,
        "shared.cached_mem_mb": store_mb[0],
        "shared.cached_disk_mb": store_mb[1],
        "sources.write_s": tot["write_s"],
        "sources.files_written": files,
        "sources.bytes_written_mb": nbytes / 2**20,
        "spark.idle_core_s": traced["wall_s"] * slots - tot["executor_run_s"],
    }
    for k in probes.COUNTERS:
        layer[f"spark.{k}"] = tot[k]
    layer.update({f"plans.{u}.wall_s": 0.0 for u in TRANSIT_UNITS})
    layer.update({f"curate.{s}.wall_s": 0.0 for s in CURATE_STAGES})
    for q in GRAPH_QUERIES:
        layer[f"graph.{q}.wall_s"] = 0.0
        layer[f"graph.{q}.jobs"] = 0
    for u in traced["units"]:
        if u["name"] in TRANSIT_UNITS:
            layer[f"plans.{u['name']}.wall_s"] = u["end"] - u["start"]
        elif u["name"] in GRAPH_QUERIES:
            layer[f"graph.{u['name']}.wall_s"] = u["end"] - u["start"]
            layer[f"graph.{u['name']}.jobs"] = tot["units"][u["name"]]["jobs"]
    layer.update({k: v for k, v in traced["layers"].items() if k in layer})
    return layer


def main() -> None:
    req = json.loads(sys.argv[1])
    t_proc = probes.process_start_epoch()
    wl = WORKLOADS[req["workload"]]
    from ad_data_pipelines_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # JVM temp files stay inside the run directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            "-XX:-UsePerfData",
        },
    )
    start_s = time.time() - t_proc
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    runner = Runner(spark, wl)
    out_root = req["out_dir"]
    ins = req["inputs"]

    t = time.perf_counter()
    warm_ctxs = [p.prepare(spark, ins[p.kind]["warm"]) if p.warm_units else None for p in wl.parts]
    inputs_s = time.perf_counter() - t
    warm = runner.run_pass(warm_ctxs, f"{out_root}/warm", warm=True)
    session = {"start_s": start_s, "warmup_s": warm["wall_s"]}
    setup_s = start_s + warm["wall_s"]
    t = time.perf_counter()
    ctxs = [p.prepare(spark, ins[p.kind]["full"]) for p in wl.parts]
    inputs_s += time.perf_counter() - t

    calibration = [probes.calibration_s()]
    passes, traced = [], None
    if req["trace"]:
        untraced_wall = req["untraced_wall_s"]
        if untraced_wall is None:  # no untraced run recorded in this checkout
            passes.append(runner.run_pass(ctxs, f"{out_root}/pass0"))
            untraced_wall = passes[0]["wall_s"]
        store = probes.StatusStore(spark)
        traced = runner.run_pass(ctxs, f"{out_root}/traced", traced=True)
        store_mb = store.cached_mb()
        check_dir = f"{out_root}/traced"
    else:
        n_passes = max(1, round(req["seconds"] / PASS_S))
        passes = [runner.run_pass(ctxs, f"{out_root}/pass{k}") for k in range(n_passes)]
        check_dir = f"{out_root}/pass{n_passes - 1}"
    rss = probes.peak_rss_mb(jvm_pid)
    calibration.append(probes.calibration_s())

    # --- correctness: every output of the last pass -----------------------
    expected = req["expected"]
    results, failed = {}, 0
    outputs = [o for p in wl.parts for o in p.outputs(check_dir)]
    for name, path, fmt in outputs:
        try:
            got = list(checksum(spark, path, fmt))
        except Exception as e:  # an output that is missing or unreadable
            got = f"error: {type(e).__name__}"
        results[name] = got
        if expected is not None and got != expected.get(name):
            failed += 1
    attempted = len(outputs)
    if "transit" in ins:
        attempted += 1
        legs = ins["transit"]["props"]["legs"]
        results["legs_counted"] = [legs_counted(spark, check_dir), legs]
        if results["legs_counted"][0] != legs:
            failed += 1
    failed = min(attempted, failed + len(runner.errors))

    res = {
        "attempted": attempted,
        "failed": failed,
        "errors": runner.errors,
        "checksums": results,
        "detail": {
            **session,
            "inputs_s": inputs_s,
            "pass_walls": [p["wall_s"] for p in passes],
            "pass_cpus": [p["cpu_s"] for p in passes],
            "pass_host_steal_s": [p["steal_s"] for p in passes],
            "pass_units": [{u["name"]: u["end"] - u["start"] for u in p["units"]} for p in passes],
            "peak_rss_mb": rss,
            "calibration_s": calibration,
        },
    }
    for ctx in ctxs:
        if "stats" in ctx:  # curate's own counts
            res["detail"]["curate_stats"] = {
                k: v for k, v in ctx["stats"].items() if isinstance(v, (int, float))
            }
    if traced is None:
        wall = statistics.median(p["wall_s"] for p in passes)
        rows = sum(ins[p.kind]["props"][p.rows_key] for p in wl.parts)
        res["e2e"] = {
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "setup_s": setup_s,
        }
    else:
        spans, tot = _trace(wl.name, traced, store)
        res["layers"] = _layers(
            traced, tot, store_mb, session, rss, untraced_wall,
            failed / attempted, f"{out_root}/traced",
        )
        res["spans"] = spans

    spark.stop()
    with open(req["result_path"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
