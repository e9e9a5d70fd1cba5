"""Benchmark command: run one workload in a fresh engine process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command makes the workload's inputs
from the seed (excluded from every metric), starts ``perfbench/engine.py``
in a new process with its own warehouse, local dirs and temp dir under
``.perfbench/<workload>/``, samples the RSS of that process tree from
outside, checks every query result against its DuckDB oracle, prints each
metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones from a traced run, whose spans are written to
``.perfbench/<workload>/trace.json``.

``--base`` picks the base tables under ``perfbench/data`` (default
``sf0.01``; the smoke test uses ``sf0.001``).
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
import threading
import time

import spans
from workloads import WORKLOADS

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))

#: whole-run limit, under the 180 s a run may take
RUN_LIMIT_S = 170.0
#: driver JVM heap: far above what the inputs need, and capped so the
#: heap's growth, and with it the sampled RSS, stays bounded
DRIVER_MEM = "1g"
SAMPLE_S = 0.2

#: per-layer metrics reported on the last line of a traced run
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.registry_load_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.eager_jobs": "count",
    "plans.driver_s": "s",
    "plans.driver_share": "ratio",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.cpu_ratio": "ratio",
    "operators.utilization": "ratio",
    "functions.python_sent_mb": "MB",
    "functions.python_rows_returned": "count",
    "sources.scan_rows": "count",
    "sources.scan_mb": "MB",
    "sources.scan_s": "s",
    "sources.warehouse_write_mb_cold": "MB",
    "sources.warehouse_write_mb_warm": "MB",
    "sources.warehouse_bytes": "B",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "trace_overhead_ratio": "ratio",
}
#: per-layer times that read zero on a workload that skips the layer;
#: printed and written to the trace, not put on the last line
DETAIL_UNITS = {
    "operators.gc_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "functions.python_run_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "peak_rss_mb": "MB",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- process tree -----------------------------------------------------


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def _pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1e3
    return 0.0


def tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Resident MB of a process and all its descendants, summed by command
    name (``java``, ``python``, ...). Each process counts its proportional
    share (PSS), so pages that forked Python workers, or a JVM child
    between fork and exec, share with their parent count once."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[str, float] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        try:
            rss = _pss_mb(pid)
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            rss, comm = 0.0, ""
        if rss:
            out[comm] = out.get(comm, 0.0) + rss
        todo.extend(kids.get(pid, []))
    return out


def stop_group(pgid: int) -> None:
    """Kill every process of the engine's group and wait until none is left."""
    for _ in range(200):
        members = [p for p, (_, g) in _procs().items() if g == pgid]
        if not members:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.05)
    fail(f"processes of group {pgid} did not end")


# --- one run ------------------------------------------------------------


def launch(root: str, work: str, cfg: dict) -> tuple[dict, float, float]:
    """Run the engine; return its result and launch time. The result
    gains ``rss_peaks_mb``, the peak tree RSS sampled in set-up and in
    each pass, and ``rss_max_parts_mb``, the run's highest sample split
    by command name."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_WAREHOUSE": cfg["warehouse"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # no hsperfdata file, which the JVM would put in /tmp whatever
        # java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    log = open(os.path.join(work, "engine.log"), "w")
    state = {"phase": "setup", "timed": True, "peaks": {}, "max": 0.0, "parts": {}}
    t_launch = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "engine.py"), cfg_path],
        cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
        start_new_session=True,
    )

    def sample() -> None:
        while state["timed"]:
            parts = tree_rss_mb(proc.pid)
            total, phase = sum(parts.values()), state["phase"]
            state["peaks"][phase] = max(state["peaks"].get(phase, 0.0), total)
            if total > state["max"]:
                state["max"], state["parts"] = total, parts
            time.sleep(SAMPLE_S)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    timer = threading.Timer(RUN_LIMIT_S - (time.time() - T0), proc.kill)
    timer.start()
    ready = None
    try:
        for line in proc.stdout:
            word = line.split()
            if word[:1] == ["ready"]:
                ready = float(word[1])
            elif word[:1] == ["pass"]:
                state["phase"] = word[1]
            elif word[:1] == ["timed_done"]:
                state["timed"] = False
        proc.wait()
    finally:
        timer.cancel()
        state["timed"] = False
        sampler.join()
        stop_group(proc.pid)
        log.close()
    if proc.returncode != 0 or ready is None:
        with open(os.path.join(work, "engine.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"engine process exited with {proc.returncode}")
    with open(cfg["out"]) as f:
        res = json.load(f)
    res["rss_peaks_mb"], res["rss_max_parts_mb"] = state["peaks"], state["parts"]
    return res, t_launch


# --- metrics ------------------------------------------------------------


def _wall(p: dict) -> float:
    return p["end"] - p["start"]


def outcome(res: dict) -> tuple[int, int, dict]:
    """(attempted, failed, per-query problems). An execution fails if it
    raised, or if its query's checked result disagreed with the oracle."""
    attempted = failed = 0
    problems = {n: list(p) for n, p in res["checks"].items() if p}
    for p in res["passes"]:
        for q in p["queries"]:
            attempted += 1
            if "error" in q:
                failed += 1
                problems.setdefault(q["name"], []).append(q["error"])
            elif res["checks"].get(q["name"]):
                failed += 1
    return attempted, failed, problems


def end_to_end(res: dict, t_launch: float) -> tuple[dict, dict]:
    warm = [_wall(p) for p in res["passes"][1:] if not p["traced"]]
    metrics = {
        "setup_s": res["ready"] - t_launch,
        "cold_pass_s": _wall(res["passes"][0]),
        "warm_pass_s": statistics.median(warm),
        # median over the passes of each pass's peak, so one pass that
        # caught an extra Python worker alive does not set the figure
        "peak_rss_mb": statistics.median(
            res["rss_peaks_mb"][p["id"]] for p in res["passes"]
        ),
    }
    per_query: dict[str, list[float]] = {}
    for p in res["passes"][1:]:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["end"] - q["start"])
    detail = {
        "warm_pass_tail": spans.tail(warm),
        "warm_query_median_s": {n: statistics.median(v) for n, v in per_query.items()},
        "setup_parts_s": res["setup"],
    }
    return metrics, detail


def _stream_totals(batches: list[dict]) -> dict:
    d = lambda b, k: b.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
    last: dict[str, dict] = {}
    for b in batches:
        last[b["runId"]] = b
    return {
        "batches": len(batches),
        "input_rows": sum(b.get("numInputRows", 0) for b in batches),
        "trigger_s": sum(d(b, "triggerExecution") for b in batches),
        "add_batch_s": sum(d(b, "addBatch") for b in batches),
        "planning_s": sum(d(b, "queryPlanning") for b in batches),
        "commit_s": sum(d(b, k) for b in batches for k in ("walCommit", "commitOffsets", "commitBatch")),
        "state_rows": sum(o.get("numRowsTotal", 0) for b in last.values() for o in b.get("stateOperators", [])),
        "state_mb": sum(o.get("memoryUsedBytes", 0) for b in last.values() for o in b.get("stateOperators", [])) / 1e6,
    }


def layer_pass(p: dict, cores: int) -> tuple[dict, list[dict]]:
    """Per-layer totals of one traced pass, and its per-query split."""
    qs = p["queries"]
    splits = [
        spans.query_split(
            {**q, "build": {"start": q["start"], "end": q["build_end"]}}, cores
        )
        for q in qs
    ]
    tot = spans.pass_split(splits, cores)
    stages = [s for q in qs for s in q["stages"]]
    ssum = lambda k: sum(s[k] for s in stages)  # noqa: E731
    sql = lambda k: sum(q["sql"][k] for q in qs)  # noqa: E731
    stream = _stream_totals([b for q in qs for b in q["batches"]])
    run_s, cpu_s = ssum("run_s"), ssum("cpu_s")
    out = {
        "plans.build_s": tot["build_s"],
        "plans.build_self_s": tot["build_self_s"],
        "plans.eager_jobs": tot["eager_jobs"],
        "plans.driver_s": tot["driver_s"],
        "plans.driver_share": tot["driver_share"],
        "operators.jobs": sum(len(q["jobs"]) for q in qs),
        "operators.stages": len(stages),
        "operators.tasks": ssum("tasks"),
        "operators.run_s": run_s,
        "operators.cpu_s": cpu_s,
        "operators.gc_s": ssum("gc_s"),
        "operators.shuffle_read_mb": ssum("shuffle_read_mb"),
        "operators.shuffle_write_mb": ssum("shuffle_write_mb"),
        "operators.spill_mb": ssum("spill_mb"),
        "operators.cpu_ratio": cpu_s / run_s if run_s > 0 else 0.0,
        "operators.utilization": tot["utilization"],
        "functions.python_boot_s": sql("python_boot_s"),
        "functions.python_init_s": sql("python_init_s"),
        "functions.python_run_s": sql("python_run_s"),
        "functions.python_sent_mb": sql("python_sent_b") / 1e6,
        "functions.python_rows_returned": sql("python_rows"),
        "sources.scan_rows": ssum("input_rows"),
        "sources.scan_mb": ssum("input_mb"),
        "sources.scan_s": sql("scan_s"),
    }
    out.update({f"streaming.{k}": v for k, v in stream.items()})
    return out, [dict(s, name=q["name"]) for q, s in zip(qs, splits)]


def per_layer(res: dict) -> tuple[dict, dict]:
    cores = res["cores"]
    cold, warm = res["passes"][0], res["passes"][1:]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    layers = [layer_pass(p, cores) for p in traced]
    metrics = {k: statistics.median(l[0][k] for l in layers) for k in layers[0][0]}
    metrics.update({
        "session.start_s": res["setup"]["start_s"],
        "session.registry_load_s": res["setup"]["registry_load_s"],
        "session.warmup_s": res["setup"]["warmup_s"],
        "sources.warehouse_write_mb_cold": cold["warehouse_write_b"] / 1e6,
        "sources.warehouse_write_mb_warm": max(p["warehouse_write_b"] for p in traced) / 1e6,
        "sources.warehouse_bytes": traced[-1]["warehouse_b"],
        "trace_overhead_ratio": statistics.median(_wall(p) for p in traced)
        / statistics.median(_wall(p) for p in plain),
    })
    detail = {
        "cold_pass": layer_pass(cold, cores)[0],
        "per_query_last_traced_pass": layers[-1][1],
    }
    return metrics, detail


def span_tree(res: dict, t_launch: float, t_end: float) -> list[dict]:
    """run -> setup | pass -> query -> build, action -> job -> stage;
    micro-batches hang under the build span that ran them."""
    out = [{"id": "run", "parent": None, "start": t_launch, "end": t_end},
           {"id": "setup", "parent": "run", "start": t_launch, "end": res["ready"]}]
    for p in res["passes"]:
        out.append({"id": p["id"], "parent": "run", "start": p["start"], "end": p["end"]})
        for q in p["queries"]:
            qid = q["id"]
            out += [
                {"id": qid, "parent": p["id"], "start": q["start"], "end": q["end"],
                 "error": q.get("error")},
                {"id": f"{qid}.build", "parent": qid, "start": q["start"], "end": q["build_end"]},
                {"id": f"{qid}.action", "parent": qid, "start": q["build_end"], "end": q["end"]},
            ]
            for j in q.get("jobs", []):
                side = "build" if j["start"] < q["build_end"] else "action"
                out.append({"id": f"job{j['id']}", "parent": f"{qid}.{side}",
                            "start": j["start"], "end": j["end"]})
            for s in q.get("stages", []):
                out.append({**s, "id": f"stage{s['id']}", "parent": f"job{s['job']}"})
            for b in q.get("batches", []):
                start = spans.iso_epoch(b["timestamp"])
                out.append({"id": f"batch{b['runId']}.{b['batchId']}", "parent": f"{qid}.build",
                            "start": start,
                            "end": start + b.get("durationMs", {}).get("triggerExecution", 0) / 1e3,
                            "input_rows": b.get("numInputRows", 0)})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="sf0.01")
    args = ap.parse_args()

    root = os.getcwd()
    base = os.path.join(HERE, "data", args.base)
    for need in ("apache_beam_challange_spark/__init__.py", "tools/check_correctness.py",
                 "tools/scale_testdata.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    if not os.path.isdir(base):
        fail(f"no base tables at {base}")

    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d))
    sf_dir = os.path.join(work, "inputs")

    import inputs

    t = time.time()
    rows = inputs.generate(root, base, sf_dir, wl["scale"], args.seed)
    gen_s = time.time() - t
    cfg = {
        "root": root,
        "sf_dir": sf_dir,
        "warehouse": os.path.join(work, "warehouse"),
        "queries": wl["queries"],
        "pass_s": wl["pass_s"],
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "out": os.path.join(work, "result.json"),
    }
    res, t_launch = launch(root, work, cfg)

    attempted, failed, problems = outcome(res)
    e2e, e2e_detail = end_to_end(res, t_launch)
    detail = {"workload": args.workload, "seed": args.seed, "base": args.base,
              "scale": wl["scale"], "input_rows": rows, "cores": res["cores"],
              "warm_passes": len(res["passes"]) - 1, **e2e_detail,
              "failed_ratio": failed / attempted, "problems": problems,
              "inputs_s": gen_s, "check_s": res["check_s"],
              "rss_peaks_mb": res["rss_peaks_mb"],
              "rss_max_parts_mb": res["rss_max_parts_mb"]}
    units = dict(END_TO_END_UNITS)
    shown = dict(e2e, failed_ratio=failed / attempted)
    units["failed_ratio"] = "ratio"
    if args.trace:
        layer, layer_detail = per_layer(res)
        detail.update(layer_detail)
        shown.update(layer)
        units.update(PER_LAYER_UNITS, **DETAIL_UNITS)
        reported = {k: layer[k] for k in PER_LAYER_UNITS}
        report_units = PER_LAYER_UNITS
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"detail": detail, "spans": span_tree(res, t_launch, time.time())}, f)
    else:
        reported, report_units = e2e, END_TO_END_UNITS
    for k, v in shown.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": report_units[k]} for k, v in reported.items()},
    }))


if __name__ == "__main__":
    main()
