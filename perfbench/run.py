#!/usr/bin/env python3
"""graft benchmark, end to end and layer by layer, with lineage on.

Usage: python3 perfbench/run.py --workload {curation,capture,catalog}
           --seed N --seconds S --trace {0,1}

Builds graft and the harness from source (perfbench/build.py), runs the
workload on the project's reference tables (copies under perfbench/data;
the seed permutes the op order, and seeds the catalog workload's lineage
DAG) in one JVM (`local[4]`, one client, ops issued one after another, graft
enabled with `Lineage.install(spark, JsonlFileSink)`), checks every op's
output, lineage record or closure, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
a span file plus a per-layer report are written under the build dir.
"""
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

import build  # noqa: E402

MB = 1024.0 * 1024.0
JVM_BUDGET_S = 150
DATA = os.path.join(HERE, "data")
# data: input scale of the timed ops; warm: of the warm-up and of the
# curation output check (curation's timed ops write `noop`)
WORKLOADS = {
    "curation": {"data": "sf0.1", "warm": "sf0.01"},
    "capture": {"data": "sf0.01", "warm": "sf0.01"},
    "catalog": {"data": None, "warm": None},
}
# the op_tail_ms quantile (perfbench/WORKLOADS.md says why not higher)
TAIL = 0.9
MODULES = ["Dedup", "Similarity", "TextAnalysis", "Multimodal", "Pipeline",
           "Relational", "Stats", "EventOps", "Warehouse", "Privacy", "MlPrep",
           "Sources"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile (p in [0, 1]): a
    Beta-weighted mean of all order statistics. On the 10-20 ops of a run
    it is far steadier than one order statistic, which jumps across the
    gaps between queries' latencies."""
    import numpy as np
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cuts = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], t]), cdf / cdf[-1])
    cuts[-1] = 1.0
    return float(np.dot(np.diff(cuts), x))


def med(xs):
    return statistics.median(xs) if xs else 0.0


def code_identity(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source-sha256:{digest[:16]}"


def table_rows(data):
    """Row count of each table in an input directory (parquet footers)."""
    import pyarrow.parquet as pq
    return {f[:-len(".parquet")]: pq.read_metadata(os.path.join(data, f)).num_rows
            for f in sorted(os.listdir(data)) if f.endswith(".parquet")}


def run_jvm(classes, args, work, data, warm, launch_us):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms1g", "-Xmx1g", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{jars}",
            "graft.perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, data, warm, str(launch_us)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        log(tail)
        raise SystemExit(f"perfbench: JVM run failed ({rc})")


def check_ops(raw, work, data, warm, cache_dir):
    """Each failed op's (kind, reason), by op id. Kind "result": the op
    threw, or its output, its query's warm-up output or its closure is
    wrong. Kind "lineage": its last action's record is missing, not
    exactly one, not `success`, or (query ops) without inputs. Capture
    checks every op's parquet output; both query workloads check each
    query's warm-up output, and a query whose warm-up output is wrong
    fails all its ops."""
    from check import Checker
    fails = {}
    for o in raw["ops"]:
        why = o["error"] or o["verify"]
        if why:
            fails[o["id"]] = ("result", why)
        elif o["lineage_error"]:
            fails[o["id"]] = ("lineage", f"lineage: {o['lineage_error']}")
    if raw["workload"] == "catalog":
        return fails
    sql = raw["oracle_sql"]
    tmp = os.path.join(work, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    cache = os.path.join(cache_dir, "oracles.json")
    ck_warm = Checker(warm, tmp, cache)
    bad = {}
    for w in raw["warm_ops"]:
        why = w["error"] or bad.get(w["name"]) or ck_warm.compare(
            sql[w["name"]], os.path.join(work, "warm", w["name"]))
        if why:
            bad[w["name"]] = f"warm-up output: {why}"
    ck = Checker(data, tmp, cache) if raw["workload"] == "capture" else None
    for o in raw["ops"]:
        if fails.get(o["id"], ("",))[0] == "result":
            continue
        why = bad.get(o["name"])
        if not why and ck:
            why = ck.compare(sql[o["name"]], o["out"])
            why = why and f"output: {why}"
        if why:
            fails[o["id"]] = ("result", why)
    return fails


def end_to_end(raw):
    ops = raw["ops"]
    walls = [(o["end_us"] - o["start_us"]) / 1e3 for o in ops]
    timed_s = (raw["timed_end_us"] - raw["timed_start_us"]) / 1e6
    return {
        "setup_s": (raw["setup_s"], "s"),
        "ops_per_s": (len(ops) / timed_s, "1/s"),
        "op_p50_ms": (quantile(walls, 0.5), "ms"),
        "op_tail_ms": (quantile(walls, TAIL), "ms"),
        "peak_rss_mb": (raw["vmhwm_kb"] / 1024.0, "MB"),
    }


def lineage_lag(raw):
    """Median time from an op's last action returning to its record being
    written by the sink (catalog freshness)."""
    return quantile([o["lag_ms"] for o in raw["ops"] if o["lag_ms"] is not None], 0.5)


def union_len(intervals, lo, hi):
    """Total length of the union of intervals clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(op, jobs, phases):
    """Partition the op's wall time: each instant goes to the innermost
    layer active then — a Spark job, else a Catalyst phase, else driver
    work in the query function or in the action. The pieces sum to the op
    wall by construction; `attribution` checks the spans it cuts by."""
    lo, hi = op["start_us"], op["end_us"]
    cuts = {lo, hi, op["built_us"]}
    for a, b in jobs + [(a, b) for _, a, b in phases]:
        cuts.update(x for x in (a, b) if lo < x < hi)
    cuts = sorted(cuts)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        m = (a + b) / 2.0
        if any(s <= m < e for s, e in jobs):
            k = "spark.jobs"
        else:
            k = next((f"plans.{n}" for n, s, e in phases if s <= m < e), None)
            k = k or ("operators.plan_build" if m < op["built_us"] else "action.driver")
        out[k] = out.get(k, 0) + (b - a)
    return out


def outside(spans, lo, hi):
    """Time of `spans` ([(start, end)]) that falls outside [lo, hi]."""
    return sum((b - a) - max(0, min(b, hi) - max(a, lo)) for a, b in spans)


# Spark stamps job events and Catalyst phases in whole milliseconds: a
# span that starts and ends inside its op can read up to 1 ms outside it
# at each end.
SPAN_SLACK_US = 2000


def attribution(raw, jobs_by, phases_by):
    """Checks the op tags the spans are attributed by: job and Catalyst
    phase time an op's tag gives it but that lies outside the op's wall
    (beyond the millisecond slack of their clocks), and job time in the
    timed phase that no op's tag claims. Any of these means self times
    are being cut from spans that do not belong to the op."""
    job_out = phase_out = 0
    bad_ops = []
    for o in raw["ops"]:
        lo, hi = o["start_us"], o["end_us"]
        jobs = jobs_by.get(o["id"], [])
        phases = [(a, b) for _, a, b in phases_by.get(o["id"], [])]
        j = max(0, outside(jobs, lo, hi) - SPAN_SLACK_US * len(jobs))
        p = max(0, outside(phases, lo, hi) - SPAN_SLACK_US * len(phases))
        job_out += j
        phase_out += p
        if j or p:
            bad_ops.append(o["id"])
    ids = {o["id"] for o in raw["ops"]}
    stray = [(j["start_us"], j["end_us"]) for j in raw["jobs"]
             if j["op"] not in ids and j["end_us"] > 0]
    t0, t1 = raw["timed_start_us"], raw["timed_end_us"]
    unattributed = sum(max(0, min(b, t1) - max(a, t0)) for a, b in stray)
    return {"job_ms_outside_op": job_out / 1e3, "phase_ms_outside_op": phase_out / 1e3,
            "unattributed_job_ms": unattributed / 1e3, "ops_with_spans_outside": bad_ops,
            "ok": not bad_ops and unattributed == 0}


def layers(raw):
    """Per-layer metrics of a traced run, plus the per-op self-time table
    and the derived spans."""
    ops = raw["ops"]
    n = max(len(ops), 1)
    ids = {o["id"] for o in ops}
    jobs_by, stages_by, events_by = {}, {}, {}
    for j in raw["jobs"]:
        if j["end_us"] > 0:
            jobs_by.setdefault(j["op"], []).append((j["start_us"], j["end_us"]))
    for s in raw["stages"]:
        stages_by.setdefault(s["op"], []).append(s)
    for e in raw["qe_events"]:
        events_by.setdefault(e["op"], []).append(e)
    tasks = raw["tasks"]

    def tsum(key):
        return sum(tasks.get(i, {}).get(key, 0) for i in ids)

    selfs, spans, phases_by = [], [], {}
    sid = max([s["id"] for s in raw["spans"]] + [0])
    span_of = {s["op"]: s["id"] for s in raw["spans"] if s["name"] == "op"}
    phase_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for o in ops:
        phases = phases_by.setdefault(o["id"], [])
        for e in events_by.get(o["id"], []):
            for name, (a, b) in e["phases"].items():
                if name in phase_ms:
                    phases.append((name, a, b))
                    phase_ms[name] += (b - a) / 1e3
        jobs = jobs_by.get(o["id"], [])
        st = self_times(o, jobs, phases)
        st["op"] = o["id"]
        st["name"] = o["name"]
        st["memo"] = o["memo"]
        st["wall_us"] = o["end_us"] - o["start_us"]
        selfs.append(st)
        for a, b in jobs:
            sid += 1
            spans.append({"id": sid, "name": "spark.job", "op": o["id"],
                          "parent": span_of.get(o["id"], 0), "start_us": a, "end_us": b})
        for name, a, b in phases:
            sid += 1
            spans.append({"id": sid, "name": f"plans.{name}", "op": o["id"],
                          "parent": span_of.get(o["id"], 0), "start_us": a, "end_us": b})
    arrivals = {}
    for a in raw["arrivals"]:
        arrivals.setdefault(a["duration_ns"], a)
    build_ms, queue_ms = [], []
    split = {"inputs": 0.0, "column_lineage": 0.0, "schema_fp": 0.0}
    for e in raw["qe_events"]:
        build_ms.append((e["end_us"] - e["start_us"]) / 1e3)
        for k in split:
            split[k] += e["split"].get(k, 0.0)
        sid += 1
        lineage_span = sid
        spans.append({"id": sid, "name": "lineage.build", "op": e["op"],
                      "parent": span_of.get(e["op"], 0),
                      "start_us": e["start_us"], "end_us": e["end_us"]})
        a = arrivals.get(e["duration_ns"])
        if a:
            queue_ms.append((a["start_us"] - e["end_us"]) / 1e3)
            spans.append({"id": sid + 1, "name": "sinks.queue", "op": e["op"],
                          "parent": lineage_span, "start_us": e["end_us"],
                          "end_us": a["start_us"]})
            spans.append({"id": sid + 2, "name": "sinks.write", "op": e["op"],
                          "parent": lineage_span, "start_us": a["start_us"],
                          "end_us": a["end_us"]})
            sid += 2
    write_ms = [(a["end_us"] - a["start_us"]) / 1e3 for a in raw["arrivals"]]
    to_json = sum(a["to_json_ms"] for a in raw["arrivals"])
    busy = sum(union_len(jobs_by.get(o["id"], []), o["start_us"], o["end_us"]) for o in ops)
    wall = sum(o["end_us"] - o["start_us"] for o in ops)
    scans = [s for i in ids for s in stages_by.get(i, []) if s["scans_files"]]
    rounds = max(raw["rounds"], 1)
    builds = sum(raw["artifacts"]["builds"].values())
    catalog = raw["workload"] == "catalog"
    m = {
        "operators.plan_build_ms": (sum(o["built_us"] - o["start_us"] for o in ops) / 1e3 / n, "ms/op"),
    }
    for mod in MODULES:
        w = [(o["end_us"] - o["start_us"]) / 1e6 for o in ops if o["module"] == mod]
        m[f"operators.{mod}.wall_s"] = (sum(w) / rounds, "s/round")
    m.update({
        "spark.jobs": (sum(len(jobs_by.get(i, [])) for i in ids) / n, "count/op"),
        "spark.stages": (sum(len(stages_by.get(i, [])) for i in ids) / n, "count/op"),
        "spark.tasks": (tsum("tasks") / n, "count/op"),
        "spark.task_run_s": (tsum("run_ms") / 1e3 / n, "s/op"),
        "spark.task_cpu_s": (tsum("cpu_ns") / 1e9 / n, "s/op"),
        "spark.gc_s": (tsum("gc_ms") / 1e3 / n, "s/op"),
        "spark.shuffle_write_mb": (tsum("shuffle_write") / MB / n, "MB/op"),
        "spark.shuffle_read_mb": (tsum("shuffle_read") / MB / n, "MB/op"),
        "spark.spill_mb": (tsum("spill") / MB / n, "MB/op"),
        "spark.peak_exec_mem_mb": (max([tasks.get(i, {}).get("peak_mem", 0) for i in ids] + [0]) / MB, "MB"),
        "spark.job_busy_s": (busy / 1e6 / n, "s/op"),
        "driver.gap_s": ((wall - busy) / 1e6 / n, "s/op"),
        "plans.analysis_ms": (phase_ms["analysis"] / n, "ms/op"),
        "plans.optimization_ms": (phase_ms["optimization"] / n, "ms/op"),
        "plans.planning_ms": (phase_ms["planning"] / n, "ms/op"),
        "lineage.lag_p50_ms": (lineage_lag(raw), "ms"),
        "lineage.records": (len(raw["arrivals"]) / n, "count/op"),
        "lineage.build_ms_sum": (sum(build_ms) / n, "ms/op"),
        "lineage.build_ms_p50": (med(build_ms), "ms"),
        "lineage.build_ms_max": (max(build_ms + [0.0]), "ms"),
        "lineage.inputs_ms": (split["inputs"] / n, "ms/op"),
        "lineage.column_lineage_ms": (split["column_lineage"] / n, "ms/op"),
        "lineage.schema_fp_ms": (split["schema_fp"] / n, "ms/op"),
        "lineage.to_json_ms": (to_json / n, "ms/op"),
        "sinks.queue_wait_ms_p50": (med(queue_ms), "ms"),
        "sinks.write_ms_sum": (sum(write_ms) / n, "ms/op"),
        "sinks.bytes": (raw["sink_file_bytes"] / n, "B/op"),
        "sinks.dropped": (max(len(raw["qe_events"]) - len(raw["arrivals"]), 0), "count"),
        "artifacts.builds": (builds / rounds, "count/round"),
        "artifacts.hit_ops": (sum(o["memo"] == "memo_hit" for o in ops) / rounds, "count/round"),
        "artifacts.retained_mb": (raw["artifacts"]["retained_bytes"] / MB, "MB"),
        "catalog.scan_ms": (sum(s["end_us"] - s["start_us"] for s in scans) / 1e3 / n if catalog else 0.0, "ms/op"),
        "catalog.levels": (sum(o["levels"] for o in ops) / n, "count/op"),
        "catalog.jobs_per_op": (sum(len(jobs_by.get(i, [])) for i in ids) / n if catalog else 0.0, "count/op"),
        "sources.bytes_written_mb": (tsum("bytes_written") / MB / n, "MB/op"),
        "trace.hook_ms": (raw["trace_cost_us"] / 1e3 / n, "ms/op"),
    })
    return m, selfs, spans, attribution(raw, jobs_by, phases_by)


def history_overhead(hist_path, workload, digest, e2e):
    """Traced vs untraced: relative change of the e2e figures against
    the median of this checkout's untraced runs of the workload."""
    base = {}
    if os.path.exists(hist_path):
        with open(hist_path) as fh:
            for line in fh:
                h = json.loads(line)
                if h["workload"] == workload and h["digest"] == digest and not h["trace"]:
                    for k, v in h["metrics"].items():
                        base.setdefault(k, []).append(v)
    return {k: (v / med(base[k]) - 1.0) * 100.0
            for k, v in e2e.items() if base.get(k) and med(base[k])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    t0 = time.time()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes, digest = build.build(build_dir)
    base = os.path.join(build_dir, "perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(DATA, spec["data"] or "")
    warm = os.path.join(DATA, spec["warm"] or "")
    context = {"loadavg_start": loadavg(), "nproc": len(os.sched_getaffinity(0)),
               "code": code_identity(digest), "seed": args.seed,
               "workload": args.workload,
               "inputs": {"data": spec["data"], "rows": table_rows(data) if spec["data"] else {}}}

    launch_us = time.time_ns() // 1000
    run_jvm(classes, args, work, data, warm, launch_us)
    jvm_s = time.time() - launch_us / 1e6
    with open(os.path.join(work, "raw.json")) as fh:
        raw = json.load(fh)
    t_check = time.time()
    fails = check_ops(raw, work, data, warm, base)
    context.update({"loadavg_end": loadavg(), "heap_max_mb": raw["heap_max_mb"],
                    "rounds": raw["rounds"],
                    "post_s": raw["post_s"], "jvm_s": round(jvm_s, 2),
                    "check_s": round(time.time() - t_check, 2),
                    "wall_s": round(time.time() - t0, 2)})
    e2e = end_to_end(raw)
    attempted = len(raw["ops"])
    fail_ratio = len(fails) / max(attempted, 1)
    dropped = len(raw["qe_events"]) - len(raw["arrivals"])
    problems = []
    problems += [f"warm-up {w['name']}: {w['error']}" for w in raw["warm_ops"] if w["error"]]
    if raw["records_malformed"]:
        problems.append(f"{raw['records_malformed']} lineage lines do not parse")
    if dropped:
        problems.append(f"{dropped} lineage records never reached the sink")
    # `correct`: every output is right — no op threw, every result and
    # closure matched, every record reached the sink and parses. An op
    # whose lineage record is invalid is counted in `failed` (and
    # op_fail_ratio) without clearing `correct`.
    correct = attempted > 0 and not problems and all(k != "result" for k, _ in fails.values())

    for op_id, (_, why) in sorted(fails.items()):
        name = next(o["name"] for o in raw["ops"] if o["id"] == op_id)
        log(f"perfbench: op {op_id} {name} failed: {why}")
    for p in problems:
        log(f"perfbench: {p}")
    print(f"context {json.dumps(context, sort_keys=True)}")
    for k, (v, unit) in e2e.items():
        print(f"{args.workload} {k} {v:.4f} {unit}")
    # printed with the end-to-end metrics but not bound by BENCHMARK.json
    # (perfbench/WORKLOADS.md says why)
    print(f"{args.workload} lineage_lag_p50_ms {lineage_lag(raw):.4f} ms")
    print(f"{args.workload} op_fail_ratio {fail_ratio:.4f} ratio")

    hist = os.path.join(base, "history.jsonl")
    if args.trace:
        m, selfs, spans, attrib = layers(raw)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
        with open(stem + ".spans.jsonl", "w") as fh:
            for s in sorted(raw["spans"] + spans, key=lambda s: s["id"]):
                fh.write(json.dumps(s) + "\n")
        cats = sorted({k for s in selfs for k in s} - {"op", "name", "memo", "wall_us"})
        report = {
            "context": context,
            "self_ms_per_op": {c: sum(s.get(c, 0) for s in selfs) / 1e3 / max(len(selfs), 1)
                               for c in cats},
            "attribution": attrib,
            "ops": selfs,
            "tracing_overhead_pct": history_overhead(
                hist, args.workload, digest, {k: v for k, (v, _) in e2e.items()}),
            "trace_hook_ms": raw["trace_cost_us"] / 1e3,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        }
        with open(stem + ".layers.json", "w") as fh:
            json.dump(report, fh, indent=1)
        for k, (v, unit) in m.items():
            print(f"{args.workload} {k} {v:.4f} {unit}")
        print(f"{args.workload} self-time report {stem}.layers.json spans {stem}.spans.jsonl")
        metrics = m
    else:
        with open(hist, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "digest": digest, "trace": 0,
                                 "seed": args.seed,
                                 "metrics": {k: v for k, (v, _) in e2e.items()}}) + "\n")
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(fails),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
