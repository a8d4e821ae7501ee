#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the program from source on first use (build.py), stages the
committed input tables, runs one benchmark JVM (Harness.scala) and turns
its raw records into metrics. The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of a traced run. Diagnostics (host contention,
checks, per-request medians) go to stderr and, in full, to
.bench_build/results/<workload>-seed<seed>-trace<trace>.json.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
MB = 1048576.0
# CPU seconds of the harness's reference probe (Host.probe) on the 4-vCPU
# Xeon VM the baseline was taken on, while its host was idle. CPU metrics
# are scaled by PROBE_REF_S / (the run's probe time): seconds on a core
# that runs as fast as that one did.
PROBE_REF_S = 0.23
# Run-time limit of the benchmark JVM; the build before it is not counted.
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def request_modules() -> dict:
    """Request name -> operator module its SparkEntry.queries entry calls."""
    src = (build.PROGRAM / "graft" / "SparkEntry.scala").read_text()
    pairs = re.findall(r'"([a-z0-9]+_[a-z0-9_]*)"\s*->\s*\(\(\w+,\s*\w+\)\s*=>\s*([A-Za-z0-9_.]+)\.\w+', src)
    return {name: target.split(".")[-1] for name, target in pairs}


def read_requests(path: Path, modules: dict):
    cols = ["phase", "pass", "seq", "name", "start_ms", "built_ms", "end_ms",
            "build_s", "action_s", "wall_s", "rows", "jobs", "traced", "cpu_s", "vm_cpu_s", "error"]
    out = []
    for line in path.read_text().splitlines():
        r = dict(zip(cols, line.split("\t")))
        r.setdefault("error", "")
        r["module"] = modules[r["name"]]
        for k in ("pass", "seq", "rows", "jobs", "traced"):
            r[k] = int(r[k])
        for k in ("start_ms", "built_ms", "end_ms", "build_s", "action_s", "wall_s", "cpu_s", "vm_cpu_s"):
            r[k] = float(r[k])
        out.append(r)
    return out


def read_summary(path: Path) -> dict:
    out = {}
    for line in path.read_text().splitlines():
        k, v = line.split("\t")
        out[k] = float(v)
    return out


def check_requests(reqs, expected, fresh):
    """Mark each request ok/failed and run the pass-repeat checks."""
    warm = {r["name"]: r for r in reqs if r["phase"] == "warmup"}
    for r in reqs:
        exp = expected.get(r["name"], {})
        want = exp.get("rows")
        r["ok"] = not r["error"] and (want is None or r["rows"] == want) and \
            (want is not None or r["rows"] == warm[r["name"]]["rows"])
    timed = [r for r in reqs if r["phase"] == "timed"]
    by_pass = defaultdict(dict)
    for r in timed:
        by_pass[r["pass"]][r["name"]] = r["jobs"]
    checks = {}
    warm_jobs = {n: r["jobs"] for n, r in warm.items()}
    if fresh:
        # every timed pass must redo the warm-up pass's work: same jobs per request
        diffs = {f"{p}:{n}": [warm_jobs[n], j] for p, jobs in by_pass.items()
                 for n, j in jobs.items() if j != warm_jobs[n]}
        checks["timed_passes_repeat_warmup_jobs"] = {"ok": not diffs, "mismatches": diffs}
    else:
        # the landed state is reused: timed passes run no more jobs than
        # the warm-up pass that landed it, and agree with each other
        totals = [sum(j.values()) for j in by_pass.values()]
        first = next(iter(by_pass.values()))
        diffs = {f"{p}:{n}": [first[n], j] for p, jobs in by_pass.items()
                 for n, j in jobs.items() if j != first[n]}
        checks["timed_passes_reuse_landed_state"] = {
            "ok": max(totals) <= sum(warm_jobs.values()) and not diffs,
            "warmup_jobs": sum(warm_jobs.values()), "timed_pass_jobs": totals,
            "landing_jobs_skipped": sum(warm_jobs.values()) - min(totals),
            "mismatches": diffs}
    return checks


def time_stats(timed, key):
    """Median pass total of `key`, and the median and the largest of the
    requests' medians over the passes."""
    passes = defaultdict(float)
    per_request = defaultdict(list)
    for r in timed:
        passes[r["pass"]] += r[key]
        per_request[r["name"]].append(r[key])
    medians = [statistics.median(v) for v in per_request.values()]
    return statistics.median(passes.values()), statistics.median(medians), max(medians)


def end_to_end(reqs, summary):
    """The gated metrics use each request's CPU time: the process's, less
    that of the JIT compiler and GC threads, scaled to the reference core
    speed by the run's probe time. The raw CPU and the wall times are
    returned beside them: on a shared host both follow the other tenants'
    load more than the program's work."""
    timed = [r for r in reqs if r["phase"] == "timed"]
    scale = PROBE_REF_S / summary["probe_s"]
    cpu_pass, cpu_p50, cpu_slowest = time_stats(timed, "cpu_s")
    wall_pass, wall_p50, wall_slowest = time_stats(timed, "wall_s")
    raw = {"setup_s": summary["setup_s"], "pass_cpu_s": cpu_pass,
           "req_cpu_p50_s": cpu_p50, "slowest_req_cpu_s": cpu_slowest}
    e2e = {k: v * scale for k, v in raw.items()}
    e2e["cache_peak_mb"] = summary["cache_peak_mb"]
    wall = {"setup_s": summary["setup_wall_s"], "pass_s": wall_pass,
            "req_p50_s": wall_p50, "slowest_req_s": wall_slowest}
    return e2e, raw, wall


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


STREAM_TERMS = {
    "streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
    "streaming.latest_offset_s": "latestOffset", "streaming.get_batch_s": "getBatch",
    "streaming.query_planning_s": "queryPlanning", "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


def traced_layers(reqs, summary, events_path: Path, spans_path: Path):
    """Per-layer metrics of the traced passes, the span tree and its self checks."""
    events = [json.loads(l) for l in events_path.read_text().splitlines() if l.strip()]
    traced = [r for r in reqs if r["phase"] == "timed" and r["traced"]]
    untraced = [r for r in reqs if r["phase"] == "timed" and not r["traced"]]
    npass = len({r["pass"] for r in traced})
    kind = defaultdict(list)
    for e in events:
        kind[e["ev"]].append(e)
    m = defaultdict(float)

    def active_request(t_ms):
        best = None
        for r in traced:
            if r["start_ms"] - 1 <= t_ms <= r["end_ms"] + 1:
                if best is None or abs(t_ms - r["start_ms"]) < abs(t_ms - best["start_ms"]):
                    best = r
        return best

    for r in traced:
        m[f"{r['module']}.build_s"] += r["build_s"]
        m[f"{r['module']}.action_s"] += r["action_s"]

    # job attribution: innermost graft frame of the job's call site, else
    # that of its SQL execution (async AQE/broadcast threads), else the
    # request whose frame the harness's own action ran on
    sql = {e["id"]: e for e in kind["sql_start"]}

    def exec_owner(eid):
        """Module of the execution's (or its root's) call site."""
        owner, seen = None, set()
        while eid in sql and eid not in seen:
            seen.add(eid)
            module = sql[eid].get("module")
            if module and module != "@harness":
                return module
            owner = owner or module
            eid = sql[eid].get("root")
        return owner

    unattributed = []
    for j in kind["job"]:
        owner = j.get("module")
        if owner in (None, "@harness") and j.get("exec") is not None:
            owner = exec_owner(j["exec"]) or owner
        if owner == "@harness":
            req = active_request(j["start"])
            owner = req["module"] if req else None
        if owner:
            m[f"{owner}.jobs"] += 1
        else:
            unattributed.append(j.get("site", ""))
    m["unattributed.jobs"] = len(unattributed)

    stages = kind["stage"]
    m["spark.jobs"] = len(kind["job"])
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.job_s"] = sum(j["end"] - j["start"] for j in kind["job"]) / 1e3
    m["spark.task_s"] = sum(s["run_ms"] for s in stages) / 1e3
    m["spark.sched_delay_s"] = sum(s["sched_ms"] for s in stages) / 1e3
    m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    m["spark.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / MB
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / MB
    m["spark.spill_mb"] = sum(s["spill"] for s in stages) / MB
    m["spark.input_mb"] = sum(s["input"] for s in stages) / MB
    m["spark.output_mb"] = sum(s["output"] for s in stages) / MB
    m["spark.output_records"] = sum(s["output_records"] for s in stages)

    job_iv = [(j["start"], j["end"]) for j in kind["job"]]
    m["driver_s"] = sum(r["wall_s"] - union_length(job_iv, r["start_ms"], r["end_ms"]) / 1e3
                        for r in traced)

    ends = kind["sql_end"]
    m["catalyst.executions"] = len(ends)
    m["catalyst.analysis_s"] = sum(e["analysis_ms"] for e in ends) / 1e3
    m["catalyst.optimization_s"] = sum(e["optimization_ms"] for e in ends) / 1e3
    m["catalyst.planning_s"] = sum(e["planning_ms"] for e in ends) / 1e3
    m["codegen.fallback_nodes"] = sum(e["fallback"] for e in ends)
    m["codegen.wscg_stages"] = sum(e["wscg"] for e in ends)
    traced_passes = sorted({r["pass"] for r in traced})
    for key in ("codegen.compiles", "codegen.compile_s", "files.discovered",
                "files.listing_jobs", "files.cache_hits"):
        m[key] = sum(summary.get(f"pass.{p}.{key}", 0.0) for p in traced_passes)

    batches = kind["batch"]
    m["streaming.batches"] = len(batches)
    m["streaming.input_rows"] = sum(b["rows"] for b in batches)
    for key, term in STREAM_TERMS.items():
        m[key] = sum(b["duration_ms"].get(term, 0) for b in batches) / 1e3

    blocks = kind["block"]
    m["cache.blocks_put"] = len(blocks)
    m["cache.mb_put"] = sum(b["bytes"] for b in blocks) / MB

    spans = build_spans(traced, kind)
    with open(spans_path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    for k, v in self_times(spans).items():
        m[f"span.{k}.self_s"] = v

    pass_wall = defaultdict(float)
    for r in traced + untraced:
        pass_wall[(r["traced"], r["pass"])] += r["wall_s"]
    t_med = statistics.median(v for (t, _), v in pass_wall.items() if t)
    u_med = statistics.median(v for (t, _), v in pass_wall.items() if not t)

    module_jobs = sum(v for k, v in m.items() if k.endswith(".jobs") and k != "spark.jobs")
    submitted = sum(r["jobs"] for r in traced)
    wall = sum(r["wall_s"] for r in traced)
    phases = sum(v for k, v in m.items() if k.endswith(".build_s") or k.endswith(".action_s"))
    checks = {
        "build_plus_action_is_request_wall": {
            "ok": all(abs(r["build_s"] + r["action_s"] - r["wall_s"]) < 1e-6 for r in traced)
            and abs(phases - wall) < 1e-6 * max(1, len(traced)),
            "module_phase_s": phases, "request_wall_s": wall},
        "module_jobs_plus_unattributed_is_spark_jobs": {
            "ok": module_jobs == m["spark.jobs"] and m["spark.jobs"] == submitted,
            "module_jobs": module_jobs, "spark_jobs": m["spark.jobs"],
            "jobs_submitted": submitted},
    }
    per_pass = {k: v / npass for k, v in m.items()}
    per_pass["trace.overhead_s"] = t_med - u_med
    return per_pass, checks, {"traced_passes": npass, "traced_pass_s": t_med,
                              "untraced_pass_s": u_med,
                              "unattributed_sites": dict(Counter(unattributed).most_common(5))}


def build_spans(traced, kind):
    """request -> build|action -> sql -> job -> stage; stream batch -> its terms."""
    spans = []
    next_id = [0]

    def add(kind_, name, start, end, parent, req, **attrs):
        sid = next_id[0]
        next_id[0] += 1
        spans.append(dict(id=sid, parent=parent, req=req, kind=kind_, name=name,
                          start=start, end=end, **attrs))
        return sid

    phases = []
    for r in traced:
        rid = add("request", r["name"], r["start_ms"], r["end_ms"], None, r["seq"], module=r["module"])
        phases.append((r["start_ms"], r["built_ms"], add("build", r["module"], r["start_ms"], r["built_ms"], rid, r["seq"]), r["seq"]))
        phases.append((r["built_ms"], r["end_ms"], add("action", r["module"], r["built_ms"], r["end_ms"], rid, r["seq"]), r["seq"]))

    def phase_at(t):
        hits = [p for p in phases if p[0] - 1 <= t <= p[1] + 1]
        return min(hits, key=lambda p: abs(t - p[0])) if hits else None

    ends = {e["id"]: e["time"] for e in kind["sql_end"]}
    sql_span = {}
    for e in sorted(kind["sql_start"], key=lambda e: e["id"]):
        root = e.get("root")
        if root is not None and root != e["id"] and root in sql_span:
            parent, req = sql_span[root]
        else:
            ph = phase_at(e["time"])
            parent, req = (ph[2], ph[3]) if ph else (None, None)
        sid = add("sql", str(e["id"]), e["time"], ends.get(e["id"], e["time"]), parent, req,
                  module=e.get("module"))
        sql_span[e["id"]] = (sid, req)
    job_span = {}
    for j in kind["job"]:
        if j.get("exec") in sql_span:
            parent, req = sql_span[j["exec"]]
        else:
            ph = phase_at(j["start"])
            parent, req = (ph[2], ph[3]) if ph else (None, None)
        job_span[j["id"]] = (add("job", str(j["id"]), j["start"], j["end"], parent, req,
                                 module=j.get("module")), req)
    for s in kind["stage"]:
        parent, req = job_span.get(s.get("job"), (None, None))
        add("stage", str(s["id"]), s["start"], s["end"], parent, req, tasks=s["tasks"])
    for b in kind["batch"]:
        ph = phase_at(b["start"])
        parent, req = (ph[2], ph[3]) if ph else (None, None)
        d = b["duration_ms"]
        bid = add("stream_batch", f"{b['run']}:{b['batch']}", b["start"],
                  b["start"] + d.get("triggerExecution", 0), parent, req, rows=b["rows"])
        # durationMs gives term lengths only; lay them end to end
        t = b["start"]
        for term, ms in d.items():
            if term != "triggerExecution":
                add("stream_term", term, t, t + ms, bid, req)
                t += ms
    return spans


def self_times(spans):
    """Per span kind: total duration minus the part its children cover (s).
    A request is covered exactly by its build and action spans, and stream
    terms have no children, so neither kind is reported."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        if s["kind"] in ("stream_term", "request"):
            continue
        covered = union_length(children[s["id"]], s["start"], s["end"])
        out[s["kind"]] += max(0.0, (s["end"] - s["start"]) - covered) / 1e3
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    expected = json.loads((HERE / "expected.json").read_text())["requests"]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]

    classes = build.ensure()
    modules = request_modules()
    missing = [n for n in wl["requests"] if n not in modules]
    if missing:
        fail(f"requests not in SparkEntry.queries: {missing}")

    work = build.build_dir() / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "out"
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Harness",
            "--requests", ",".join(wl["requests"]), "--data", str(HERE / "data"), "--work", str(work),
            "--out", str(out), "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--pass-estimate", str(wl["pass_estimate_s"]),
            "--fresh", "true" if wl["fresh_input"] else "false", "--trace", str(args.trace)]
    log = work / "jvm.log"
    t0 = time.time_ns()
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd + ["--t0", str(t0)], stdout=lf, stderr=subprocess.STDOUT,
                                  cwd=work, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log}", 1)
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 1)

    reqs = read_requests(out / "requests.tsv", modules)
    summary = read_summary(out / "summary.tsv")
    checks = check_requests(reqs, expected, wl["fresh_input"])
    timed = [r for r in reqs if r["phase"] == "timed"]
    attempted = len(timed)
    failed = sum(1 for r in timed if not r["ok"])
    warm_failed = sum(1 for r in reqs if r["phase"] == "warmup" and not r["ok"])
    e2e, cpu, wall = end_to_end(reqs, summary)
    warm = {r["name"]: r for r in reqs if r["phase"] == "warmup"}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "timed_passes": int(summary["timed_passes"]),
        "requests_per_pass": len(wl["requests"]), "samples": attempted,
        "pass_walls_s": [round(sum(r["wall_s"] for r in timed if r["pass"] == p), 4)
                         for p in sorted({r["pass"] for r in timed})],
        "pass_cpus_s": [round(sum(r["cpu_s"] for r in timed if r["pass"] == p), 4)
                       for p in sorted({r["pass"] for r in timed})],
        "pass_vm_cpus_s": [round(sum(r["vm_cpu_s"] for r in timed if r["pass"] == p), 4)
                           for p in sorted({r["pass"] for r in timed})],
        "pass_steal_frac": [round(summary[f"pass.{p}.steal_frac"], 4)
                            for p in range(int(summary["timed_passes"]))],
        "failed_frac": failed / attempted,
        "failures": sorted({f"{r['name']}: rows {r['rows']} {r['error']}".strip()
                            for r in reqs if not r["ok"]}),
        "host": {k: summary[k] for k in ("cpus", "calib_before_s", "calib_after_s", "steal_frac",
                                         "probe_s")},
        "end_to_end": e2e,
        "cpu_unscaled": cpu,
        "wall": wall,
        "checks": checks,
        "requests": {n: {"module": modules[n],
                         "median_s": statistics.median(r["wall_s"] for r in timed if r["name"] == n),
                         "cpu_s": [round(r["cpu_s"], 4) for r in timed if r["name"] == n],
                         "warmup_s": warm[n]["wall_s"], "warmup_jobs": warm[n]["jobs"],
                         "oracle": expected.get(n, {}).get("oracle")}
                     for n in wl["requests"]},
    }
    results = build.build_dir() / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        layers, tchecks, overhead = traced_layers(reqs, summary, out / "events.jsonl",
                                                  results / f"{stem}-spans.jsonl")
        checks.update(tchecks)
        detail["tracing"] = overhead
        detail["per_layer"] = layers
        unlisted = sorted(set(layers) - {m["name"] for m in bench["per_layer"]})
        if unlisted:
            print(f"perfbench: per-layer values not in BENCHMARK.json: {unlisted}", file=sys.stderr)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    ok_checks = all(c["ok"] for c in checks.values())
    (results / f"{stem}.json").write_text(
        json.dumps(detail, indent=1, sort_keys=True))
    print(f"perfbench: {args.workload} seed {args.seed}: {detail['timed_passes']} passes, "
          f"{attempted} requests, failed_frac {detail['failed_frac']:.4f}, "
          f"host {json.dumps(detail['host'])}, checks "
          f"{ {k: c['ok'] for k, c in checks.items()} }", file=sys.stderr)
    for line in detail["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    for k, c in checks.items():
        if not c["ok"]:
            print(f"perfbench: CHECK FAILED {k}: {json.dumps(c)[:2000]}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and warm_failed == 0 and ok_checks,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
