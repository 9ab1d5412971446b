#!/usr/bin/env python3
"""The graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark harness from source on first use
(`perfbench/harness`, an sbt build that depends on the repository's own
build), generates the tables and every statement from the seeds, runs
the harness JVM with the engine build's forked-run JVM options, checks
every answer, and prints each metric by name and unit. The last line of
standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.

Workloads and their fixed parameters are in perfbench/workloads.json.
"""
import argparse
import hashlib
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
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

RUN_BUDGET_S = 170  # one run, build excluded

E2E = [("setup_s", "s"), ("suite_s", "s"), ("latency_p50_ms", "ms"),
       ("latency_tail_ms", "ms"), ("ops_per_s", "1/s")]

LAYERS = [
    ("engine.session_ms", "ms"), ("engine.register_ms", "ms"), ("engine.warmup_ms", "ms"),
    ("ops.build_ms", "ms"), ("ops.build_jobs", "count"),
    ("chsql.rewrite_ms", "ms"), ("chsql.sql_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.wall_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.parallelism", "ratio"), ("exec.input_rows", "count"),
    ("exec.shuffle_write_bytes", "B"), ("exec.spill_bytes", "B"),
    ("server.http.latency_p50_ms", "ms"), ("server.mysql.latency_p50_ms", "ms"),
    ("server.pg.latency_p50_ms", "ms"), ("server.codec_ms", "ms"), ("server.render_ms", "ms"),
    ("server.bytes_out", "B"),
    ("ingest.parts", "count"), ("ingest.scan_leaves_per_read", "count"),
    ("ingest.jobs_per_insert", "count"), ("ingest.files_per_insert", "count"),
    ("ingest.bytes_written_per_insert", "B"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_pct", "%"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---- build -----------------------------------------------------------------

def _sources():
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in os.walk(top):
            picks += [os.path.join(d, f) for f in files]
    proj = os.path.join(ROOT, "project")
    picks += [os.path.join(proj, f) for f in os.listdir(proj)
              if f.endswith((".sbt", ".scala", ".properties"))]
    return sorted(picks)


def build():
    """Compile (only when a source changed) and return (classpath, JVM options)."""
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HARNESS, "target", "launch.stamp")
    launch = os.path.join(HARNESS, "target", "launch.txt")
    fp = h.hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(launch)):
        env = dict(os.environ, COURSIER_MODE="offline")
        # the engine build's own forked-run -Xmx and GC, not a caller's override
        env.pop("SPARK_DRIVER_MEM", None)
        env.pop("SPARK_GRAFT_GC", None)
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(WORK, "build.log")
        with open(log_path, "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                               cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=840)
        if r.returncode != 0:
            fail(f"build failed (exit {r.returncode}); see {log_path}")
        with open(stamp, "w") as f:
            f.write(fp)
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


# ---- one harness process -----------------------------------------------------

def run_harness(cp, jvm_opts, plan, deadline):
    """Launch the process under test; return (launch time ns, its output)."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    plan_path, out_path = os.path.join(WORK, "plan.json"), os.path.join(WORK, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    if os.path.exists(out_path):
        os.remove(out_path)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "CLICKHOUSE_", "GRAFT_"))}
    env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graft.perfbench.Harness", plan_path, out_path]
    with open(os.path.join(WORK, "harness.log"), "w") as log:
        t_launch = time.time_ns()
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("harness ran out of time; see perfbench/.work/harness.log")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out_path):
        fail(f"harness exited {rc}; see perfbench/.work/harness.log")
    with open(out_path) as f:
        return t_launch, json.load(f)


def _cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


# ---- metrics ---------------------------------------------------------------

def lat_ms(o):
    return (o["end"] - o["start"]) / 1e6


def e2e_metrics(name, cfg, out, t_launch, extra):
    ph = out["phases"]
    ok = [o for o in out["ops"] if o["ok"]]
    if not ok:
        fail("no operation succeeded")
    lats = [lat_ms(o) for o in ok]
    wall = (ph["timed_end_ns"] - ph["timed_start_ns"]) / 1e9
    per_stmt = {}
    for o in ok:
        per_stmt.setdefault(o["stmt"], []).append(lat_ms(o))
    p = cfg["tail_percentile"]
    m = {"setup_s": (ph["ready_ns"] - t_launch) / 1e9,
         "suite_s": sum(statistics.median(v) for v in per_stmt.values()) / 1e3,
         "latency_p50_ms": stats.percentile(lats, 50),
         "latency_tail_ms": stats.percentile(lats, p),
         "ops_per_s": len(ok) / wall}
    for stmt, v in sorted(per_stmt.items()):
        extra[f"stmt.{stmt}.median_ms"] = (statistics.median(v), "ms")
    # not gated: under the engine build's -Xmx8g the heap grows by GC
    # timing, and VmHWM does not repeat within a tenth (perfbench/NOTES.md)
    extra["peak_rss_mb"] = (ph["vmhwm_mb"], "MB")
    extra["samples"] = (len(lats), "count")
    extra["tail_percentile"] = (p, "pct")
    if stats.tail_percentile(len(lats)) is None or stats.tail_percentile(len(lats)) < p:
        extra["tail_percentile_short_of_10_beyond"] = (1, "flag")
    wire = [o for o in ok if o["kind"] == "read"]
    if wire:
        ttfb = [(o["first"] - o["start"]) / 1e6 for o in wire]
        extra["ttfb_p50_ms"] = (stats.percentile(ttfb, 50), "ms")
        extra["ttfb_tail_ms"] = (stats.percentile(ttfb, p), "ms")
        for door in sorted({o["door"] for o in wire}):
            extra[f"{door}.latency_p50_ms"] = (
                stats.percentile([lat_ms(o) for o in wire if o["door"] == door], 50), "ms")
    if name == "ingest_mixed":
        ins = [o for o in ok if o["kind"] == "insert"]
        reads = [o for o in ok if o["kind"] == "read"]
        for tag, group in (("insert", ins), ("read", reads)):
            if group:
                extra[f"{tag}_p50_ms"] = (stats.percentile([lat_ms(o) for o in group], 50), "ms")
                extra[f"{tag}_tail_ms"] = (stats.percentile([lat_ms(o) for o in group], p), "ms")
        if ins:
            w = (max(o["end"] for o in ins) - min(o["start"] for o in ins)) / 1e9
            extra["ingest_rows_per_s"] = (sum(o["block_rows"] for o in ins) / w, "1/s")
    extra["setup.jvm_start_ms"] = ((ph["main_ns"] - t_launch) / 1e6, "ms")
    for i, times in enumerate(ph.get("warmup_passes", [])):
        extra[f"setup.warmup_pass{i}_ms"] = (sum(times.values()), "ms")
    for k in ("session_ms", "register_ms", "doors_ms", "warmup_ms"):
        extra[f"setup.{k}"] = (ph[k], "ms")
    return m


def layer_metrics(name, out, extra):
    ph, spans, evs, ops = out["phases"], out["spans"], out["events"], out["ops"]
    by_id = {s["id"]: s for s in spans}
    self_t = stats.self_times(spans)
    timed = [e for e in evs if "op" not in e]
    starts = [o["start"] for o in ops]
    owner = {id(timed[i]): sid for i, sid in stats.attribute(timed, spans, starts).items()}
    for e in evs:
        if "op" in e:
            owner[id(e)] = e["op"]
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    exec_under = {"olap_headline": ["exec.run"],
                  "ingest_mixed": ["ingest.insert", "server.render", "chsql.sql", "catalyst.plan"]}[name]

    def span_ms(prefixes):
        return sum(self_t[s["id"]] for s in spans if s["name"].startswith(tuple(prefixes))) / 1e6

    def events(kind, prefixes):
        return [e for e in evs if e["kind"] == kind and id(e) in owner
                and stats.under(owner[id(e)], by_id, prefixes)]

    tasks = events("task", exec_under)
    qes = [e for e in evs if e["kind"] == "qe" and id(e) in owner]
    exec_wall = span_ms(exec_under)
    m = {"engine.session_ms": ph["session_ms"], "engine.register_ms": ph["register_ms"],
         "engine.warmup_ms": ph["warmup_ms"],
         "ops.build_ms": span_ms(["ops.build"]) / n,
         "ops.build_jobs": len(events("job", ["ops.build"])) / n,
         "chsql.rewrite_ms": span_ms(["chsql.rewrite"]) / n,
         "chsql.sql_ms": span_ms(["chsql.sql"]) / n,
         "catalyst.analysis_ms": sum(e["analysis_ms"] for e in qes) / n,
         "catalyst.optimization_ms": sum(e["optimization_ms"] for e in qes) / n,
         "catalyst.planning_ms": sum(e["planning_ms"] for e in qes) / n,
         "exec.wall_ms": exec_wall / n,
         "exec.jobs": len(events("job", exec_under)) / n,
         "exec.stages": len(events("stage", exec_under)) / n,
         "exec.tasks": len(tasks) / n,
         "exec.task_run_ms": sum(t["run_ms"] for t in tasks) / n,
         "exec.task_cpu_ms": sum(t["cpu_ms"] for t in tasks) / n,
         "exec.gc_ms": sum(t["gc_ms"] for t in tasks) / n,
         "exec.parallelism": sum(t["run_ms"] for t in tasks) / exec_wall if exec_wall else 0.0,
         "exec.input_rows": sum(t["input_rows"] for t in tasks) / n,
         "exec.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks) / n,
         "exec.spill_bytes": sum(t["spill_bytes"] for t in tasks) / n,
         "server.render_ms": span_ms(["server.render"]) / n,
         "jvm.gc_ms": ph["jvm_gc_ms"], "jvm.heap_peak_mb": ph["jvm_heap_peak_mb"]}
    renders = [e["bytes"] for e in evs if e["kind"] == "render"]
    m["server.bytes_out"] = sum(renders) / len(renders) if renders else 0.0
    for door in ("http", "mysql", "pg"):
        ls = [lat_ms(o) for o in ops
              if o["ok"] and o["door"].startswith(door) and o["kind"] == "read"]
        m[f"server.{door}.latency_p50_ms"] = stats.percentile(ls, 50) if ls else 0.0
    codec = []
    for s in spans:
        if s["parent"] == 0:
            kids = [c for c in spans if c["parent"] == s["id"]]
            wire = [c for c in kids if c["name"].startswith("server.") and c["name"] != "server.render"]
            inproc = [c for c in kids if c["name"] in ("chsql.sql", "catalyst.plan", "server.render")]
            if wire and inproc:
                codec.append(sum(c["end"] - c["start"] for c in wire) / 1e6
                             - sum(c["end"] - c["start"] for c in inproc) / 1e6)
    m["server.codec_ms"] = statistics.median(codec) if codec else 0.0
    res = out["results"]
    ins = [o for o in traced if o["kind"] == "insert"]
    files = [e for e in evs if e["kind"] == "ingest_files"]
    m["ingest.parts"] = res.get("parts", 0)
    m["ingest.scan_leaves_per_read"] = res.get("scan_leaves", 0)
    m["ingest.jobs_per_insert"] = len(events("job", ["ingest.insert"])) / len(ins) if ins else 0.0
    m["ingest.files_per_insert"] = sum(e["files"] for e in files) / len(files) if files else 0.0
    m["ingest.bytes_written_per_insert"] = sum(e["bytes"] for e in files) / len(files) if files else 0.0
    ratios = []
    for stmt in {o["stmt"] for o in ops}:
        a = [lat_ms(o) for o in ops if o["stmt"] == stmt and o["ok"] and o["traced"]]
        b = [lat_ms(o) for o in ops if o["stmt"] == stmt and o["ok"] and not o["traced"]]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b))
    m["trace.overhead_pct"] = (stats.gmean(ratios) - 1.0) * 100.0 if ratios else 0.0
    extra["traced_ops"] = (len(traced), "count")
    return m


UNAVAILABLE = {
    "exec.input_bytes": "Spark's task inputMetrics.bytesRead does not match the data read: "
                        "2,398 B for q1_pricing_summary's scan of the 1,038,910-byte lineitem "
                        "file (60,000 rows read) at the seed commit (perfbench/NOTES.md)",
}


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources under {ROOT}: run from a checkout of the repository")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg or a.workload == "data":
        fail(f"unknown workload {a.workload}")
    wcfg = cfg[a.workload]
    os.makedirs(WORK, exist_ok=True)
    cp, jvm_opts = build()
    deadline = time.time() + RUN_BUDGET_S

    # Tables: fixed data seed; the directory name is unique per checkout, so
    # the engine's machine-wide staging cache (keyed by it) is never shared.
    d = cfg["data"]
    tag = hashlib.sha256(ROOT.encode()).hexdigest()[:8]
    data_dir = os.path.join(WORK, "data", f"pb{tag}_s{d['scale']}_g{d['seed']}_v{datagen.VERSION}")
    datagen.write(data_dir, d["seed"], d["scale"])
    staging = os.path.join("/tmp/graft_io/cache", os.path.basename(data_dir))
    shutil.rmtree(staging, ignore_errors=True)

    rng = wl.seeded(a.seed, a.workload)
    results_dir = os.path.join(WORK, "results")
    shutil.rmtree(results_dir, ignore_errors=True)
    plan = {"workload": a.workload, "trace": bool(a.trace),
            "seconds": a.seconds, "data_dir": data_dir}
    if a.workload == "olap_headline":
        plan.update(wl.olap_plan(wcfg, rng, results_dir, a.seconds))
    else:
        p, block_rows = wl.ingest_plan(wcfg, rng)
        plan.update(p)

    cpu0 = _cpu_times()
    try:
        t_launch, out = run_harness(cp, jvm_opts, plan, deadline)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    cpu1 = _cpu_times()

    # ---- correctness, outside every timed region ----
    ops = out["ops"]
    problems = [f"{o['stmt']}: {o['err']}" for o in ops if not o["ok"]]
    if a.workload == "olap_headline":
        bad_q = wl.olap_check(wcfg, out, data_dir, results_dir)
        bad = [(i, f"{o['stmt']}: {bad_q[o['stmt']]}") for i, o in enumerate(ops)
               if o["ok"] and o["stmt"] in bad_q]
    else:
        bad = wl.ingest_check(ops, out["results"], block_rows)
    shutil.rmtree(results_dir, ignore_errors=True)
    problems += sorted({why for _, why in bad})
    # the final whole-state reads count as operations of their own
    attempted = len(ops) + len(out["results"].get("final", []))
    failed = (sum(1 for o in ops if not o["ok"]) + len({i for i, _ in bad if i is not None})
              + min(len(out["results"].get("final", [])), sum(1 for i, _ in bad if i is None)))
    correct = not problems

    extra = {}
    if a.trace:
        metrics, units = layer_metrics(a.workload, out, extra), dict(LAYERS)
    else:
        metrics, units = e2e_metrics(a.workload, wcfg, out, t_launch, extra), dict(E2E)
        if a.workload == "ingest_mixed":
            sent = sum(len(b.split("\n", 1)[1].encode()) for b in plan["blocks"])
            extra["stored_bytes_per_input_byte"] = (out["results"]["stored_bytes"] / sent, "ratio")
            extra["stored_files"] = (out["results"]["stored_files"], "count")
    extra["failed_share"] = (failed / attempted if attempted else 1.0, "ratio")
    extra["cpus"] = (int(out["cpus"] or 0), "count")
    # CPU time the hypervisor gave to other guests while the harness ran
    d = [b - a for a, b in zip(cpu0, cpu1)]
    extra["host.steal_pct"] = (100.0 * d[7] / sum(d) if sum(d) else 0.0, "%")

    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print(f"# jvm {' '.join(out['jvm_args'])}")
    for k, (v, u) in sorted(extra.items()):
        print(f"{k} {v:.6g} {u}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    if a.trace:
        for k, why in UNAVAILABLE.items():
            print(f"# unavailable: {k}: {why}")
    for p in problems[:20]:
        print(f"# problem: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
