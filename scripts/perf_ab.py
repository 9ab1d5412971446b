#!/usr/bin/env python3
"""Interleaved two-revision A/B of the repository benchmark.

    python3 scripts/perf_ab.py --base HEAD~1 --pairs 10 --workdir /tmp/graft_ab
    python3 scripts/perf_ab.py --base main --workloads ingest_mixed --claim ingest_mixed:latency_p50_ms
    python3 scripts/perf_ab.py --base HEAD~1 --pairs 5 --first-seed 101 --workdir /tmp/graft_ab

Exports the base revision (`git archive`) into `--workdir`, then runs
`perfbench/run.py` (the command `BENCHMARK.json` declares) `--pairs`
times per workload on each side: the base copy and the change, which is
this checkout's working tree unless `--change REV` exports a second
revision. The pairs use seeds `--first-seed`, `--first-seed` + 1, … on
both sides (1..N by default; a later first seed checks a claim on seeds
not used while writing the change), and the side that runs first
alternates from pair to pair. Each side runs the benchmark code of its
own checkout, as a parent/change comparison does.

For every end-to-end metric of every workload it prints each side's
median and quartiles, the change's wins out of the pairs (ties count
for neither), and two verdicts:

- bound: the change's median is no worse than the base's by more than
  the metric's `bound` in `BENCHMARK.json` (a relative bound). It is
  `unresolved` when the base's own quartile spread exceeds the bound,
  unless every change run beats every base run.
- gain: the change wins at least 9 of 10 pairs and its median is better
  by more than the distance between the base's quartiles.

Every run must also be `correct` with `failed: 0`. The exit status is 0
when every run is correct, every bound holds and every `--claim` gain
holds. `BENCHMARK.json` and `perfbench/` are only read, never written.

After each workload's verdicts it also prints, not gated, each side's
median of the per-statement `stmt.<name>.median_ms` lines `run.py`
prints, to show which statements moved a metric.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STMT = re.compile(r"stmt\.(.+)\.median_ms (\S+) ms$")


def export(rev, workdir):
    """A plain copy of `rev` under `workdir` (reused when already there)."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, sha[:12])
    if not os.path.isdir(dest):
        os.makedirs(dest + ".part", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest + ".part"], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perf_ab: git archive {rev} failed")
        os.rename(dest + ".part", dest)
    return dest


def stmt_medians(stdout):
    """{statement: median ms} from a run's `stmt.<name>.median_ms` lines."""
    return {m.group(1): float(m.group(2)) for m in map(STMT.match, stdout.splitlines()) if m}


def stmt_table(base, change):
    """(statement, base median, change median) over each side's runs'
    statement medians; None where a side never ran the statement."""
    def med(runs, name):
        xs = [r[name] for r in runs if name in r]
        return statistics.median(xs) if xs else None
    names = sorted({n for r in base + change for n in r})
    return [(n, med(base, n), med(change, n)) for n in names]


def run_once(checkout, command, workload, seed, seconds, log):
    """One benchmark run; its last JSON line (or None when it produced none),
    with the run's statement medians under "stmt"."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    log.write(f"$ ({checkout}) {' '.join(cmd)}\n{r.stdout}{r.stderr}\n")
    log.flush()
    for line in reversed(r.stdout.splitlines()):
        if line.startswith("{"):
            return dict(json.loads(line), stmt=stmt_medians(r.stdout))
    return None


def plan(pairs, first_seed=1):
    """The runs of one workload in order: (pair seed, side) for each pair,
    the base first in even pairs and the change first in odd ones."""
    return [(first_seed + i, side) for i in range(pairs)
            for side in (("base", "change") if i % 2 == 0 else ("change", "base"))]


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(base, change, better, bound):
    """Verdicts for one metric: each side's quartiles, the change's wins,
    the relative change of the median, and the bound and gain flags
    (bound_ok None = unresolved)."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    rel = cmed / bmed - 1 if bmed else 0.0
    if bmed and (bq3 - bq1) / bmed > bound:
        separated = all(sign * (b - c) > 0 for b in base for c in change)
        bound_ok = True if separated else None
    else:
        bound_ok = sign * rel <= bound
    gain = wins >= 0.9 * len(base) and sign * (bmed - cmed) > bq3 - bq1
    return {"base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3), "wins": wins,
            "rel": rel, "bound_ok": bound_ok, "gain": gain}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="revision to compare against (e.g. HEAD~1)")
    ap.add_argument("--change", help="revision under test (default: this working tree)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1, help="seed of the first pair (default 1)")
    ap.add_argument("--workloads", help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--seconds", type=float, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--claim", action="append", default=[], metavar="WORKLOAD:METRIC",
                    help="a claimed gain; the exit status requires it")
    ap.add_argument("--workdir", required=True, help="where the exported revisions and the log go")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    os.makedirs(a.workdir, exist_ok=True)
    sides = {"base": export(a.base, a.workdir),
             "change": export(a.change, a.workdir) if a.change else ROOT}
    log_path = os.path.join(a.workdir, "perf_ab.log")
    print(f"# base {a.base} at {sides['base']}; change at {sides['change']}; "
          f"{a.pairs} pairs (seeds {a.first_seed}..{a.first_seed + a.pairs - 1}) x {seconds:g} s; "
          f"log {log_path}")

    ok = True
    with open(log_path, "a") as log:
        for w in workloads:
            runs = {"base": [], "change": []}
            for seed, side in plan(a.pairs, a.first_seed):
                out = run_once(sides[side], bench["command"], w, seed, seconds, log)
                runs[side].append(out)
                good = bool(out) and out["correct"] and out["failed"] == 0
                ok &= good
                print(f"# {w} seed {seed} {side}: " + (
                    " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                    if out else "no result") + ("" if good else "  INCORRECT OR FAILED"),
                    flush=True)
            print(f"\n{w}: metric  base q1/med/q3  change q1/med/q3  wins  median change  bound  gain")
            for m in metrics:
                name = m["name"]
                pairs = [(b, c) for b, c in zip(runs["base"], runs["change"])
                         if b and c and name in b["metrics"] and name in c["metrics"]]
                if not pairs:
                    print(f"  {name}: no paired values")
                    ok = False
                    continue
                r = judge([b["metrics"][name]["value"] for b, _ in pairs],
                          [c["metrics"][name]["value"] for _, c in pairs],
                          m["better"], m["bound"])
                bound = {True: "ok", False: "WORSE", None: "unresolved"}[r["bound_ok"]]
                ok &= r["bound_ok"] is True
                claimed = (w, name) in claims
                if claimed:
                    ok &= r["gain"]
                fmt = "/".join
                print(f"  {name} ({m['unit']})  "
                      f"{fmt(f'{x:.4g}' for x in r['base'])}  {fmt(f'{x:.4g}' for x in r['change'])}  "
                      f"{r['wins']}/{len(pairs)}  {r['rel']:+.1%}  {bound}  "
                      f"{'yes' if r['gain'] else 'no'}{' (claimed)' if claimed else ''}")
            print(f"{w}: statement median_ms  base  change  median change (not gated)")
            for name, b, c in stmt_table([r["stmt"] for r in runs["base"] if r],
                                         [r["stmt"] for r in runs["change"] if r]):
                rel = f"{c / b - 1:+.1%}" if b and c is not None else "-"
                print(f"  {name}  {'-' if b is None else f'{b:.4g}'}  "
                      f"{'-' if c is None else f'{c:.4g}'}  {rel}")
            print()
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
