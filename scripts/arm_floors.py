#!/usr/bin/env python3
"""Re-arm BASELINE_FLOOR.json from clean bench runs.

Usage: arm_floors.py run.json [run2.json ...] [--reset q1,q2,...]

Each run.json is a graft.Bench record whose `queries` are per-query
medians of three repetitions in one JVM (LPT order, its reverse, LPT
again). With multiple runs the candidate is the elementwise min of those
medians across them. The committed floor is then:

  - elementwise min(candidate, existing floor)   (floors only tighten)
  - EXCEPT queries named in --reset, whose floor becomes the candidate
    outright — for operators whose implementation intentionally
    changed shape this round (e.g. d6's exact percentile moved from
    the builtin collect-all-per-group aggregate to the distributed
    rank-select path: slower at sf0.1, linear at sf1). Resets must be
    justified in BASELINE.md's history table.
  - new queries (no existing floor) get the candidate.

Writes BASELINE_FLOOR.json and prints a summary; BENCH_FULL.json is
left to the caller."""
import json
import sys


def main():
    args = sys.argv[1:]
    reset = set()
    if "--reset" in args:
        i = args.index("--reset")
        reset = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2:]
    runs = [json.load(open(p))["queries"] for p in args]
    old = json.load(open("BASELINE_FLOOR.json"))
    oldq = old["queries"]
    common = set.intersection(*map(set, runs))
    cand = {q: round(min(r[q] for r in runs), 3) for q in common}
    for q in set.union(*map(set, runs)) - common:
        print(f"WARN {q} present in only some runs — skipped")
    out = {}
    for q, c in sorted(cand.items()):
        if q in reset or q not in oldq:
            out[q] = c
            tag = "reset" if q in reset else "new"
            print(f"{tag:5s} {q}: {c:.3f}")
        else:
            out[q] = round(min(c, oldq[q]), 3)
            if out[q] < oldq[q]:
                print(f"tight {q}: {oldq[q]:.3f} -> {out[q]:.3f}")
    dropped = set(oldq) - set(out)
    if dropped:
        print(f"WARN floors dropped (query gone): {sorted(dropped)}")
    old.update({
        "queries": out, "n_queries": len(out), "n": len(out),
        "total_floor_s": round(sum(out.values()), 1),
    })
    json.dump(old, open("BASELINE_FLOOR.json", "w"), indent=1, sort_keys=True)
    print(f"armed {len(out)} floors, total {old['total_floor_s']} s")


if __name__ == "__main__":
    main()
