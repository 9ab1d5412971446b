#!/usr/bin/env python3
"""Per-decade scaling report across bench records at different SFs.

Usage: scale_report.py SMALL.json BIG.json DECADES [--log BIGLOG]

SMALL/BIG are Bench JSON records ({"queries": {name: sec}}); DECADES is
the data-scale ratio between them expressed in powers of 10 (sf0.1 ->
sf100 = 3). If BIG.json doesn't exist yet but the run's log does, pass
--log to reconstruct per-query timings from "[bench] <name> <sec> s"
lines: a name's time is the median of its lines (one per repetition),
as in Bench's record, and a name with a "[bench] <name> FAILED" line is
left out, as Bench leaves it out of the record's queries.

Prints per-query big/small ratios sorted descending with a per-decade
geometric factor (ratio^(1/DECADES)); flags any query whose per-decade
factor exceeds 10x (super-linear cliff: growing faster than the data)
and summarizes totals. Exit 1 if any cliff is found.
"""
import json, math, os, re, statistics, sys

def from_log(path):
    times, failed = {}, set()
    pat = re.compile(r"\[bench\]\s+(\S+)\s+([0-9.]+)\s*s\s*$")
    fail = re.compile(r"\[bench\]\s+(\S+) FAILED")
    for line in open(path):
        m = pat.search(line)
        if m:
            times.setdefault(m.group(1), []).append(float(m.group(2)))
        m = fail.search(line)
        if m:
            failed.add(m.group(1))
    return {name: statistics.median(ts) for name, ts in times.items() if name not in failed}

def main():
    args = [a for a in sys.argv[1:]]
    log = None
    if "--log" in args:
        i = args.index("--log")
        log = args[i + 1]
        del args[i:i + 2]
    small_p, big_p, decades = args[0], args[1], float(args[2])
    small = json.load(open(small_p))["queries"]
    if os.path.exists(big_p):
        big = json.load(open(big_p))["queries"]
        src = big_p
    elif log:
        big = from_log(log)
        src = f"{log} (reconstructed)"
    else:
        sys.exit(f"{big_p} missing and no --log given")

    shared = sorted(set(small) & set(big))
    missing = sorted(set(small) - set(big))
    rows = []
    for q in shared:
        s, b = small[q], big[q]
        ratio = b / s if s > 0 else float("inf")
        per_decade = ratio ** (1.0 / decades)
        rows.append((per_decade, ratio, q, s, b))
    rows.sort(reverse=True)

    cliffs = [r for r in rows if r[0] > 10.0]
    print(f"{'query':32s} {'small':>8s} {'big':>9s} {'ratio':>8s} {'/decade':>8s}")
    for per_decade, ratio, q, s, b in rows[:20]:
        print(f"{q:32s} {s:8.3f} {b:9.3f} {ratio:8.1f} {per_decade:8.2f}")
    if len(rows) > 20:
        print(f"... ({len(rows) - 20} more)")

    tot_s, tot_b = sum(small[q] for q in shared), sum(big[q] for q in shared)
    ratios = sorted(r[1] for r in rows)
    med = ratios[len(ratios) // 2] if ratios else 0.0
    print(f"\n{len(shared)} shared queries; totals {tot_s:.1f} s -> {tot_b:.1f} s "
          f"({tot_b / tot_s:.1f}x for {10 ** decades:.0f}x data); "
          f"median ratio {med:.1f}x, per-decade median {med ** (1 / decades):.2f}x")
    if missing:
        print(f"not in big run ({len(missing)}): {' '.join(missing)}")
    if cliffs:
        print(f"\nSUPER-LINEAR ({len(cliffs)} > 10x/decade):")
        for per_decade, ratio, q, s, b in cliffs:
            print(f"  {q}: {s:.3f} -> {b:.3f} s = {ratio:.0f}x ({per_decade:.1f}x/decade)")
        print(f"[scale_report] source: {src}")
        sys.exit(1)
    print(f"no super-linear cliff (worst/decade "
          f"{rows[0][0]:.2f}x on {rows[0][2]})" if rows else "no shared queries")
    print(f"[scale_report] source: {src}")

if __name__ == "__main__":
    main()
