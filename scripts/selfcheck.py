#!/usr/bin/env python3
"""Dev-only replica of the driver's t2 gate: run Verify's dumped parquet
against DuckDB executing oracle_sql.json over the same sf tables, and
compare values exactly. Usage: selfcheck.py [sfdir] [outdir] [name...]

Bench-regression mode: selfcheck.py --bench <bench.json>
Compares a Bench run (sf0.1) against the committed per-query floor
(BASELINE_FLOOR.json, the round-7 clean two-pass MIN). A query fails
the gate if it exceeds max(2x floor, floor+0.5s) — the +0.5s absolute
slack keeps sub-second floors from tripping on scheduler noise.

Each row's verdict line ends with its elapsed seconds per phase: the
oracle query in DuckDB, the Parquet read of Verify's output, and the
compare."""
import duckdb, sys, json, glob, os, math, time
import pyarrow.parquet as pq

if len(sys.argv) > 1 and sys.argv[1] == "--bench":
    bench = json.load(open(sys.argv[2]))
    floor_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "..", "BASELINE_FLOOR.json")
    floor = json.load(open(floor_path))["queries"]
    bad, new = [], []
    for q, sec in sorted(bench.get("queries", {}).items()):
        f = floor.get(q)
        if f is None:
            new.append(q); continue
        limit = max(2.0 * f, f + 0.5)
        if sec > limit:
            print(f"FAIL {q}: {sec:.3f} s > limit {limit:.3f} (floor {f:.3f})")
            bad.append(q)
    for q in new:
        print(f"new  {q}: {bench['queries'][q]:.3f} s (no recorded floor)")
    tot = sum(bench.get("queries", {}).values())
    print(f"\nbench: {len(bench.get('queries', {}))} queries, {tot:.1f} s total, "
          f"{len(bad)} regressions, {len(new)} without a floor")
    sys.exit(1 if bad else 0)

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
ok, bad = [], []
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    if not files:
        print(f"FAIL {name}: no spark output"); bad.append(name); continue
    clock, laps = [time.perf_counter()], {}

    def lap(phase):
        now = time.perf_counter()
        laps[phase] = now - clock[0]
        clock[0] = now

    def took():
        lap("compare")
        return " [" + ", ".join(f"{p} {s:.2f} s" for p, s in laps.items()) + "]"
    try:
        rel = con.sql(sql)
        ocols = list(rel.columns)
        oarrow = rel.arrow()
        orows = [tuple(r[c] for c in ocols) for r in oarrow.to_pylist()]
    except Exception as e:
        lap("oracle")
        print(f"FAIL {name}: oracle error: {e}{took()}"); bad.append(name); continue
    lap("oracle")
    import pyarrow as pa
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    lap("parquet")
    scols = tbl.column_names
    if sorted(scols) != sorted(ocols):
        print(f"FAIL {name}: cols spark={sorted(scols)} oracle={sorted(ocols)}{took()}")
        bad.append(name); continue
    # The driver's hash is type-sensitive (r02: DuckDB HUGEINT sums vs Spark
    # BIGINT hashed differently while values compared equal). Fail on
    # integer-width / decimal-vs-int divergence; warn on anything else.
    tmis = []
    for c in scols:
        st, ot = tbl.schema.field(c).type, oarrow.schema.field(c).type
        if str(st) != str(ot):
            tmis.append((c, str(st), str(ot), st, ot))
    # pyarrow type predicates, not substring matches on str(type)
    # (ADVICE r3: 'int' matched interval types; uint/int widths conflated)
    hard = [m[:3] for m in tmis
            if pa.types.is_integer(m[3]) != pa.types.is_integer(m[4])
            or (pa.types.is_decimal(m[4]) and pa.types.is_integer(m[3]))]
    tmis = [m[:3] for m in tmis]
    if hard:
        print(f"FAIL {name}: arrow type mismatch {hard}{took()}"); bad.append(name); continue
    for c, st, ot in tmis:
        print(f"  typewarn {name}.{c}: spark={st} oracle={ot}")
    srows = [tuple(r[c] for c in scols) for r in tbl.to_pylist()]
    # reorder both to sorted-column order (mimics driver sort-by-name)
    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    srows = [tuple(r[i] for i in sidx) for r in srows]
    orows = [tuple(r[i] for i in oidx) for r in orows]
    if len(srows) != len(orows):
        print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}{took()}")
        bad.append(name); continue

    def norm(v):
        if isinstance(v, float):
            return ("f", repr(v))
        try:
            import decimal
            if isinstance(v, decimal.Decimal):
                return ("d", str(v.normalize()))
        except Exception:
            pass
        return v

    mismatch = None
    for i, (srow, orow) in enumerate(zip(srows, orows)):
        if tuple(map(norm, srow)) != tuple(map(norm, orow)):
            mismatch = (i, srow, orow); break
    if mismatch:
        i, srow, orow = mismatch
        print(f"FAIL {name}: row {i}{took()}\n  spark : {srow}\n  oracle: {orow}")
        bad.append(name)
    else:
        print(f"ok   {name} ({len(srows)} rows){took()}")
        ok.append(name)

print(f"\n{len(ok)} ok, {len(bad)} fail" + (f": {bad}" if bad else ""))
sys.exit(1 if bad else 0)
