#!/usr/bin/env python3
"""Round-close snapshot (VERDICT r13 #7): emit CORRECTNESS_r{N}.json in
the driver's format from a completed Verify dump, so every round closes
with committed driver-shaped artifacts even when the driver skips one.

Usage: snapshot_round.py <round> [sfdir] [outdir]

Reads <outdir>/oracle_sql.json + the per-query parquet dumps written by
`sbt "runMain graft.Verify <sfdir> <outdir>"`, replays each oracle in
DuckDB, and writes CORRECTNESS_r{N}.json with the driver's record shape:
  {rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}
Queries declared in SparkEntry.queries but with no oracle entry are
recorded as err="no_oracle" with their spark row count (the driver's
weaker rows-only check). The driver's value hash sorts columns by name;
here hash_match is computed from the same normalized sorted-column rows
as scripts/selfcheck.py (exact floats, normalized decimals).

BENCH_r{N}.json is NOT produced here — commit the bench main's printed
JSON line (or its record of per-query medians, BENCH_FULL.json or the
SPARK_GRAFT_BENCH_OUT file) as BENCH_r{N}.json after a clean run.
"""
import duckdb, sys, json, glob, os
import pyarrow as pa
import pyarrow.parquet as pq


def norm(v):
    if isinstance(v, float):
        return ("f", repr(v))
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return ("d", str(v.normalize()))
    except Exception:
        pass
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    rnd = int(sys.argv[1])
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/graft_verify"

    con = duckdb.connect()
    for p in glob.glob(f"{sf}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{out}/oracle_sql.json"))
    dumped = sorted(os.path.basename(d) for d in glob.glob(f"{out}/*")
                    if os.path.isdir(d))
    # ADVICE r14: cross-check dumps against the declared query list —
    # a query that crashed before dumping must surface as a bad row
    # with a distinct err, not silently vanish from the record. The
    # list is written by Verify (declared_queries.json); if the dump
    # predates that change, fall back to dump-dirs-only with a warning.
    rec = {}
    try:
        declared = json.load(open(f"{out}/declared_queries.json"))
        for name in sorted(set(declared) - set(dumped)):
            rec[name] = dict(rows_match=None, schema_match=None,
                             hash_match=None, spark_rows=None,
                             oracle_rows=None, err="missing_dump")
        extra = sorted(set(dumped) - set(declared))
        if extra:
            print(f"WARNING: dumps not in declared list: {extra}")
    except FileNotFoundError:
        print("WARNING: no declared_queries.json in dump — "
              "crashed-before-dump queries cannot be detected")
    for name in dumped:
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        entry = dict(rows_match=None, schema_match=None, hash_match=None,
                     spark_rows=None, oracle_rows=None, err=None)
        try:
            tbl = pa.concat_tables([pq.read_table(f) for f in files])
            entry["spark_rows"] = tbl.num_rows
        except Exception as e:
            entry["err"] = f"spark read: {e}"
            rec[name] = entry
            continue
        if name not in oracle:
            entry["err"] = "no_oracle"
            rec[name] = entry
            continue
        try:
            rel = con.sql(oracle[name])
            ocols = list(rel.columns)
            oarrow = rel.arrow()
        except Exception as e:
            entry["err"] = f"oracle: {e}"
            rec[name] = entry
            continue
        entry["oracle_rows"] = oarrow.num_rows
        entry["rows_match"] = tbl.num_rows == oarrow.num_rows
        scols = tbl.column_names
        entry["schema_match"] = sorted(scols) == sorted(ocols)
        if entry["rows_match"] and entry["schema_match"]:
            srows = [tuple(norm(r[c]) for c in sorted(scols))
                     for r in tbl.to_pylist()]
            orows = [tuple(norm(r[c]) for c in sorted(ocols))
                     for r in oarrow.to_pylist()]
            entry["hash_match"] = srows == orows
        else:
            entry["hash_match"] = False
        rec[name] = entry

    path = f"CORRECTNESS_r{rnd:02d}.json" if rnd < 10 else f"CORRECTNESS_r{rnd}.json"
    json.dump(dict(sorted(rec.items())), open(path, "w"), indent=1)
    n_pass = sum(1 for v in rec.values()
                 if v["hash_match"] or v["err"] == "no_oracle")
    n_bad = sum(1 for v in rec.values()
                if v["hash_match"] is False or (v["err"] and v["err"] != "no_oracle"))
    n_missing = sum(1 for v in rec.values() if v["err"] == "missing_dump")
    if n_missing:
        print(f"ERROR: {n_missing} declared queries never dumped "
              f"(crashed before write?)")
    print(f"{path}: {len(rec)} queries, {n_pass} pass/no-oracle, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
