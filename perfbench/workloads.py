"""The workloads: inputs generated from the workload seed, and the
correctness checks run on the harness's answers after it exits.

Every statement the engine receives is generated here; the harness only
sends it. Each check returns a list of failures, one per wrong operation.
"""
import datetime
import glob
import hashlib
import math
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


# ---- canonical answers -----------------------------------------------------

def canon_cell(v):
    """A value as compared across doors and engines: numbers to nine
    significant digits (summation order moves the last bits), timestamps
    as `YYYY-MM-DD HH:MM:SS`, everything else as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)):
        return f"{float(v):.9g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(canon_cell(x)) for x in v) + "]"
    s = str(v)
    try:
        return f"{float(s):.9g}"
    except ValueError:
        return s


def canon_rows(rows):
    """Rows as a sorted list of canonical tuples (order-insensitive)."""
    return sorted((tuple(canon_cell(c) for c in r) for r in rows),
                  key=lambda t: tuple("" if c is None else c for c in t))


def rows_hash(rows):
    h = hashlib.sha256()
    for r in canon_rows(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


# ---- olap_headline -----------------------------------------------------------

PASS_SECONDS = 5


def olap_plan(cfg, rng, results_dir, seconds):
    """Pass orders from the seed. The timed pass count is fixed by
    `seconds` alone (one pass per PASS_SECONDS, rounded up), so both
    sides of an A/B time the same executions however fast the host is."""
    queries = list(cfg["queries"])
    warm = queries[:]
    rng.shuffle(warm)
    orders = []
    for _ in range(max(2, math.ceil(seconds / PASS_SECONDS))):
        o = queries[:]
        rng.shuffle(o)
        orders.append(o)
    return {"warmup_order": warm, "warmup_passes": cfg["warmup_passes"],
            "orders": orders, "results_dir": results_dir}


def olap_check(cfg, out, data_dir, results_dir):
    """Each query's dumped answer against DuckDB running the query's
    declared oracle SQL over the same files (values exact, floats by
    nine significant digits, in order), or against the row count and
    order-insensitive hash pinned for queries without an oracle."""
    oracle = out["results"].get("oracle_sql", {})
    con = duck(data_dir)
    failures = {}
    for q in cfg["queries"]:
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        if not files:
            failures[q] = "no answer dumped"
            continue
        tbl = pa.concat_tables([pq.read_table(f) for f in files])
        cols = sorted(tbl.column_names)
        got = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        if q in oracle:
            try:
                rel = con.sql(oracle[q])
                ocols = list(rel.columns)
                want_tbl = rel.arrow()
                if hasattr(want_tbl, "read_all"):
                    want_tbl = want_tbl.read_all()
                want = [tuple(r[c] for c in sorted(ocols)) for r in want_tbl.to_pylist()]
            except Exception as e:  # noqa: BLE001 - an oracle error is a failed check
                failures[q] = f"oracle error: {e}"
                continue
            if sorted(ocols) != cols:
                failures[q] = f"columns {cols} vs oracle {sorted(ocols)}"
            elif [tuple(map(canon_cell, r)) for r in got] != [tuple(map(canon_cell, r)) for r in want]:
                failures[q] = f"answer differs from oracle ({len(got)} vs {len(want)} rows)"
        else:
            pin = cfg["pinned"].get(q)
            h = {"rows": len(got), "hash": rows_hash(got)}
            if pin is None:
                failures[q] = f"no oracle and no pinned answer (got {h})"
            elif pin != h:
                failures[q] = f"pinned {pin}, got {h}"
    return failures


# ---- ingest_mixed ------------------------------------------------------------

CATS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def ingest_plan(cfg, rng):
    t, mv = "pb_events", "pb_events_mv"

    def ddl(table, view):
        return [f"CREATE TABLE {table} (id Int64, ts DateTime, cat String, v Int64) "
                f"ENGINE = MergeTree ORDER BY (cat, id)",
                f"CREATE MATERIALIZED VIEW {view} ENGINE = AggregatingMergeTree ORDER BY cat AS "
                f"SELECT cat, count(*) AS n, sum(v) AS s, max(v) AS mx FROM {table} GROUP BY cat"]

    def block(table, first_id, n):
        base = datetime.datetime(2024, 1, 1)
        lines = [f"INSERT INTO {table} FORMAT TabSeparated"]
        rows = []
        for i in range(first_id, first_id + n):
            ts = base + datetime.timedelta(seconds=rng.randrange(0, 30 * 86400))
            r = (i, ts.strftime("%Y-%m-%d %H:%M:%S"), rng.choice(CATS), rng.randrange(0, 100000))
            rows.append(r)
            lines.append("\t".join(map(str, r)))
        return "\n".join(lines) + "\n", rows

    n, b = cfg["inserts"], cfg["block_rows"]
    blocks, rows = [], []
    for i in range(n):
        text, rs = block(t, i * b, b)
        blocks.append(text)
        rows.append(rs)
    warm = ddl("pb_warm", "pb_warm_mv")
    for i in range(cfg["warmup_inserts"]):
        warm.append(block("pb_warm", i * b, b)[0])
        warm += ["SELECT count(*) FROM pb_warm", "SELECT sum(n), sum(s) FROM pb_warm_mv",
                 "SELECT cat, count(*), sum(v) FROM pb_warm GROUP BY cat ORDER BY cat"]
    warm += ["DROP TABLE pb_warm_mv", "DROP TABLE pb_warm"]
    reads = [("count", f"SELECT count(*) FROM {t}"),
             ("mv_total", f"SELECT sum(n), sum(s) FROM {mv}"),
             ("by_cat", f"SELECT cat, count(*), sum(v) FROM {t} GROUP BY cat ORDER BY cat")]
    final = [("count", f"SELECT count(*) FROM {t}"),
             ("mv", f"SELECT cat, n, s, mx FROM {mv} ORDER BY cat")]
    return ({"table": t, "mv": mv, "setup_sql": ddl(t, mv), "warmup_sql": warm, "blocks": blocks,
             "reads": reads, "final_reads": final, "readers": cfg["readers"],
             "reader_doors": cfg["reader_doors"]},
            rows)


def ingest_check(ops, results, block_rows_list):
    """Every read sees at least the rows acknowledged before it was sent
    and at most the rows sent before it ended; at the end `count(*)`
    equals the acknowledged rows and the MV equals its SELECT recomputed
    over them. Returns [(op index or None for the final reads, reason)]."""
    block_rows = len(block_rows_list[0])
    bad = []
    acks = sorted(o["end"] for o in ops if o["kind"] == "insert" and o["ok"])
    sends = sorted(o["start"] for o in ops if o["kind"] == "insert")
    for i, o in enumerate(ops):
        if o["kind"] != "read" or not o["ok"]:
            continue
        lo = block_rows * sum(1 for a in acks if a < o["start"])
        hi = block_rows * sum(1 for s in sends if s < o["end"])
        try:
            if o["stmt"] == "by_cat":
                seen = sum(int(r[1]) for r in o["result"])
            else:  # sum() over no rows is NULL
                seen = int(o["result"][0][0] or 0)
        except (IndexError, TypeError, ValueError):
            bad.append((i, f"read {o['stmt']}: unreadable answer {o['result'][:2]}"))
            continue
        if not lo <= seen <= hi:
            bad.append((i, f"read {o['stmt']}: saw {seen} rows, acknowledged {lo}, sent {hi}"))
    acked = [r for o in ops if o["kind"] == "insert" and o["ok"] for r in block_rows_list[o["block"]]]
    fin = {f["name"]: f for f in results["final"]}
    try:
        count = int(fin["count"]["result"][0][0])
    except (IndexError, TypeError, ValueError):
        count = None
    if count != len(acked):
        bad.append((None, f"final count(*) {count} != acknowledged rows {len(acked)}"))
    want = {}
    for _, _, cat, v in acked:
        n, s, mx = want.get(cat, (0, 0, -1))
        want[cat] = (n + 1, s + v, max(mx, v))
    if canon_rows(fin["mv"]["result"] or []) != canon_rows([(c, *want[c]) for c in want]):
        bad.append((None, "MV differs from its SELECT recomputed over the acknowledged rows"))
    return bad


def seeded(seed, workload):
    return random.Random(f"{workload}:{seed}")
