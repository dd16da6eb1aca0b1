"""Output checks, run after the timed windows.

Query workloads: each operation's result (written by the harness) against
the DuckDB oracle from `SparkEntry.oracleSql`, with the canonicalisation
of tools/selfcheck.py (columns by name, float bit patterns, integer widths
folded, HUGEINT kept apart) and an order-insensitive digest. Operations
without an oracle get the rows-only check. Product build: the generator's
closed-form expectations.
"""
import glob
import hashlib
import json
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# discoverFromStub serves a fixed corpus of six datasets.
DISCOVERED_DATASETS = 6


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f64", struct.pack("<d", v))
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def canon_type(t):
    t = str(t)
    return {"TINYINT": "i64", "SMALLINT": "i64", "INTEGER": "i64", "BIGINT": "i64"}.get(t, t)


def digest(rel):
    """(column-name -> type, row count, order-insensitive sha256)."""
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rel.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    types = {cols[i]: canon_type(rel.types[i]) for i in order}
    return types, len(rows), h


def check_queries(data_dir, out_dir, names, errors):
    """name -> None when the output is right, else the reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for name in names:
        if name in errors:
            verdict[name] = f"result not written: {errors[name][:200]}"
            continue
        try:
            mine = digest(con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:  # noqa: BLE001 - report, do not crash the run
            verdict[name] = f"cannot read result: {e}"
            continue
        if name not in oracle:
            verdict[name] = None if mine[1] > 0 else "rows-only check: no rows"
            continue
        try:
            want = digest(con.sql(oracle[name]))
        except Exception as e:  # noqa: BLE001
            verdict[name] = f"oracle SQL error: {str(e).splitlines()[0][:200]}"
            continue
        if mine[0] != want[0]:
            verdict[name] = f"columns/types {mine[0]} vs oracle {want[0]}"
        elif mine[1] != want[1]:
            verdict[name] = f"rows {mine[1]} vs oracle {want[1]}"
        elif mine[2] != want[2]:
            verdict[name] = "row values differ from the oracle"
        else:
            verdict[name] = None
    con.close()
    return verdict


def check_product(records, product_dir, expect):
    """op name -> None or reason, from every pass's op results and the
    product left on disk after the last pass."""
    bad = {}

    def fail(op, why):
        bad.setdefault(op, why)

    for r in records:
        res, op = r["result"], r["op"]
        if not r["ok"]:
            continue
        if op == "discover" and res.get("rows") != DISCOVERED_DATASETS:
            fail(op, f"pass {r['pass']}: {res.get('rows')} donor rows")
        if op == "read_back":
            if res.get("rows") != expect["fact_rows"]:
                fail(op, f"pass {r['pass']}: {res.get('rows')} rows, want {expect['fact_rows']}")
            if res.get("pruned_rows") != expect["pruned_rows"]:
                fail(op, f"pass {r['pass']}: pruned {res.get('pruned_rows')}, "
                         f"want {expect['pruned_rows']}")
        if op == "compact" and res.get("files_after") != 1:
            fail(op, f"pass {r['pass']}: {res.get('files_after')} files after compaction")
    con = duckdb.connect()
    fact = con.sql(f"SELECT modality, dataset, count(*) n, sum(value) s FROM read_parquet("
                   f"'{product_dir}/fact/**/*.parquet', hive_partitioning = 1) "
                   "GROUP BY ALL").fetchall()
    rows = sum(n for _, _, n, _ in fact)
    sums = {f"{m}/{d}": s for m, d, _, s in fact}
    if rows != expect["fact_rows"]:
        fail("refresh", f"{rows} fact rows on disk, want {expect['fact_rows']}")
    if sums != expect["sums_after_refresh"]:
        diff = sorted(k for k in set(sums) | set(expect["sums_after_refresh"])
                      if sums.get(k) != expect["sums_after_refresh"].get(k))
        fail("refresh", f"value sums differ for {diff[:4]}")
    meta = [json.loads(line) for p in glob.glob(f"{product_dir}/metadata/*.json")
            for line in open(p) if line.strip()]
    if len(meta) != 1 or meta[0].get("total_cell_count") != expect["total_cell_count"] \
            or meta[0].get("n_rows") != expect["fact_rows"]:
        fail("build", f"metadata {[{k: m.get(k) for k in ('n_rows', 'total_cell_count')} for m in meta]}"
                      f", want {expect['fact_rows']} rows and "
                      f"{expect['total_cell_count']} cells")
    con.close()
    return bad
