#!/usr/bin/env python3
"""Result digests for the substrate_mix output check.

Canonical form follows the repository's DuckDB oracle gate: columns
sorted by name, values normalised (floats to 6 places, NaN as a string,
arrays as tuples, timestamps as ISO strings, bytes as hex), rows sorted.
Integral floats become ints before sorting, so an engine that returns
1.0 where the other returns 1 yields the same digest (the gate compares
them equal too).

Record the digests once from the DuckDB oracle SQL:

    python3 perfbench/oracle.py record <sf0.1 dir> <oracle_sql.json> perfbench/oracle_sf0.1.json

where oracle_sql.json comes from `perfbench.Main --dump-oracle <path>`.
run.py calls check() on every substrate_mix run.
"""
import glob
import hashlib
import json
import math
import os
import sys

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return int(r) if r.is_integer() and abs(r) < 2 ** 53 else r
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return norm(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if type(v).__name__ == "Decimal":
        return norm(float(v))
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(
        out, key=lambda r: tuple((x is None, str(x)) for x in r))


def digest(cols, rows):
    c, r = canon(cols, rows)
    body = json.dumps([c, r], separators=(",", ":"), ensure_ascii=True, default=str)
    return {"columns": c, "rows": len(r), "sha256": hashlib.sha256(body.encode()).hexdigest()}


def check(results_dir, recorded, queries, rows_only=()):
    """Compare each query's result directory under results_dir with its
    recorded digest; returns a list of failure strings (empty = all match)."""
    import duckdb
    con = duckdb.connect()
    fails = []
    for q in queries:
        want = recorded.get(q)
        if want is None:
            fails.append(f"{q}: no recorded oracle digest")
            continue
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            fails.append(f"{q}: no result written")
            continue
        rel = con.sql(f"SELECT * FROM read_parquet({json.dumps(files)})")
        got = digest(rel.columns, rel.fetchall())
        if q in rows_only:
            if got["rows"] != want["rows"]:
                fails.append(f"{q}: rows {got['rows']} != {want['rows']}")
        elif got != want:
            fails.append(f"{q}: result differs from the oracle "
                         f"(rows {got['rows']} vs {want['rows']})")
    con.close()
    return fails


def record(sf_dir, sql_json, out):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(sql_json))
    recorded = {}
    for q, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        recorded[q] = digest(rel.columns, rel.fetchall())
        print(f"{q}: rows={recorded[q]['rows']}", file=sys.stderr)
    with open(out, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "record":
        record(*sys.argv[2:])
    elif len(sys.argv) == 4 and sys.argv[1] == "check":
        recorded = json.load(open(sys.argv[3]))
        fails = check(sys.argv[2], recorded, sorted(recorded))
        print("\n".join(fails) or "all match")
        sys.exit(1 if fails else 0)
    else:
        sys.exit(__doc__)
