#!/usr/bin/env python3
"""Derive the mixes' expected result digests from the DuckDB oracle.

Usage: python3 perfbench/make_expected.py

Reads perfbench/expected/oracle_sql.json ({entry: oracle SQL or null},
written by `run.py --dump-oracle`), runs each query in DuckDB over the
tables in perfbench/data/sf0.1 and writes perfbench/expected/digests.json:
{entry: {"rows": n, "sha256": hex}}. An entry without oracle SQL keeps its
existing rows-only record.

The digest is the one perfbench/src/main/scala/perfbench/Digest.scala
computes over the Spark result, under the comparison rules of
tools/t2check.py: columns in name order, rows in result order, NaN as
null, floats rounded to nine significant digits from their exact binary
value.
"""
import decimal
import hashlib
import json
import math
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SIG9 = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def dec(d):
    r = SIG9.create_decimal(d)
    return "0" if r == 0 else format(r.normalize(), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "\\N"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return "0" if v == 0 else dec(decimal.Decimal(v))
    if isinstance(v, (int, str)):
        return str(v)
    raise TypeError(f"no digest rule for {type(v).__name__}: {v!r}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for r in rows:
        h.update(("\n" + "\x1f".join(cell(r[i]) for i in order)).encode())
    return len(rows), h.hexdigest()


def main():
    with open(os.path.join(HERE, "expected", "oracle_sql.json")) as f:
        oracle = json.load(f)
    out_path = os.path.join(HERE, "expected", "digests.json")
    old = json.load(open(out_path)) if os.path.exists(out_path) else {}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle.items()):
        if sql is None:
            if name not in old:
                raise SystemExit(f"{name} has no oracle: add {{\"rows\": n}} for it to "
                                 f"{out_path} from a Spark run (run.py prints the count)")
            out[name] = {"rows": old[name]["rows"]}
            continue
        rel = con.sql(sql)
        rows, sha = digest(list(rel.columns), rel.fetchall())
        out[name] = {"rows": rows, "sha256": sha}
        print(f"{name}: {rows} rows {sha[:12]}")
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
