#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the expected output of every checked
operation. Run from the root of a checkout, after a change to the inputs or
to the checked queries:

    python3 perfbench/run.py --record .bench_build/record.json
    python3 perfbench/make_expected.py .bench_build/record.json

The record holds the engine's digest (row count + content hash) of every
output at the current commit, and its DuckDB oracle SQL where
`SparkEntry.oracleSql` declares one. For an output with oracle SQL the
expected value is the digest of the DuckDB result (source `duckdb-oracle`);
the script stops if the engine disagrees, since that is a defect to fix in
the engine, not in the expected file. Outputs without oracle SQL keep the
engine's digest (source `engine-at-commit`). The rendering matches
perfbench/src/perfbench/Check.scala.
"""
import decimal
import hashlib
import json
import os
import sys

import duckdb

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
Q9 = decimal.Decimal("1E-9")


def render(v):
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if f != f:
            return "NaN"
        if f in (float("inf"), float("-inf")):
            return "inf" if f > 0 else "-inf"
        d = decimal.Decimal(f).quantize(Q9, rounding=decimal.ROUND_HALF_EVEN)
        return "0.000000000" if d == 0 else format(d, "f")
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = "\u0001".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")
    return len(rows), f"{total % (1 << 64):016x}", [cols[i] for i in order]


def main(record_path):
    record = json.load(open(record_path))
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, f)}')")
    con.execute("SET TimeZone = 'UTC'")
    outputs, bad = {}, []
    for name, r in sorted(record.items()):
        if r["oracle_sql"] is None:
            outputs[name] = {"rows": r["rows"], "hash": r["hash"],
                             "source": "engine-at-commit"}
            continue
        res = con.execute(r["oracle_sql"])
        cols = [d[0] for d in res.description]
        n, h, sorted_cols = digest(cols, res.fetchall())
        agree = (n, h, sorted_cols) == (r["rows"], r["hash"], r["columns"])
        print(f"{'ok ' if agree else 'BAD'} {name}: oracle {n} rows {h}, "
              f"engine {r['rows']} rows {r['hash']}")
        if not agree:
            bad.append(name)
        outputs[name] = {"rows": n, "hash": h, "source": "duckdb-oracle"}
    if bad:
        sys.exit(f"engine disagrees with the oracle on {bad}; expected.json "
                 f"left unchanged")
    with open(OUT, "w") as f:
        json.dump({"outputs": outputs}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
