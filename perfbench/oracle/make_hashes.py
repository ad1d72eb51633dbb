#!/usr/bin/env python3
"""Writes perfbench/oracle/corpus_hashes.json: the expected result hash of
each corpus entry, computed once from its DuckDB oracle SQL over the
committed fixture tables in perfbench/data/corpus.

Run from the root of a checkout, after dumping the entries' oracle SQL
with the benchmark's classpath (see perfbench/README.md):

    java -cp <classpath> graft.perfbench.Corpus /tmp/corpus_sql.json
    python3 perfbench/oracle/make_hashes.py /tmp/corpus_sql.json

The hash must stay identical to graft.perfbench.Corpus.hash: columns in
name order; an integer as itself and any other number as the exact value
of its nearest double (the precision the oracle gate compares at);
strings prefixed with their UTF-8 length; one SHA-256 per row, sorted,
then hashed.
"""
import hashlib
import json
import math
import os
import sys
from decimal import Decimal

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(os.path.dirname(HERE), "data", "corpus")


def dec(d):
    """Plain notation, no trailing zeros; exact (no context rounding)."""
    if d == 0:
        return "0"
    s = format(d, "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return dec(Decimal(v))
    if isinstance(v, Decimal):
        return canon(float(v))
    if isinstance(v, str):
        return f"S{len(v.encode())}:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def sha(s):
    return hashlib.sha256(s.encode()).hexdigest()


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(sha("|".join(canon(r[i]) for i in order)) for r in rows)
    return sha(",".join(sorted(columns)) + "\n" + "\n".join(digests))


def main(sql_path):
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(DATA, f)}'")
    out = {}
    for name, sql in sorted(json.load(open(sql_path)).items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = result_hash(cols, rows)
        print(f"{name}: {len(rows)} rows {out[name][:16]}")
    with open(os.path.join(HERE, "corpus_hashes.json"), "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
