#!/usr/bin/env python3
"""Audit every oracle's DuckDB result-column types for engine-portability.

Usage: python3 tools/audit_oracle_types.py <sfDir> <oracleJsonDir>

<oracleJsonDir> is a graft.Verify output directory: Verify writes every
entry's oracle to oracle_sql.json, also when its entry list (third
argument) names no entry and nothing is dumped.

DESCRIBEs each oracle (no execution) with fixture tables registered and
flags any result column whose DuckDB type is outside the portable set.
The r07 driver-host lesson: an uncast `sum(BIGINT)` is HUGEINT (int128) —
the judge's fetchall() compare coerces it to a Python int, but the driver's
hash path does not, and exactly the four entries with uncast sums were the
four r07 hash fails. Spark has no 128-bit integer, so ANY hugeint/decimal
column in an oracle is a silent cross-engine type divergence waiting for a
harness that hashes types faithfully.

Portable: BIGINT/INTEGER/SMALLINT/TINYINT (Spark long/int/short/byte),
DOUBLE/FLOAT, VARCHAR, BOOLEAN, DATE, TIMESTAMP, BLOB.
Flagged: HUGEINT, UHUGEINT, DECIMAL(*), UBIGINT, lists/structs.
"""
import sys, json, os, re
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PORTABLE = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
            "VARCHAR", "BOOLEAN", "DATE", "BLOB", "TIMESTAMP",
            "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_NS"}


def main(sf_dir, oracle_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(oracle_dir, "oracle_sql.json")))
    n_bad = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"FAIL-DESCRIBE {name}: {str(e).splitlines()[0][:120]}")
            n_bad += 1
            continue
        bad = [(c[0], c[1]) for c in cols
               if c[1] not in PORTABLE and not re.match(r"^(VARCHAR|BLOB)", c[1])]
        if bad:
            n_bad += 1
            print(f"NONPORTABLE {name}: " +
                  ", ".join(f"{c}:{t}" for c, t in bad))
    print(f"audited {len(oracle)} oracles; {n_bad} flagged")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
