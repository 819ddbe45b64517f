#!/usr/bin/env python3
"""Write a copy of a testdata directory with nulls in its attribute columns.

Usage: python3 tools/make_nulled.py <sf_dir> <out_dir>

Nulls the same columns as NullInputSpec.nullable (attributes only, never
keys or timestamps), 1 row in 5, keyed on a hash of each table's first
column and the column name. The copy is written with DuckDB straight from
the raw parquet, so every column keeps its parquet type; the oracle can
then run over it:

    python3 tools/make_nulled.py <sf_dir> <nulled>
    tools/runjava.sh graft.Verify <nulled> <out>
    python3 tools/check_oracle.py <out> <nulled>

(NullInputSpec's own copy goes through Tables.t, which stores events.ts
as BIGINT nanos; DuckDB's epoch_ms(BIGINT) misreads that, so the oracle
cannot use it.)

The nulled rows are not the ones the spec picks: the spec hashes with
Spark's xxhash64, this tool with DuckDB's hash(). Both null 1 row in 5.
"""
import os
import sys

import duckdb

# Mirrors NullInputSpec.nullable.
NULLABLE = {
    "documents": ["text", "lang", "source"],
    "events": ["value", "props"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_quantity"],
    "embeddings": ["embedding"],
}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    src = os.path.realpath(sys.argv[1])
    out = os.path.realpath(sys.argv[2])
    if out == src or out.startswith(src + os.sep):
        sys.exit(f"refusing to write into the source directory {src}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        rel = f"read_parquet('{p}')"
        key = con.execute(f"SELECT * FROM {rel} LIMIT 0").description[0][0]
        cols = NULLABLE.get(t, [])
        repl = ", ".join(
            f"CASE WHEN hash({key}, '{c}') % 5 = 0 THEN NULL ELSE {c} END AS {c}"
            for c in cols)
        sel = f"SELECT * REPLACE ({repl}) FROM {rel}" if cols else f"SELECT * FROM {rel}"
        dst = os.path.join(out, f"{t}.parquet")
        con.execute(f"COPY ({sel}) TO '{dst}' (FORMAT PARQUET)")
        nulls = ", ".join(
            f"{c}: {con.execute(f'SELECT count(*) - count({c}) FROM read_parquet(?)', [dst]).fetchone()[0]}"
            for c in cols)
        n = con.execute("SELECT count(*) FROM read_parquet(?)", [dst]).fetchone()[0]
        print(f"{t}: {n} rows" + (f"; nulls {nulls}" if cols else ""))


if __name__ == "__main__":
    main()
