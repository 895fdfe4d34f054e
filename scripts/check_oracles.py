"""Local stand-in for the driver's DuckDB-oracle comparison: runs every
queries() entry at sf0.01 and diffs against oracle_sql() with
order-insensitive, column-name-sorted value comparison PLUS an
Arrow-schema type check (the driver hashes typed values, so a Spark
bigint vs a DuckDB decimal128 fails there even when reprs are equal —
the round-4 host_stats lesson; see tests/test_oracle_type_parity.py)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from image_dedup_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main(only: list[str] | None = None):
    spark = get_spark(app_name="oracle_check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {time.monotonic()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = rel.columns
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        # typed-schema parity (what the driver's value hash actually sees)
        from tests.test_oracle_type_parity import canon_arrow, canon_spark

        stypes = {f.name: canon_spark(f.dataType) for f in sdf.schema.fields}
        tbl = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0").arrow()
        dtypes = {f.name: canon_arrow(f.type) for f in tbl.schema}
        typediff = {
            c: (stypes.get(c), dtypes.get(c))
            for c in set(stypes) | set(dtypes)
            if stypes.get(c) != dtypes.get(c)
        }
        if typediff:
            failures.append((name, f"arrow types differ: {typediff}"))
            print(f"FAIL  {name}: arrow types differ: {typediff}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"schema {sorted(scols)} vs {sorted(dcols)}"))
            print(f"FAIL  {name}: schema {sorted(scols)} vs {sorted(dcols)}")
            continue
        sn = normalize([tuple(r) for r in srows], scols)
        dn = normalize(drows, dcols)
        if len(sn) != len(dn):
            failures.append((name, f"rowcount {len(sn)} vs {len(dn)}"))
            print(f"FAIL  {name}: rowcount {len(sn)} vs {len(dn)}")
        elif sn != dn:
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL  {name}: values differ, e.g. {diff[:1]}")
        else:
            print(f"OK    {name}: {len(sn)} rows ({time.monotonic()-t0:.1f}s)")
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
