"""Arrow-schema type parity between every queries() entry and its
DuckDB oracle twin.

Why this exists: the driver's correctness gate hashes TYPED values
(Arrow), so a Spark bigint vs a DuckDB decimal128(38,0) mismatches even
when every printed value is equal. Round 4 shipped exactly that bug
(host_stats: uncast ``sum(n_chars)`` — DuckDB sums BIGINT into
HUGEINT/decimal). The builder-side repr-based check
(scripts/check_oracles.py) could not see it because ``repr`` erases the
type distinction. This test compares the DuckDB result's **Arrow**
schema against the Spark DataFrame schema, column by column, through a
shared canonicalization — so an oracle whose column type drifts from
the Spark side fails here before the driver ever runs.

The oracle side runs as ``SELECT * FROM (<sql>) LIMIT 0`` so types are
produced without materializing rows; the Spark side only builds the
plan (schema is available without an action) — queries whose builders
run eager jobs (CC iterations, IVF training) still work, just slower.
"""

from __future__ import annotations

import sys

import duckdb
import pyarrow as pa
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_arrow(t: pa.DataType) -> str:
    """Canonical type-family string for an Arrow type."""
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_uint64(t) or pa.types.is_uint32(t) or pa.types.is_uint16(t) or pa.types.is_uint8(t):
        return f"u{t}"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{canon_arrow(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_arrow(t.field(i).type)}" for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return str(t)


def canon_spark(dt) -> str:
    """Canonical type-family string for a Spark DataType, matching
    canon_arrow's vocabulary (Spark simpleString already uses
    bigint/int/smallint/double/string/...)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"array<{canon_spark(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{canon_spark(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    return dt.simpleString()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _oracle_items():
    return sorted(entrymod.oracle_sql().items())


@pytest.mark.parametrize("name,sql", _oracle_items(), ids=[n for n, _ in _oracle_items()])
def test_oracle_type_parity(spark, duck, name, sql):
    qs = entrymod.queries()
    assert name in qs, f"oracle_sql has {name} but queries() does not"
    sdf = qs[name](spark, SF_DIR)
    spark_types = {f.name: canon_spark(f.dataType) for f in sdf.schema.fields}

    tbl = duck.sql(f"SELECT * FROM ({sql}) LIMIT 0").arrow()
    duck_types = {f.name: canon_arrow(f.type) for f in tbl.schema}

    assert sorted(spark_types) == sorted(duck_types), (
        f"{name}: column names differ: {sorted(spark_types)} vs {sorted(duck_types)}"
    )
    mismatched = {
        c: (spark_types[c], duck_types[c])
        for c in spark_types
        if spark_types[c] != duck_types[c]
    }
    assert not mismatched, (
        f"{name}: typed-hash mismatch waiting to happen — Spark vs DuckDB "
        f"Arrow types differ: {mismatched} (cast the oracle column, e.g. "
        f"CAST(sum(x) AS BIGINT))"
    )


# queries() entries deliberately checked by rows only (no DuckDB oracle).
# Adding a query without an oracle means adding it here, on purpose.
ROWS_ONLY: frozenset[str] = frozenset()


def test_every_query_has_oracle_or_is_declared():
    """Every queries() entry either has an oracle or is a declared
    rows-only query. Keeps the oracle surface from silently shrinking."""
    qs = set(entrymod.queries())
    orc = set(entrymod.oracle_sql())
    assert orc <= qs, f"oracles without queries: {sorted(orc - qs)}"
    assert qs - orc == ROWS_ONLY, (
        f"undeclared rows-only queries: {sorted(qs - orc - ROWS_ONLY)}; "
        f"declared but now oracle-checked or gone: {sorted(ROWS_ONLY - (qs - orc))}"
    )
