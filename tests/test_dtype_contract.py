"""Output-type contract: every oracle-checked query's Spark schema must
map to the same type class as its DuckDB twin's.

The round-6 q26 regression class: decimal-exact internal arithmetic
leaking into the output schema (Spark `decimal` where the oracle — and
the roster convention — returns `double`).  Values were numerically
identical; the normalize/hash compare still failed because the two
classes stringify differently ("123.40" vs "123.4").  This test catches
that class *without executing anything*: Spark `.schema` is pure plan
analysis and DuckDB `DESCRIBE <sql>` types a query without running it.

`tests/test_oracle_parity.py::test_query_matches_oracle` asserts the
contract first, on the plan it then executes, and keeps each schema in
``SCHEMAS``; the per-query test here re-checks that schema (conftest
runs this module after the parity tests), so each oracle query's plan
is built once per run. Run alone, it builds the plans itself.

Classes (not exact types) are compared because the value-hash gate
itself only distinguishes classes: int widths stringify identically,
but int vs float ("5" vs "5.0"), decimal vs double ("123.40" vs
"123.4"), and date vs timestamp all diverge under normalization.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from big_data_song_recommendation_spark.plans import ORACLES, QUERIES

from .conftest import SF_DIR


def _spark_class(simple: str) -> str:
    s = simple.lower()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("timestamp", "timestamp_ntz", "timestamp_ltz"):
        return "ts"
    if s.startswith("array"):
        return "array"
    return s  # string, boolean, date, binary, map<...>, struct<...>


def _duck_class(decl: str) -> str:
    d = decl.upper()
    if d.endswith("[]"):
        return "array"
    if d.startswith("DECIMAL"):
        return "decimal"
    if d in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
    ):
        return "int"
    if d in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if d.startswith("TIMESTAMP"):
        return "ts"
    if d == "VARCHAR":
        return "string"
    if d == "BOOLEAN":
        return "boolean"
    if d == "DATE":
        return "date"
    if d == "BLOB":
        return "binary"
    return d.lower()


# query name -> output schema of the plan test_query_matches_oracle built
SCHEMAS: dict[str, StructType] = {}


def assert_type_classes(schema: StructType, duck, name: str) -> None:
    got = {f.name: _spark_class(f.dataType.simpleString()) for f in schema}
    desc = duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    want = {row[0]: _duck_class(row[1]) for row in desc}
    assert got == want, (
        f"{name}: output type-class mismatch\n spark:  {got}\n oracle: {want}"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_output_type_classes_match_oracle(spark, duck, name):
    schema = SCHEMAS.get(name) or QUERIES[name](spark, SF_DIR).schema
    assert_type_classes(schema, duck, name)
