"""Every oracle's DuckDB output schema must be mirror-able by a Spark
result: the driver hashes typed values, so a DuckDB-only type (HUGEINT
from an uncast integer SUM, UHUGEINT, DECIMAL wider than 38) hash-
mismatches even when every value string is identical. This sweep
caught `corpus_stats` in round 3 (`SUM(ch)` -> int128 while Spark's
sum is int64)."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from functime_spark.sources.tables import TABLE_NAMES
from test_m4_m5 import M4_DIR

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# DuckDB type ids with no Spark twin. DECIMAL is allowed only up to
# Spark's 38-digit ceiling (checked separately below).
FORBIDDEN = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}

# m4_smape's oracle reads the M4 reference panel, which ships apart from
# the test data: skip that one entry when the panel is absent (the
# condition test_m4_m5 gates on).
ABSENT_DATA = (
    set() if os.path.exists(f"{M4_DIR}/m4_1w_test.parquet") else {"m4_smape"}
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLE_NAMES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def test_every_oracle_output_type_has_a_spark_twin(con):
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        if name in ABSENT_DATA:
            continue
        try:
            # DESCRIBE plans without executing — types come from the
            # binder, so even heavy oracles check instantly
            rows = con.execute(f"DESCRIBE ({sql})").fetchall()
        except Exception as exc:  # a broken oracle fails the gate anyway
            bad.append((name, f"describe error: {exc}"))
            continue
        for col, typ, *_ in rows:
            t = typ.upper()
            if any(f in t for f in FORBIDDEN):
                bad.append((name, f"{col}: {typ}"))
            if t.startswith("DECIMAL"):
                digits = t.split("(")[1].split(",")[0]
                if int(digits) > 38:
                    bad.append((name, f"{col}: {typ} wider than Spark's 38"))
    assert not bad, f"oracles emit Spark-untypeable columns: {bad}"


def test_no_gate_query_emits_float32_where_oracle_emits_double(con, spark):
    """The Spark-side half of the sweep above: the driver's value hash
    is TYPED, so a Spark FloatType column paired with a DuckDB DOUBLE
    oracle column hash-mismatches even when every value is float32-
    exact. This caught `media_features` in round 4 (posexplode of an
    array<float> skipping _round_floats). Schemas come from the
    analyzer, but building a forecaster query's frame EXECUTES its fit
    (at sf0.001, small) — so the two property queries that run entire
    search/fit ensembles only to emit literal boolean columns are
    skipped by name: their schemas are hand-constructed
    createDataFrame DDL with no float columns at all."""
    from pyspark.sql.types import FloatType

    oracles = entrymod.oracle_sql()
    bad = []
    skip_heavy_boolean = {"forecast_auto_cfo", "forecast_gbt"}
    for name, fn in entrymod.queries().items():
        sql = oracles.get(name)
        if sql is None:  # rows-only queries have no typed hash to match
            continue
        if name in skip_heavy_boolean or name in ABSENT_DATA:
            continue
        try:
            ora = {
                col: typ.upper()
                for col, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
            }
        except Exception as exc:
            bad.append((name, f"oracle describe error: {exc}"))
            continue
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(f.dataType, FloatType) and ora.get(f.name) in (
                "DOUBLE",
                "FLOAT8",
            ):
                bad.append((name, f"{f.name}: Spark float32 vs oracle DOUBLE"))
    assert not bad, f"float-width mismatch vs oracle (wrap in _round_floats): {bad}"
