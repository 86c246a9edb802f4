"""RisingWaveConnection.insert(pandas) must not depend on the session's
Arrow conf (r12 driver gate: select_distinct_inc_mv_scenario failed with
CANNOT_DETERMINE_TYPE because an all-None object column cannot be
type-inferred on the non-Arrow createDataFrame path, core.py insert()).

These tests pin the fix: all-None columns are typed explicitly from the
target table's schema (StringType when the table does not exist yet),
with identical results Arrow-on and Arrow-off.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pandas as pd
import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from conftest import drop_schema

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


@contextmanager
def arrow_disabled(spark):
    prev = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        yield
    finally:
        spark.conf.set(ARROW_CONF, prev)


@pytest.fixture
def conn(spark):
    schema = f"inspd_{uuid.uuid4().hex[:8]}"
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    drop_schema(spark, schema)


def test_all_none_column_insert_arrow_off(spark, conn):
    """The exact r12 failure: insert a frame whose string column is all
    None into an existing table, on a session with Arrow disabled."""
    c, eng, schema = conn
    c.execute(f"CREATE TABLE {schema}.ev (uid BIGINT, etype VARCHAR, amt BIGINT)")
    with arrow_disabled(spark):
        c.insert(pd.DataFrame({"uid": [4], "etype": [None], "amt": [2]}),
                 table_name="ev", schema_name=schema, force_flush=True)
    rows = spark.table(f"{schema}.ev").collect()
    assert [(r.uid, r.etype, r.amt) for r in rows] == [(4, None, 2)]


def test_all_none_column_types_from_table_schema(spark, conn):
    """The NULL lands typed as the table's column type (not string) even
    for non-string targets, both Arrow paths."""
    c, eng, schema = conn
    c.execute(f"CREATE TABLE {schema}.t (k BIGINT, d DOUBLE, s VARCHAR)")
    c.insert(pd.DataFrame({"k": [1], "d": [None], "s": [None]}),
             table_name="t", schema_name=schema, force_flush=True)
    with arrow_disabled(spark):
        c.insert(pd.DataFrame({"k": [2], "d": [None], "s": [None]}),
                 table_name="t", schema_name=schema, force_flush=True)
    rows = sorted((r.k, r.d, r.s) for r in spark.table(f"{schema}.t").collect())
    assert rows == [(1, None, None), (2, None, None)]


def test_all_none_column_creates_table_as_string(spark, conn):
    """No target table: the untypable column falls back to StringType
    instead of raising, per the documented inference fallback."""
    c, eng, schema = conn
    with arrow_disabled(spark):
        c.insert(pd.DataFrame({"k": [1, 2], "v": [None, None]}),
                 table_name="fresh", schema_name=schema, force_flush=True)
    sch = {f.name: f.dataType.typeName()
           for f in spark.table(f"{schema}.fresh").schema.fields}
    assert sch["v"] == "string"
    assert sch["k"] in ("long", "bigint")


def test_typed_columns_still_infer_identically(spark, conn):
    """Frames with no all-None column take the unchanged inference path:
    same schema Arrow-off as before the fix."""
    c, eng, schema = conn
    with arrow_disabled(spark):
        c.insert(pd.DataFrame({"k": [1], "x": [1.5], "s": ["a"]}),
                 table_name="plain", schema_name=schema, force_flush=True)
    sch = {f.name: f.dataType.typeName()
           for f in spark.table(f"{schema}.plain").schema.fields}
    assert sch == {"k": "long", "x": "double", "s": "string"}
