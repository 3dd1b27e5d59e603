"""The query registry's read path and its oracle.

``load`` reads every table with the schema declared in ``TABLES``. A
column the files lack would read as NULL without an error, so the
declarations are checked against the schemas Spark infers from the files:
the shared test tables at every scale present, and the benchmark's seeded
tables. Every leaf is then run at sf0.001 against its DuckDB oracle.
"""

import glob
import math

import duckdb
import pandas as pd
import pytest

from go_bqloader_spark.plans import ORACLE_SQL, QUERIES, load
from go_bqloader_spark.plans.queries import TABLES
from perfbench import querydata

SF = "/root/testdata/sf0.001"


def _assert_declared(spark, sf_dir):
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load(spark, sf_dir, name).schema == inferred, (sf_dir, name)


def test_declared_schemas_match_the_test_tables(spark):
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert SF in dirs
    for sf_dir in dirs:
        _assert_declared(spark, sf_dir)


def test_declared_schemas_match_the_benchmark_tables(spark, tmp_path):
    names = querydata.write(7, str(tmp_path))
    assert sorted(names) == sorted(TABLES)
    _assert_declared(spark, str(tmp_path))


def test_load_runs_no_spark_job(spark, spark_jobs):
    frames, jobs = spark_jobs(
        "registry-load", lambda: [load(spark, SF, name) for name in TABLES]
    )
    assert len(frames) == len(TABLES)
    assert jobs == 0


def _canon(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rowset(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive rows of a pandas frame."""
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF}/{name}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_leaf_matches_its_oracle(spark, oracle, name):
    got = QUERIES[name](spark, SF).toPandas()
    if name not in ORACLE_SQL:  # no oracle: the leaf need only run
        return
    want = oracle.execute(ORACLE_SQL[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert _rowset(got) == _rowset(want)
