"""Every SQL-expressible query in the registry hash-matches its DuckDB oracle
(the driver's t2 gate, run here at sf0.001 for speed; set
CANDYSPARK_TEST_SF_DIR=/root/testdata/sf0.01 to mirror the driver exactly)."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from candyspark.plans import collect_registry

from tests.oracle import compare_frames, duckdb_connection

SF_DIR = os.environ.get("CANDYSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

REGISTRY = collect_registry()
SQL_QUERIES = sorted(n for n, s in REGISTRY.items() if s.sql is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.sql is None)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


def _debris(spark):
    """Scratch dirs under the temp root and session tables: what a
    streaming drain (or a format roundtrip, dirs only) could leave behind."""
    dirs = set(glob.glob(os.path.join(tempfile.gettempdir(), "candyspark_*")))
    return dirs, {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_query_matches_oracle(spark, oracle, name):
    spec = REGISTRY[name]
    drains = name.startswith("streaming_")
    lands = drains or name == "format_roundtrip"
    if lands:
        dirs_before, tables_before = _debris(spark)
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()
    if lands:
        dirs, tables = _debris(spark)
        new_dirs = dirs - dirs_before
        assert not new_dirs, f"{name}: leaked temp dirs {sorted(new_dirs)}"
    if drains:
        assert tables <= tables_before, (
            f"{name}: leaked session tables {sorted(tables - tables_before)}"
        )
    oracle_pdf = oracle.execute(spec.sql).df()
    compare_frames(spark_pdf, oracle_pdf, name)
    # Non-vacuous gate (round-2 verdict item 2): a hash-match on an EMPTY
    # result certifies nothing about the query's logic. Every hashed query
    # must produce at least one row at every test SF.
    assert len(spark_pdf) >= 1, f"{name}: vacuous oracle gate (0 rows at {SF_DIR})"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    df = REGISTRY[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(f) for f in q.values())


def test_compare_frames_reads_every_null_as_one_value():
    # Spark's all-NULL boolean column reaches pandas as None (object),
    # DuckDB's as NaN; the driver's CSV prints both empty
    spark_pdf = pd.DataFrame({"d": [1, 2], "flag": [None, True]})
    compare_frames(spark_pdf, pd.DataFrame({"d": [1, 2], "flag": [np.nan, True]}), "nulls")
    compare_frames(
        pd.DataFrame({"flag": [None]}), pd.DataFrame({"flag": [np.nan]}), "all_null"
    )
    with pytest.raises(AssertionError):
        compare_frames(
            pd.DataFrame({"flag": [None]}), pd.DataFrame({"flag": [True]}), "null_vs_true"
        )
