"""Empty-input robustness: every registry query must plan and execute
against zero-row tables without crashing (schema preserved, 0..N rows out).

Why this gate exists: at 100 TB the empty case is routine — a new date
partition, a filter that matches nothing, a tenant with no data yet — and
operators that collect().head(), assert non-emptiness, or divide by a
global count crash exactly there. The sweep runs every query once against
a schema-identical zero-row copy of the testdata.

The fixture copies the RAW physical schema (events.ts stays int64 nanos,
as in the driver parquet — readers.load_table owns the ns→µs
normalization), so the sweep exercises the exact ingest path.
"""

from __future__ import annotations

import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from candyspark.plans import collect_registry
from candyspark.schemas import TESTDATA_TABLES

from tests.oracle import compare_frames, duckdb_connection

SF_DIR = "/root/testdata/sf0.001"

REGISTRY = collect_registry()

RUNNABLE = sorted(REGISTRY)


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for table in TESTDATA_TABLES:
        raw = spark.read.parquet(f"{SF_DIR}/{table}.parquet").limit(0)
        raw.write.mode("overwrite").parquet(str(root / f"{table}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", RUNNABLE)
def test_query_survives_empty_input(spark, empty_sf_dir, name):
    df = REGISTRY[name].fn(spark, empty_sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def _short_series_sf_dir(tmp_path_factory, days: int) -> str:
    """The testdata with ``orders`` cut to its first ``days`` order dates:
    every daily series over it has exactly that many days. Single parquet
    files, as DuckDB reads them."""
    root = tmp_path_factory.mktemp(f"{days}_day_sf")
    for table in TESTDATA_TABLES:
        src, dst = f"{SF_DIR}/{table}.parquet", root / f"{table}.parquet"
        if table == "orders":
            orders = pq.read_table(src)
            kept = pc.unique(orders["o_orderdate"]).sort()[:days]
            pq.write_table(orders.filter(pc.is_in(orders["o_orderdate"], kept)), dst)
        else:
            shutil.copy(src, dst)
    return str(root)


@pytest.fixture(scope="module")
def one_day_sf_dir(tmp_path_factory):
    """One day: the degenerate case of a trend fit (its x has no spread)."""
    return _short_series_sf_dir(tmp_path_factory, 1)


@pytest.fixture(scope="module")
def two_day_sf_dir(tmp_path_factory):
    """Two days: the line fits both points exactly, so every residual and
    the residual variance are 0 and each point's leverage is 1."""
    return _short_series_sf_dir(tmp_path_factory, 2)


#: the fits over the daily sales series (plans/candy.py)
DAILY_SERIES_FITS = [
    "forecast_linear",
    "forecast_metrics",
    "forecast_backtest",
    "conformal_interval",
    "conformal_coverage",
    "durbin_watson",
    "cooks_distance",
    "mincer_zarnowitz",
    "diebold_mariano",
]


def _matches_oracle(spark, sf_dir: str, name: str) -> None:
    spec = REGISTRY[name]
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(spec.sql).df()
    finally:
        con.close()
    compare_frames(spec.fn(spark, sf_dir).toPandas(), oracle_pdf, name)


@pytest.mark.parametrize("name", DAILY_SERIES_FITS)
def test_one_day_series_matches_oracle(spark, one_day_sf_dir, name):
    # the fit's determinant n·Σx² − (Σx)² is 0: slope, intercept and the
    # leverage are NULL in both engines, not a divide-by-zero error on the
    # Spark side
    _matches_oracle(spark, one_day_sf_dir, name)


@pytest.mark.parametrize("name", DAILY_SERIES_FITS)
def test_two_day_series_matches_oracle(spark, two_day_sf_dir, name):
    # zero residuals: Durbin-Watson's Σe² and Cook's distance's s² and
    # (1 - h)² are 0, so those terms are NULL in both engines
    _matches_oracle(spark, two_day_sf_dir, name)
