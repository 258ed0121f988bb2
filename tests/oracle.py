"""Local mirror of the driver's DuckDB-oracle check (SURVEY.md §5.2).

For every SQL-expressible query: run the Spark plan and the oracle SQL on the
same parquet tables, canonicalize both to pandas (columns sorted by name,
rows sorted by all columns), and require EXACT value equality — stricter than
the driver's hash compare can be, so passing here implies passing there.
"""

from __future__ import annotations

import datetime as _dt

import duckdb
import numpy as np
import pandas as pd

from candyspark.schemas import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            df[c] = s.map(_canon_obj)
    df = df.sort_values(list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _canon_obj(v):
    if isinstance(v, str):
        return v
    if isinstance(v, (list, np.ndarray)):
        return tuple(np.asarray(v, dtype="float64").round(6).tolist())
    # one NULL: Spark's all-NULL boolean reads as None, DuckDB's as NaN, and
    # both print empty in the driver's CSV
    if v is None or (pd.api.types.is_scalar(v) and pd.isna(v)):
        return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return pd.Timestamp(v).strftime("%Y-%m-%dT%H:%M:%S.%f")
    return str(v)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    )
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    # the driver hashes CSV text, where int 10 and float 10.0 differ even
    # when values compare equal — a float column on one side against an int
    # column on the other (DuckDB HUGEINT → pandas float64 is the usual
    # culprit: SUM(BIGINT) needs an explicit CAST ... AS BIGINT in the
    # oracle SQL) must fail HERE, not at the driver.
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        numeric = {"i", "u", "f"}
        # both sides must be numeric for float-ness to matter: an all-NULL
        # column pandas reads as object ('O') on one side would otherwise
        # trip this even though the CSV hashes agree (None prints the same)
        if ka in numeric and kb in numeric:
            assert (ka == "f") == (kb == "f"), (
                f"{name}.{c}: dtype kind mismatch spark={a[c].dtype} "
                f"oracle={b[c].dtype} — the driver's CSV hash will differ "
                f"(cast the integer-valued side explicitly)"
            )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True, obj=name)
