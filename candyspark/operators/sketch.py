"""Deterministic (md5-hashed) sketch builders shared by the batch and
streaming forms. Unlike the DataSketches HLL family (approximate,
binary-opaque), these sketches are exact functions of their input — the
same cells on any engine — which is what lets plans/sketches.py and the
streaming CMS hand the SAME grid to a DuckDB value oracle. One definition
serves every call site: the batch build, the batch probe, and the
streaming aggregate must stay bit-identical, and did so by manual sync
before this module existed."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from candyspark.operators.text import char_hash32

#: Count-Min grid: CMS_ROWS md5-salted rows of CMS_WIDTH buckets
CMS_ROWS, CMS_WIDTH = 4, 256


def cms_row_hash(key: Column, i: int, width: int) -> Column:
    """Row i's bucket for ``key`` in a width-``width`` Count-Min row:
    md5-derived (engine-portable), salted per row with the ``"{i}:"``
    prefix. DuckDB mirror:
    ``CAST(CAST(concat('0x', substr(md5(concat(i, ':', CAST(key AS
    VARCHAR))), 1, 8)) AS BIGINT) % width AS INT)``."""
    return (char_hash32(F.concat(F.lit(f"{i}:"), key.cast("string"))) % width).cast(
        "int"
    )


def cms_hash_pairs(key: Column) -> Column:
    """Array of (r, b) structs — one per CMS row — for ``key``."""
    return F.array(
        *[
            F.struct(F.lit(i).alias("r"), cms_row_hash(key, i, CMS_WIDTH).alias("b"))
            for i in range(CMS_ROWS)
        ]
    )


def cms_cells(df: DataFrame, key_col: str) -> DataFrame:
    """The CMS_ROWS × CMS_WIDTH Count-Min cell grid for ``df[key_col]``:
    (r, b, cnt), at most 1,024 rows whatever the input size. Works unchanged as a
    streaming aggregate (complete mode): per-batch partials merge by
    cell-wise sum — the sketch's mergeability is exactly what Structured
    Streaming exploits. NULL keys are excluded (a NULL key would hash to
    a NULL bucket in Spark but a real one in DuckDB's NULL-skipping
    concat — the cross-engine divergence class this engine filters at
    the source)."""
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.explode(cms_hash_pairs(F.col(key_col))).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
