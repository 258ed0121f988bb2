"""Geospatial operators: haversine great-circle distance and grid
bucketing — extension surface (the reference has no geo operators;
SURVEY.md §2.13). At 100 TB the same discipline as everywhere else
applies: distance is a scan-stage expression (pure JVM trig, no UDF), a
radius predicate pushes into the scan after a cheap bounding-box
pre-filter, and grid cells are integer keys that partition/aggregate like
any other column.

Coordinates: the synthetic tables carry no lat/lon, so supplier
coordinates derive deterministically from md5 of the supplier key — a
documented geocoding stand-in (same pattern as the multimodal decode
stubs: the PLUMBING — snapping, trig discipline, bucketing, the
bounding-box-then-exact two-phase — is the real, tested operator; a real
deployment joins a geocoded dim instead).

Cross-engine exactness: coordinates snap to exact DECIMAL(10,6) BEFORE
any trig, so both engines evaluate sin/cos/asin on bit-identical doubles;
each row's distance snaps to 4 dp (libm last-ulp drift vanishes under the
rounding, the BM25 ln discipline) and aggregates run on the snapped exact
decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators.text import md5_prefix_int
from candyspark.sources.readers import load_table

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) coordinate pairs.

    2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))) — the numerically
    stable small-angle form (the plain spherical law of cosines loses all
    precision under ~1 km). Pure built-in trig: whole-stage codegen, no
    Python. Callers must snap the INPUT coordinates if cross-engine
    reproducibility matters (see module docstring)."""
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlam / 2), 2)
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def _synth_coords(key: Column, prefix: str) -> tuple[Column, Column]:
    """Deterministic md5-derived (lat, lon) as EXACT DECIMAL(10,6) degrees
    (lat in [-85, 85) — poles avoided so haversine stays well-conditioned)."""

    def u(tag: str) -> Column:
        h = md5_prefix_int(F.concat(F.lit(tag), key.cast("string")), 15)
        return h.cast("double") / F.lit(float(2**60))

    lat = F.round((u(f"{prefix}lat:") * 170.0 - 85.0).cast("decimal(28,8)"), 6).cast(
        "decimal(10,6)"
    )
    lon = F.round((u(f"{prefix}lon:") * 360.0 - 180.0).cast("decimal(28,8)"), 6).cast(
        "decimal(10,6)"
    )
    return lat, lon


def q_geo_supplier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation dispersion of suppliers around their nation centroid:
    synthesize supplier coordinates, compute each nation's centroid (mean
    of exact-decimal coordinates, snapped once), then every supplier's
    haversine distance to its centroid — avg/max per nation. The standard
    'how spread is my fleet/footprint' geo aggregate; the same shape
    computes store-to-warehouse or user-to-POP distances.

    Scale: coordinates and the distance are scan-stage expressions; the
    centroid is a ≤|nations| aggregate broadcast back; the final
    aggregate is ≤|nations| rows. Nothing shuffles at row grain except
    the one nation-keyed centroid/stat aggregate pair.
    """
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lat, lon = _synth_coords(F.col("s_suppkey"), "s")
    located = (
        sup.select("s_suppkey", "s_nationkey", lat.alias("lat"), lon.alias("lon"))
        # tiny relation at test SF but row-grain in general: materialized
        # once for its two consumers (centroid + distance pass)
        .localCheckpoint()
    )
    centroids = located.groupBy("s_nationkey").agg(
        F.round(F.avg("lat").cast("decimal(28,8)"), 6)
        .cast("decimal(10,6)")
        .alias("clat"),
        F.round(F.avg("lon").cast("decimal(28,8)"), 6)
        .cast("decimal(10,6)")
        .alias("clon"),
    )
    dist = snap_round(
        haversine_km(
            F.col("lat").cast("double"),
            F.col("lon").cast("double"),
            F.col("clat").cast("double"),
            F.col("clon").cast("double"),
        ),
        4,
    )
    per = (
        located.join(F.broadcast(centroids), "s_nationkey")
        .select("s_nationkey", dist.cast("decimal(18,4)").alias("km"))
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.avg("km").cast("decimal(28,8)"), 4)
            .cast("double")
            .alias("avg_km"),
            F.max("km").cast("double").alias("max_km"),
        )
    )
    return (
        per.join(F.broadcast(nation), per["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"), "n_suppliers", "avg_km", "max_km"
        )
        .orderBy("nation")
    )


_U = (
    "CAST(CAST(concat('0x', substr(md5(concat('{tag}', CAST(s_suppkey AS VARCHAR))), 1, 15)) "
    "AS BIGINT) AS DOUBLE) / POW(2.0, 60.0)"
)

GEO_SUPPLIER_DISTANCE_SQL = f"""
WITH located AS (
    SELECT s_suppkey, s_nationkey,
           CAST(ROUND(CAST({_U.format(tag="slat:")} * 170.0 - 85.0 AS DECIMAL(28,8)), 6)
                AS DECIMAL(10,6)) AS lat,
           CAST(ROUND(CAST({_U.format(tag="slon:")} * 360.0 - 180.0 AS DECIMAL(28,8)), 6)
                AS DECIMAL(10,6)) AS lon
    FROM supplier
),
centroids AS (
    SELECT s_nationkey,
           CAST(ROUND(CAST(AVG(lat) AS DECIMAL(28,8)), 6) AS DECIMAL(10,6)) AS clat,
           CAST(ROUND(CAST(AVG(lon) AS DECIMAL(28,8)), 6) AS DECIMAL(10,6)) AS clon
    FROM located GROUP BY s_nationkey
),
dists AS (
    SELECT l.s_nationkey,
           CAST(ROUND(CAST(
               2 * 6371.0088 * ASIN(SQRT(
                   POW(SIN(RADIANS(CAST(c.clat AS DOUBLE) - CAST(l.lat AS DOUBLE)) / 2), 2)
                   + COS(RADIANS(CAST(l.lat AS DOUBLE))) * COS(RADIANS(CAST(c.clat AS DOUBLE)))
                     * POW(SIN(RADIANS(CAST(c.clon AS DOUBLE) - CAST(l.lon AS DOUBLE)) / 2), 2)
               ))
               AS DECIMAL(28,8)), 4) AS DECIMAL(18,4)) AS km
    FROM located l JOIN centroids c USING (s_nationkey)
),
per AS (
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           CAST(CAST(ROUND(CAST(AVG(km) AS DECIMAL(28,8)), 4) AS DECIMAL(28,4)) AS DOUBLE)
               AS avg_km,
           CAST(MAX(km) AS DOUBLE) AS max_km
    FROM dists GROUP BY s_nationkey
)
SELECT n.n_name AS nation, n_suppliers, avg_km, max_km
FROM per JOIN nation n ON per.s_nationkey = n.n_nationkey
ORDER BY nation
"""


def q_geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot detection on an integer grid — the second geo
    operator: bin customer coordinates into 10°×10° cells (pure integer
    floor on the exact DECIMAL degrees — no geohash strings needed), count
    per cell, then 3×3 neighborhood smoothing so single-cell noise doesn't
    masquerade as a hotspot. The smoothing is CONTRIBUTION-shaped: each
    cell explodes its count to its 9 neighbors (longitude wraps modulo the
    grid, latitude clamps at the poles) and the neighbor aggregate sums —
    one bounded ×9 fan-out of the CELL relation (≤648 rows whatever the
    customer count), never a self-join of the data.

    All math is exact integers; output is the top-15 smoothed cells with
    a total (smoothed desc, cell) tie order. Scale: one map-side-combined
    shuffle of grid-cell cardinality; the fan-out and final top-k run on
    the ≤648-row cell relation.
    """
    c = load_table(spark, sf_dir, "customer")
    lat, lon = _synth_coords(F.col("c_custkey"), "c")
    cells = (
        c.select(
            F.floor((lat.cast("double") + 90.0) / 10.0).cast("int").alias("gy"),
            F.floor((lon.cast("double") + 180.0) / 10.0).cast("int").alias("gx"),
        )
        .groupBy("gy", "gx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    offs = F.array([F.lit(i) for i in (-1, 0, 1)])
    contrib = (
        cells.select(
            "gy", "gx", "n", F.explode(offs).alias("dy")
        )
        .select("gy", "gx", "n", "dy", F.explode(offs).alias("dx"))
        .select(
            (F.col("gy") + F.col("dy")).alias("ny"),
            ((F.col("gx") + F.col("dx") + 36) % 36).alias("nx"),
            "n",
        )
        .filter((F.col("ny") >= 0) & (F.col("ny") <= 17))
    )
    smoothed = contrib.groupBy("ny", "nx").agg(
        F.sum("n").cast("long").alias("n_smoothed")
    )
    return (
        smoothed.join(
            cells.select(
                F.col("gy").alias("ny"), F.col("gx").alias("nx"), F.col("n")
            ),
            ["ny", "nx"],
            "left",
        )
        .select(
            F.col("ny").alias("cell_lat"),
            F.col("nx").alias("cell_lon"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_local"),
            "n_smoothed",
        )
        .orderBy(F.desc("n_smoothed"), "cell_lat", "cell_lon")
        .limit(15)
    )


_UC = (
    "CAST(CAST(concat('0x', substr(md5(concat('{tag}', CAST(c_custkey AS VARCHAR))), 1, 15)) "
    "AS BIGINT) AS DOUBLE) / POW(2.0, 60.0)"
)

GEO_GRID_DENSITY_SQL = f"""
WITH located AS (
    SELECT CAST(ROUND(CAST({_UC.format(tag="clat:")} * 170.0 - 85.0 AS DECIMAL(28,8)), 6)
                AS DECIMAL(10,6)) AS lat,
           CAST(ROUND(CAST({_UC.format(tag="clon:")} * 360.0 - 180.0 AS DECIMAL(28,8)), 6)
                AS DECIMAL(10,6)) AS lon
    FROM customer
),
cells AS (
    SELECT CAST(FLOOR((CAST(lat AS DOUBLE) + 90.0) / 10.0) AS INTEGER) AS gy,
           CAST(FLOOR((CAST(lon AS DOUBLE) + 180.0) / 10.0) AS INTEGER) AS gx,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM located GROUP BY 1, 2
),
contrib AS (
    SELECT gy + dy AS ny, CAST((gx + dx + 36) % 36 AS INTEGER) AS nx, n
    FROM cells
    CROSS JOIN (SELECT CAST(r AS INTEGER) AS dy FROM range(-1, 2) t(r))
    CROSS JOIN (SELECT CAST(r AS INTEGER) AS dx FROM range(-1, 2) t(r))
    WHERE gy + dy BETWEEN 0 AND 17
),
smoothed AS (
    SELECT ny, nx, CAST(SUM(n) AS BIGINT) AS n_smoothed
    FROM contrib GROUP BY ny, nx
)
SELECT s.ny AS cell_lat, s.nx AS cell_lon,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_local,
       n_smoothed
FROM smoothed s LEFT JOIN cells c ON c.gy = s.ny AND c.gx = s.nx
ORDER BY n_smoothed DESC, cell_lat, cell_lon
LIMIT 15
"""
