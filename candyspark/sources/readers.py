"""Source operators (SURVEY.md §2.1, S1-S4/S8-S9).

Every reader takes an explicit schema — no ``inferSchema`` (the reference
infers everywhere, /root/reference/src/data_processor.py:105-114; at scale
that is an extra full pass over the input). Schema-on-read + column pruning +
predicate pushdown then come for free from the parquet/CSV/JSON data sources.

JDBC (S3/S5) and MongoDB (S4/S6) connector paths are implemented behind the
same API but gated: the connector jars are deployment config (see
``session.get_spark(packages=...)``), and at scale a JDBC read must be
partitioned (``partitionColumn``/``numPartitions``) — the reference's
single-partition connector reads (/root/reference/src/data_processor.py:198-206)
would funnel the whole table through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def load_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV scan (S1 — reference src/data_processor.py:104-107, minus inference)."""
    return spark.read.csv(path, header=header, schema=schema)


def load_json_array_files(
    spark: SparkSession, path_glob: str, schema: T.StructType
) -> DataFrame:
    """Multi-file JSON scan, each file a top-level JSON array (S2 —
    reference src/data_processor.py:109-114). ``multiLine=True`` is required
    for array-per-file layout; with an explicit schema Spark still skips the
    inference pass. For genuinely large JSON, land it to parquet first
    (multiLine JSON is not splittable — one task per file)."""
    return spark.read.json(path_glob, schema=schema, multiLine=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (FIXTURES.md §B) from ``sf_dir``.

    ``events.ts`` normalization is type-adaptive, because the driver has
    shipped it both as parquet TIMESTAMP(NANOS) — which Spark 4 rejects
    ([PARQUET_TYPE_ILLEGAL]) unless read as int64 nanos via the legacy conf —
    and as plain TIMESTAMP(MICROS) (naive, -> TIMESTAMP_NTZ). Either way the
    column leaves here as session-TZ TIMESTAMP (UTC session, see session.py),
    matching DuckDB's naive-microsecond timestamps value-for-value."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):  # int64 nanos under the legacy conf
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":  # timestamp_ntz -> session-TZ timestamp
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a scan that yields fewer partitions than cores.

    Parquet splits by BYTES (``maxPartitionBytes``), so a compact table whose
    per-row work is expensive — an md5 per shingle, 64-dim vector folds —
    can land in one task and serialize the whole operator on one core
    (measured: MinHash-LSH at sf0.1 went 12.2 s → 2.8 s with this).
    Conditional by design: at real scale multi-file inputs already exceed
    ``defaultParallelism`` and this is a no-op, so the steady-state plan
    stays shuffle-free; the round-robin exchange only ever fires on
    small-file inputs, where it is one cheap shuffle of the raw scan columns
    in exchange for full-cluster CPU parallelism."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "com.mysql.cj.jdbc.Driver",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan (S3 — reference src/data_processor.py:181-224).

    Unlike the reference, supports partitioned reads: without
    ``partitionColumn`` a JDBC source is a single task regardless of cluster
    size. Requires the driver jar on the classpath (session ``packages``).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    return reader.load()


def load_mongodb(
    spark: SparkSession, uri: str, database: str, collection: str
) -> DataFrame:
    """MongoDB scan (S4 — reference src/data_processor.py:226-255). Requires
    the spark-mongodb connector package on the session."""
    return (
        spark.read.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .load()
    )


def load_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan — same columnar/pushdown posture as parquet (predicate
    pushdown, column pruning, splittable stripes); offered for lakes whose
    interchange standard is ORC rather than parquet."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def load_xml(
    spark: SparkSession, path: str, row_tag: str = "row", schema=None
) -> DataFrame:
    """XML scan (Spark 4 built-in ``xml`` source, the former spark-xml
    package merged upstream). ``row_tag`` selects the repeated element that
    becomes a row. Always pass a schema in production: XML inference reads
    the data twice and is sampling-dependent — the same no-inferSchema rule
    as CSV/JSON (schemas.py). Row-tag splitting keeps files splittable at
    element boundaries, unlike the reference's whole-file JSON arrays."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def load_jsonl(
    spark: SparkSession, path: str, schema=None, corrupt_col: str | None = None
) -> DataFrame:
    """JSON-lines scan (one object per line — splittable, unlike the
    reference's multiLine array files, SURVEY.md §2.1 S2: a multiLine JSON
    file is ONE task no matter its size, while JSONL parallelizes by
    line). Pass an explicit schema in production — inference scans twice.

    ``corrupt_col``: capture-don't-drop malformed records (PERMISSIVE
    mode). The schema must include ``corrupt_col`` as a nullable string;
    malformed lines land there verbatim with every data field null, so a
    100-TB ingest quantifies and quarantines bad input relationally
    instead of failing the job (FAILFAST) or silently nulling
    (PERMISSIVE without the column)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if corrupt_col is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    return reader.json(path)
