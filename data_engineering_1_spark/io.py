"""Fixture-table loaders and generic sources/sinks.

The driver fixtures (TESTDATA.md) are one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``. Loading is a plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and (on a partitioned layout at real scale) partition pruning for free.

Sink helpers reproduce the reference's persistence semantics Spark-first:
  - CSV chunk export (reference: src/pdf_extractor.py:217-240, utf-8-sig CSV)
  - idempotent load guard (reference: src/vector_store.py:114-117 "skip if
    populated") -> mode("ignore")
  - destructive rebuild (reference: src/vector_store.py:96-107
    reset_collection) -> mode("overwrite")
  - JSON inspection dump (reference: src/vector_store.py:184-205)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Resolved-DataFrame memo: keyed by (session id, sf_dir, table). Fixture
# tables are immutable, but driver-side schema resolution (file listing +
# parquet footer read + the nanos retry) costs tens of ms per call — the
# bench suite calls load_table hundreds of times, so re-resolving was a
# measurable slice of the whole run. A cached DataFrame is just a resolved
# logical plan: reusing it changes no results and keeps every query lazy.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: nothing is read until an action runs.

    ``events.ts`` is parquet TIMESTAMP(MICROS) on this fixture set (verified
    with pyarrow at all three scale factors), which Spark reads natively.
    Spark 4.1 rejects a TIMESTAMP(NANOS) column (PARQUET_TYPE_ILLEGAL), so
    such a file takes the nanosAsLong retry in ``_read_parquet_nanos_safe``
    and surfaces ``ts`` as a long, which we truncate to microseconds —
    exactly what DuckDB's scanner does (TIMESTAMP_NS -> µs TIMESTAMP
    truncates), so oracle comparisons stay exact on either path.

    Whatever path was taken, ``ts`` is normalized to one canonical type —
    TIMESTAMP_NTZ (the native-read result, values unchanged under the UTC
    session timezone) — so downstream schema-sensitive ops (unions, schema
    equality, stream/batch twins) never see a build-dependent type.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet_nanos_safe(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    _TABLE_CACHE[key] = df
    return df


def resolve_raw_ts_type(spark: SparkSession, sf_dir: str, name: str = "events"):
    """The parquet-resolved type of ``ts`` BEFORE normalization: a timestamp
    type when this build reads the file's time unit natively, ``LongType``
    when it needed the nanosAsLong fallback. This is what a streaming source
    must consult to declare its read schema — a stream reader takes an
    explicit schema, so it cannot rely on batch schema inference and must
    mirror the batch loader's adaptive decision (the round-2 bug was exactly
    this: the stream hard-coded the nanos-long path while the fixture is
    MICROS, compressing every timestamp 1000x into 1970).

    ``name`` may be a table name or a glob (e.g. ``*.parquet``) — the first
    matching file's resolved schema is used (all files in a stream dir share
    one writer/unit)."""
    import glob as _glob

    if any(ch in name for ch in "*?["):
        matches = sorted(_glob.glob(os.path.join(sf_dir, name)))
        if not matches:
            raise FileNotFoundError(f"no files match {name} under {sf_dir}")
        path = matches[0]
    elif name.endswith(".parquet"):
        path = os.path.join(sf_dir, name)
    else:
        path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet_nanos_safe(spark, path)
    for field in df.schema.fields:
        if field.name == "ts":
            return field.dataType
    raise ValueError(f"table {name} has no ts column")


def _read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, retrying with nanosAsLong only for the specific
    TIMESTAMP(NANOS) incompatibility. Genuine errors (missing path,
    corrupt footer) propagate untouched, and the legacy conf is restored
    after schema resolution so the session-wide setting is not mutated
    as a side effect (the returned plan captures the conf at analysis
    time, so restoring it immediately is safe)."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution
        return df
    except Exception as exc:  # noqa: BLE001 — filtered by message below
        msg = str(exc)
        if "NANOS" not in msg and "nanosAsLong" not in msg:
            raise
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
            df.schema  # resolve under the legacy conf
            return df
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink; ``mode='ignore'`` gives the reference's idempotent-load
    guard (src/vector_store.py:114-117), ``'overwrite'`` its destructive
    reset (src/vector_store.py:96-107)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_chunk_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Chunk CSV export, mirroring the reference's save_extracted_text
    (src/pdf_extractor.py:230-237: pandas to_csv utf-8-sig, header, no index).
    Spark writes a directory of part files — the distributed equivalent."""
    (
        df.write.mode(mode)
        .option("header", True)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def read_chunk_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Chunk CSV source, mirroring the reference's reload path
    (src/main.py:47-65: pd.read_csv over ``*_extracted.csv``)."""
    reader = spark.read.option("header", True)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines dump, mirroring save_content_for_inspection
    (src/vector_store.py:184-205)."""
    df.write.mode(mode).json(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)
