"""Sources/sinks (SURVEY.md §2.1 S3-S4, S8, S10): CSV chunk export/reload,
JSON lines round-trip, and the idempotent/overwrite write-mode semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_1_spark import io


@pytest.fixture(scope="module")
def chunks_df(spark):
    rows = [
        ("chunk one text", "a.pdf", 1, 1, 2, None),
        ("chunk two text", "a.pdf", 2, 1, 2, 1),
        ("chunk thr text", "b.pdf", 1, 3, 1, 2),
    ]
    return spark.createDataFrame(
        rows,
        "text string, source string, page_number int, paragraph_number int, "
        "total_pages int, chunk_number int",
    )


CHUNK_SCHEMA = (
    "text string, source string, page_number int, paragraph_number int, "
    "total_pages int, chunk_number int"
)


def test_csv_roundtrip_with_schema(spark, chunks_df, tmp_path):
    path = str(tmp_path / "chunks_csv")
    io.write_chunk_csv(chunks_df, path)
    back = io.read_chunk_csv(spark, path, schema=CHUNK_SCHEMA)
    assert back.schema == chunks_df.schema  # typed reload (S4, main.py:47-65)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, chunks_df.collect())
    )


def test_csv_schema_inference_restores_ints(spark, chunks_df, tmp_path):
    # the reference's pandas reload infers ints back from CSV (SURVEY §1.2)
    path = str(tmp_path / "chunks_csv_infer")
    io.write_chunk_csv(chunks_df, path)
    back = io.read_chunk_csv(spark, path)
    assert dict(back.dtypes)["page_number"] == "int"


def test_json_roundtrip(spark, chunks_df, tmp_path):
    path = str(tmp_path / "chunks_json")
    io.write_json(chunks_df, path)
    back = io.read_json(spark, path, schema=CHUNK_SCHEMA)
    assert back.count() == 3
    assert sorted(map(tuple, back.select(*chunks_df.columns).collect())) == sorted(
        map(tuple, chunks_df.collect())
    )


def test_write_mode_ignore_is_idempotent(spark, chunks_df, tmp_path):
    # S8: the skip-if-populated guard (vector_store.py:114-117)
    path = str(tmp_path / "parquet_ignore")
    io.write_parquet(chunks_df, path)
    io.write_parquet(chunks_df.limit(1), path, mode="ignore")  # no-op
    assert spark.read.parquet(path).count() == 3


def test_write_mode_overwrite_resets(spark, chunks_df, tmp_path):
    # S7: destructive rebuild (vector_store.py:96-107)
    path = str(tmp_path / "parquet_overwrite")
    io.write_parquet(chunks_df, path)
    io.write_parquet(chunks_df.limit(1), path, mode="overwrite")
    assert spark.read.parquet(path).count() == 1


def test_partitioned_write_prunes(spark, chunks_df, tmp_path):
    path = str(tmp_path / "parquet_by_source")
    io.write_parquet(chunks_df, path, partition_by=["source"])
    pruned = spark.read.parquet(path).filter(F.col("source") == "a.pdf")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 2
    # partition filter reached the scan (no source= b directory read)
    assert "PartitionFilters" in plan


def test_load_table_events_nanos_safe(spark):
    """events.ts is parquet TIMESTAMP(MICROS) on every fixture, which Spark
    reads natively; load_table normalizes it to timestamp_ntz. NANOS files
    take the nanosAsLong retry instead (test_load_table_nanos_file)."""
    ev = io.load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    assert ev.count() > 0


def test_load_table_nanos_file(spark, tmp_path):
    """A parquet TIMESTAMP(NANOS) column is rejected by a plain Spark read,
    so load_table goes through _read_parquet_nanos_safe's nanosAsLong retry:
    ``ts`` comes back as timestamp_ntz truncated to microseconds, the
    legacy conf is unset again afterwards, and resolve_raw_ts_type reports
    the long that a stream reader must declare."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    pq.write_table(
        pa.table(
            {"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}
        ),
        str(tmp_path / "nanos.parquet"),
    )
    prev = spark.conf.get(conf, None)
    spark.conf.unset(conf)
    try:
        df = io.load_table(spark, str(tmp_path), "nanos")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.collect()[0]["ts"] == datetime.datetime(
            2023, 11, 14, 22, 13, 20, 123456
        )
        assert spark.conf.get(conf, None) is None
        raw = io.resolve_raw_ts_type(spark, str(tmp_path), "nanos")
        assert isinstance(raw, LongType)
    finally:
        if prev is not None:
            spark.conf.set(conf, prev)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC source/sink: Spark's other built-in columnar format — write
    the orders table as ORC, read it back, and the content (schema and
    every row) survives unchanged, including decimal-exact sums."""
    from pyspark.sql import functions as F

    from data_engineering_1_spark.io import load_table

    od = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    od.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == od.schema
    assert back.count() == od.count()
    s1 = od.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()
    s2 = back.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()
    assert s1 == s2
    # predicate pushdown works on the ORC scan too
    plan = (
        back.where(F.col("o_orderkey") == 42)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan


def test_parquet_compression_codecs(spark, sf_dir, tmp_path):
    """Codec surface (X89): zstd and snappy write options round-trip
    with identical content, the requested codec actually lands in the
    parquet column-chunk metadata (checked via pyarrow), and zstd
    compresses the text corpus tighter — the 100 TB storage lever."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_engineering_1_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = docs.agg(
        F.count(F.lit(1)), F.sum(F.length("text").cast("decimal(18,0)"))
    ).collect()
    sizes = {}
    for codec in ("zstd", "snappy"):
        path = str(tmp_path / f"docs_{codec}")
        docs.coalesce(1).write.option("compression", codec).parquet(path)
        f = _glob.glob(os.path.join(path, "*.parquet"))[0]
        md = pq.ParquetFile(f).metadata
        assert md.row_group(0).column(0).compression.lower() == codec
        back = spark.read.parquet(path)
        got = back.agg(
            F.count(F.lit(1)), F.sum(F.length("text").cast("decimal(18,0)"))
        ).collect()
        assert got == want
        sizes[codec] = os.path.getsize(f)
    assert sizes["zstd"] < sizes["snappy"]
