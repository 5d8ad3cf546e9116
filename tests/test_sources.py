"""Source-catalog tests: the events.ts normalization path and the
per-file schema cache.

The fixture ``events.ts`` physical type has varied across driver
drops: INT64 TIMESTAMP(NANOS) (read as raw long under
spark.sql.legacy.parquet.nanosAsLong, truncated to micros with integer
division — float division of epoch-nanos would exceed double's 53-bit
mantissa and corrupt the microsecond) and TIMESTAMP(MICROS) (read as
TIMESTAMP_NTZ, cast to the session-UTC TIMESTAMP). load_table inspects
the actual schema; these tests prove both vintages land on exactly the
microsecond values DuckDB reads — which is what keeps every ts-bearing
oracle comparable.
"""

import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_etl_spark.sources.catalog import TABLES, load_table


def _fixture_ts_is_nanos_long(sf_dir) -> bool:
    return str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type) == "int64"


def test_events_ts_is_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)


def test_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir):
    # DuckDB's native parquet timestamp read produces the reference
    # microsecond values Spark must reproduce for either fixture
    # vintage (this is what makes every ts-bearing oracle comparable)
    got = {
        r["event_id"]: r["us"]
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    )
    assert got == want


def test_raw_nanos_truncate_exactly(spark, sf_dir):
    # nanos-vintage only: the integer-DIV contract ts_us == raw_ns DIV
    # 1000 for every row. The nanos carry sub-microsecond digits, so
    # this is a truncation (identical to DuckDB's TIMESTAMP_NS ->
    # micros read), not a lossless cast — and it must be integer
    # division: float division of epoch-nanos (~1.7e18) sits at
    # double's 53-bit mantissa edge where floor() can land on the
    # wrong microsecond
    if not _fixture_ts_is_nanos_long(sf_dir):
        pytest.skip("fixture vintage stores micros; nanos path not in play")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").alias("ns")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    joined = raw.join(ev, "event_id")
    assert joined.filter(F.expr("us != ns DIV 1000")).count() == 0
    # and the truncation is real on this data (sub-micro digits exist)
    assert joined.filter(F.expr("ns % 1000 != 0")).count() > 0


def test_unknown_table_rejected(spark, sf_dir):
    try:
        load_table(spark, sf_dir, "nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_catalog_covers_all_fixture_tables(spark, sf_dir):
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert len(df.columns) > 0


def _jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"test_sources:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_reuses_inferred_schema(spark, sf_dir):
    # inference is a Spark job over the file footers; once a file's
    # schema is known, a reload declares it and launches nothing
    load_table(spark, sf_dir, "orders")
    schema, jobs = _jobs_launched(
        spark, lambda: load_table(spark, sf_dir, "orders").schema
    )
    assert jobs == 0
    assert schema == spark.read.parquet(f"{sf_dir}/orders.parquet").schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first, jobs = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "region").schema
    )
    assert jobs == 1
    _, jobs = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "region").schema
    )
    assert jobs == 0
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": ["A"], "r_comment": ["c"]}), path
    )
    df, jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 1
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.schema != first
    assert df.collect()[0]["r_comment"] == "c"
