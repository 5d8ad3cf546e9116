"""Fixture-table catalog: parquet sources at a scale-factor directory.

The reference discovers source schema at runtime from the result set
(/root/reference/extractor.go:71-75); Spark's parquet reader does the
same from file footers — no declared schema needed. Inference costs a
Spark job per read, so each file's schema is inferred once per process
and later reads declare it (see ``_read_parquet``). Filters and
projections applied downstream are pushed into these scans by Catalyst
(verify with ``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# Small dimensions that should always be broadcast in joins at any SF:
# region/nation are bounded (5/25 rows at every scale), supplier/part
# grow slowly. Kept as metadata so operators can hint deliberately.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# Timestamp columns whose parquet physical type has varied across
# fixture generations: INT64 TIMESTAMP(NANOS) in early drops (read as
# long under spark.sql.legacy.parquet.nanosAsLong and truncated to
# micros here — integer DIV, matching DuckDB's TIMESTAMP_NS read), and
# plain TIMESTAMP(MICROS) in current drops (read as TIMESTAMP_NTZ,
# re-typed to the session-UTC TIMESTAMP the operators expect). The
# normalization inspects the ACTUAL read schema so either vintage
# loads identically (verified in tests/test_sources.py).
_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Session settings that change how parquet types map to Spark types:
# a schema inferred under one combination is wrong under another, so
# they are part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# real path -> ((size, mtime_ns, *inference settings), inferred schema);
# one entry per file, so a rewrite replaces its stale schema
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only once.

    Inference launches a Spark job that reads the file footers
    (~120 ms per sf0.01 table on 4 vCPUs); declaring the cached schema
    instead costs no job (~30 ms). The entry is stamped with the
    file's size and mtime and the session's type-mapping settings, so
    a rewritten file (or a changed setting) is inferred again. The
    DataFrame itself is built fresh on every call, so the file listing
    is never stale. Anything but a local regular file (a dataset
    directory, a remote URI) is read as before. Two threads missing at
    once both infer; the second write stores the same schema."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    stamp = (st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k) for k in _INFERENCE_CONFS
    )
    cached = _SCHEMAS.get(real)
    if cached is None or cached[0] != stamp:
        df = spark.read.parquet(path)
        _SCHEMAS[real] = (stamp, df.schema)
        return df
    return spark.read.schema(cached[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; valid: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, ()):
        dt = df.schema[col].dataType.typeName()
        if dt == "long":
            # integer DIV, not `/`: float division of epoch-nanos
            # (~1.7e18) exceeds double's 53-bit mantissa and rounds
            # the microsecond
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} DIV 1000"))
            )
        elif dt == "timestamp_ntz":
            # value-preserving under the session's pinned UTC zone;
            # keeps one consistent TIMESTAMP type downstream (window(),
            # unix-epoch funcs, stream watermarks all expect LTZ)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql().

    ``tables`` narrows registration to the views a query actually
    references. Each ``load_table`` still builds a file index on the
    driver (its schema comes from the cache after the first read), so
    registering all 10 tables costs ~10 driver round-trips per query
    invocation; the ~30 SQL passthrough queries each touch 1-6 tables
    (guide §1.2: don't compute things you throw away — here,
    driver-side). Default stays all-tables for callers that want the
    full catalog (tests, ad-hoc sessions)."""
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def referenced_tables(sql: str) -> tuple[str, ...]:
    """The fixture tables a SQL text references, by word-boundary
    match. Over-matching (a table name in a comment or alias) only
    registers an unused view — harmless; a miss is impossible for a
    real reference since any FROM/JOIN mention IS a word match."""
    import re

    return tuple(
        name for name in TABLES if re.search(rf"\b{name}\b", sql)
    )
