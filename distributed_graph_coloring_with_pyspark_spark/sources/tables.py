"""Parquet table loaders for the driver's synthetic testdata
(TESTDATA.md): TPC-H-ish star schema + events/documents/embeddings.

``spark.read.parquet`` gives vectorized scans, predicate pushdown and
column pruning for free; at 100 TB these tables would be partitioned
(e.g. orders by month of o_orderdate) and the same code applies —
partition pruning kicks in on the date filters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The driver's generator has emitted events.ts as INT64 TIMESTAMP(NANOS)
# in some rounds and as standard TIMESTAMP(MICROS) in others, so the
# loader adapts per file: a one-footer pyarrow sniff picks the matching
# explicit schema (explicit = no inference, so the read works under ANY
# SparkSession — the verification driver builds its own, without our
# session.py conf, and Spark 4 rejects nanos under inference unless
# spark.sql.legacy.parquet.nanosAsLong is set).  At 100 TB this is one
# footer read per table registration, not per query.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

EVENTS_TS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# sf_dir → sniff result; the physical layout of a corpus is fixed for
# the life of a run, so the footer is parsed once per directory, not
# once per load_table/events_stream call
_TS_UNIT_CACHE: dict[str, bool] = {}


def events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.ts is physically INT64 nanos (or already long).
    Micro/milli/second timestamps read natively; nanos take the
    long-schema + exact ``div 1000`` path.  Handles both a single file
    and a Spark-written directory of part files (footer of the first
    part — one layout per table).  Unreadable/remote paths default to
    the standard micros read, the layout every modern writer emits.
    Memoized per sf_dir (one footer read per corpus per process)."""
    cached = _TS_UNIT_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    result = _sniff_ts_is_nanos(sf_dir)
    _TS_UNIT_CACHE[sf_dir] = result
    return result


def _sniff_ts_is_nanos(sf_dir: str) -> bool:
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        path = parts[0]
    try:
        sch = pq.ParquetFile(path).schema
        col = sch.column(sch.names.index("ts"))
    except Exception:
        return False
    # Decide on the PARQUET physical type, not the arrow mapping:
    # pyarrow surfaces both INT96 (Spark's own legacy timestamp, which
    # Spark reads natively) and INT64 TIMESTAMP(NANOS) as
    # timestamp[ns], but only the latter needs the long-schema path.
    if col.physical_type != "INT64":
        return False
    lt = col.logical_type
    if lt.type == "TIMESTAMP":
        return "nano" in str(lt).lower()
    return True  # plain INT64 → long epoch-nanos (test fixtures)

# sf_dir → events row count; like the ts sniff, a corpus's size is
# fixed for the life of a run, and the streaming drive harness only
# needs it to size the shuffle/state-store clamp
_ROW_COUNT_CACHE: dict[str, int] = {}


def events_row_count(sf_dir: str) -> int:
    """Row count of the events table from parquet FOOTER metadata — no
    Spark job (review r5: every streaming query was paying a count()
    job just to size its shuffle clamp), memoized per corpus like the
    ts-unit sniff.  Falls back to 0 (callers clamp to ≥1 partition) if
    the footers are unreadable."""
    cached = _ROW_COUNT_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    try:
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return 0  # uncached: a later successful read should win
    _ROW_COUNT_CACHE[sf_dir] = n
    return n


TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC (runtime-settable).  Every
    epoch/date_trunc comparison against the DuckDB oracle (UTC-naive
    timestamps) depends on it; our session factory sets it, but the
    verification driver builds its own session — set it defensively at
    every table load."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def table_path(sf_dir: str, name: str) -> str:
    """Where ``load_table`` reads table ``name`` of a corpus."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    path = table_path(sf_dir, name)
    if name == "events":
        if events_ts_is_nanos(sf_dir):
            # Explicit schema (no inference) → readable under any session;
            # then convert long nanos → timestamp.  `ts div 1000` is exact
            # integer division — (ts/1000).cast("long") would round-trip
            # through double, whose 2^53 mantissa cannot represent ~1.7e18
            # nanos exactly and silently shifts ~1.5% of values by 1µs.
            df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # micros generation: TimestampType schema (not inference — Spark 4
        # would infer TIMESTAMP_NTZ for pandas-written tz-naive micros,
        # which diverges from the UTC-pinned session the oracle assumes)
        return spark.read.schema(EVENTS_TS_SCHEMA).parquet(path)
    return read_parquet(spark, path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    (session, path) and read back through ``spark.read.schema``:
    inference is a Spark job of its own, which a repeated query would
    otherwise pay on every call.  Partition columns are still discovered
    from the directories.  A package writer that rewrites ``path`` calls
    ``forget_schema`` after the write."""
    schema = cache.memo(
        spark, "table_schemas", path, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def forget_schema(spark: SparkSession, path: str) -> None:
    """Drop the schema ``read_parquet`` keeps for ``path``."""
    cache.release(spark, "table_schemas", path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file-source over events.parquet with the same adaptive
    ts handling as the batch loader.  A single-file layout is reached
    by glob-filtering sf_dir (so sibling tables aren't picked up); a
    directory-of-parts layout is streamed from the directory itself —
    a glob of 'events.parquet' would match NONE of the part-*.parquet
    leaves and silently deliver zero rows (pinned by
    tests/test_io_formats.py::test_multifile_corpus_layout)."""
    ensure_utc(spark)
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        def _source(schema):
            return spark.readStream.schema(schema).parquet(path)
    else:
        def _source(schema):
            return (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
            )

    if events_ts_is_nanos(sf_dir):
        raw = _source(EVENTS_RAW_SCHEMA)
        # exact integer division nanos→micros (see load_table note)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _source(EVENTS_TS_SCHEMA)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Expose every table as a temp view so ``spark.sql`` queries run
    against the same data the DuckDB oracle sees."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
