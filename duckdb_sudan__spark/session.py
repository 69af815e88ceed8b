"""SparkSession factory + test-table loaders.

Scale posture (SURVEY.md §8): AQE on (runtime re-plan, skew-join
handling), auto broadcast for small dims, Arrow for any Pandas-UDF
exchange. On a real cluster only master/shuffle-partitions change.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# cached stages, roundtrip files and sink results: <checkout>/tmp
SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tmp")


def get_spark(app_name: str = "duckdb_sudan__spark", shuffle_partitions: int | None = None) -> SparkSession:
    # must precede JVM launch: worker processes inherit $PYTHONPATH
    # captured now — this makes google.protobuf (real or vendored shim)
    # importable inside them for the transformWithState tier
    from duckdb_sudan__spark.vendor import ensure_protobuf_path

    ensure_protobuf_path()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing (Spark's default, kept explicit
        # after measurement): r2 set this to false so tiny shuffles
        # collapse toward the 64 MB advisory, but that setting
        # serializes MEDIUM shuffles — the sf1 bench's 1.5M-key q18
        # aggregate writes a 24 MB shuffle that false+64m coalesced to
        # ONE reducer (3.45 s final agg on one core; 0.57 s with
        # parallelism-first — measured r5, and the full sf0.1 headline
        # set is 10.4 s vs 13.7 s). With parallelism-first, AQE still
        # merges sub-advisory partitions but never below default
        # parallelism, so every core stays busy at bench scale AND at
        # cluster scale; the advisory continues to bound partition
        # size for genuinely large shuffles.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # SudanReader implements DataSourceReader.pushFilters (year-range
        # extraction from the WHERE clause); Spark refuses to plan a
        # pushFilters-bearing Python source unless this is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Parquet scan: filters/projections placed on
    top of this are pushed into the scan by Catalyst (PushedFilters /
    pruned ReadSchema) — keep transformations declarative.

    `events.ts` has shipped in two physical forms across testdata
    generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    reader rejects, so it is read as raw nanos (`nanosAsLong`) and
    truncated to microseconds with integer division, matching DuckDB's
    ns→µs truncation exactly — and plain TIMESTAMP(MICROS), which
    Spark reads as TIMESTAMP_NTZ and we align to the session-TZ
    TIMESTAMP the nanos path produced (session TZ is pinned UTC, so
    the instant is unchanged and oracle hashes stay exact).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return align_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def align_events_ts(events: DataFrame) -> DataFrame:
    """Align a batch or streaming `events` relation's `ts` to the
    session-TZ TIMESTAMP, whichever on-disk generation it was read
    from (see load_table)."""
    ts_type = events.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) generation
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, T.TimestampType):  # TIMESTAMP_NTZ generation
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def local_frame(spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str) -> DataFrame:
    """The one way to build a relation from driver-side Python rows.

    `schema` is a StructType or a DDL string. The rows become a typed
    Arrow table, column by column, which createDataFrame turns into a
    LocalRelation: no RDD, no Python worker when it executes, and exact
    size statistics for the planner. (A Python list handed straight to
    createDataFrame becomes a PythonRDD instead, and every execution
    of it runs Python tasks.)"""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
