"""Streaming sinks: how a drained stream lands in tables.

Two sink shapes the reference's users need that `writeStream.format(
"memory")` doesn't cover:

- foreachBatch upsert (`stream_sink_upsert`): maintain a
  latest-event-per-user table across micro-batches. Parquet has no
  MERGE, so each batch rewrites the snapshot via stage-and-swap —
  write the merged snapshot to a staging dir, then atomically rename
  over the target (never read-and-overwrite the same path in one
  job). At 100 TB the same foreachBatch body targets a Delta/Iceberg
  MERGE instead of a snapshot rewrite; the batch-side logic (window
  latest-wins on the key) is unchanged —
  `merge_upsert_foreach_batch` below is that production body, gated
  on the jars being present (they aren't in this container; its
  contract is pinned by tests that skip the execution leg cleanly).
- partitioned parquet append sink (`stream_sink_partitioned`): the
  native `writeStream.format("parquet").partitionBy(...)` path with a
  checkpoint dir — exactly-once file sink, partition pruning for
  downstream readers.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import SCRATCH_ROOT
from duckdb_sudan__spark.sources.files import _swap_staging, sf_cache_key
from duckdb_sudan__spark.streaming.events import drain, events_stream

_SINK_ROOT = os.path.join(SCRATCH_ROOT, "sinks")


def _persist_result(df: DataFrame, sf_dir: str, name: str, fingerprint: str,
                    partition_by: str | None = None) -> str:
    """Persist a drained-sink relation under tmp/sinks/<sf>/<name> with
    the repo-wide fingerprint + staging + rename discipline — the
    executor-side replacement for the old collect()-materialization
    (the rows never visit the driver; the 'copy out of the temp dir'
    is a Spark write). Returns the final path; a current fingerprint
    marker skips the rewrite so interleaved harnesses never delete a
    directory another may be mid-read on."""
    sf_base = sf_cache_key(sf_dir)
    final = os.path.join(_SINK_ROOT, sf_base, name)
    marker = os.path.join(final, "_sink_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final
    staging = f"{final}.staging-{os.getpid()}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    with open(os.path.join(staging, "_sink_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def latest_per_user(df: DataFrame) -> DataFrame:
    """Latest-wins on user_id, ordered by (ts, event_id) — event_id
    breaks exact-timestamp ties deterministically."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _link_or_copy(src: str, dst: str) -> None:
    """Hard-link when src/dst share a filesystem, copy otherwise
    (os.link raises EXDEV across mounts — e.g. testdata on a different
    volume than the tempdir)."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy(src, dst)


def _recover_snapshot(target_dir: str) -> None:
    """Crash recovery for the stage-and-swap: if a previous batch died
    between rename(target→old) and rename(staging→target), the target
    is missing but the displaced snapshot survives as `.old-<id>` —
    restore the newest one so the retry merges against the accumulated
    snapshot instead of silently rebuilding from one micro-batch."""
    if os.path.exists(target_dir):
        return
    parent = os.path.dirname(target_dir) or "."
    base = os.path.basename(target_dir) + ".old-"
    if not os.path.isdir(parent):
        return
    olds = sorted(
        (n for n in os.listdir(parent) if n.startswith(base) and n[len(base):].isdigit()),
        key=lambda n: int(n[len(base):]),
    )
    if olds:
        os.rename(os.path.join(parent, olds[-1]), target_dir)


def upsert_foreach_batch(target_dir: str):
    """foreachBatch body: merge the micro-batch into the snapshot at
    target_dir with latest-wins semantics, via stage-and-swap (with
    `.old-` recovery closing the two-rename crash window)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = ["user_id", "ts", "event_type", "value", "event_id"]
        new = batch_df.select(*cols)
        _recover_snapshot(target_dir)
        if os.path.exists(os.path.join(target_dir, "_SUCCESS")):
            merged = latest_per_user(spark.read.parquet(target_dir).unionByName(new))
        else:
            merged = latest_per_user(new)
        staging = target_dir + f".staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        old = target_dir + f".old-{batch_id}"
        if os.path.exists(target_dir):
            os.rename(target_dir, old)
        os.rename(staging, target_dir)
        if os.path.exists(old):
            shutil.rmtree(old)

    return fn


# ---------------------------------------------------------------------------
# Delta / Iceberg MERGE sink (jar-gated)
# ---------------------------------------------------------------------------

def merge_capabilities(spark: SparkSession) -> dict[str, bool]:
    """Which lakehouse MERGE targets this session can reach: probes the
    JVM classpath for the Delta and Iceberg runtimes. This container
    ships neither jar, so both are False here — the wrapper and its
    contract test exist to pin the production mapping (the docstring
    promise at the top of this module) rather than to run locally."""
    caps = {}
    for name, klass in (
        ("delta", "io.delta.tables.DeltaTable"),
        ("iceberg", "org.apache.iceberg.Table"),
    ):
        try:
            spark._jvm.java.lang.Class.forName(klass)  # noqa: SLF001
            caps[name] = True
        except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFound opaquely
            caps[name] = False
    return caps


def merge_statement(target_table: str, updates_view: str) -> str:
    """The MERGE both Delta and Iceberg execute for the latest-wins
    upsert — the same semantics `upsert_foreach_batch` implements via
    stage-and-swap for plain parquet: newer (ts, event_id) wins, new
    users insert. ANSI MERGE, no engine-specific syntax."""
    return f"""
MERGE INTO {target_table} t
USING {updates_view} s
ON t.user_id = s.user_id
WHEN MATCHED AND (s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id))
  THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
""".strip()


def merge_upsert_foreach_batch(target_table: str):
    """foreachBatch body targeting a Delta/Iceberg table: reduce the
    micro-batch to one latest row per user (same `latest_per_user` the
    parquet path uses), then one atomic MERGE. At 100 TB this replaces
    the snapshot rewrite entirely — the table format gives atomic
    commits, so no stage-and-swap, no crash window, and the MERGE
    shuffles only the micro-batch against the matching target files."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        caps = merge_capabilities(spark)
        if not any(caps.values()):
            raise RuntimeError(
                "merge_upsert_foreach_batch requires the Delta or Iceberg "
                "runtime on the classpath (io.delta:delta-spark or "
                "org.apache.iceberg:iceberg-spark-runtime); found neither. "
                "Use upsert_foreach_batch (parquet stage-and-swap) instead."
            )
        cols = ["user_id", "ts", "event_type", "value", "event_id"]
        view = f"_merge_updates_{batch_id}"
        latest_per_user(batch_df.select(*cols)).createOrReplaceTempView(view)
        try:
            spark.sql(merge_statement(target_table, view))
        finally:
            spark.catalog.dropTempView(view)

    return fn


@register("stream_sink_upsert")  # rows-only: sink round-trip, not SQL-comparable
def stream_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the event stream through the foreachBatch upsert and
    return the resulting latest-event-per-user table."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        os.makedirs(src)
        _link_or_copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
        target = os.path.join(tmp, "latest_by_user")
        drain(
            events_stream(spark, src).writeStream.foreachBatch(upsert_foreach_batch(target)),
            "stream_sink_upsert",
            os.path.join(tmp, "ckpt"),
        )
        # persist executor-side before the TemporaryDirectory vanishes
        # (a Spark write, not a driver collect — see _persist_result)
        fp = f"v1:{os.path.getmtime(os.path.join(sf_dir, 'events.parquet'))}"
        final = _persist_result(spark.read.parquet(target), sf_dir, "latest_by_user", fp)
    return spark.read.parquet(final).orderBy("user_id")


@register("stream_sink_partitioned")  # rows-only: native file sink round-trip
def stream_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the event stream into a parquet sink partitioned by
    event_type; return per-partition counts read back through the
    partition-pruned layout."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        os.makedirs(src)
        _link_or_copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
        out_dir = os.path.join(tmp, "by_type")
        drain(
            events_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .partitionBy("event_type"),
            "stream_sink_partitioned",
            os.path.join(tmp, "ckpt"),
        )
        # persist the partitioned tree executor-side, keeping the
        # event_type layout so the count below is a partition-pruned read
        fp = f"v1:{os.path.getmtime(os.path.join(sf_dir, 'events.parquet'))}"
        final = _persist_result(
            spark.read.parquet(out_dir), sf_dir, "by_type", fp, partition_by="event_type"
        )
    back = spark.read.parquet(final)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )
