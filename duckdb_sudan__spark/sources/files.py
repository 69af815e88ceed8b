"""File source/sink wrappers — parquet / csv / json / orc.

DuckDB users read files with read_parquet()/read_csv()/read_json();
the Spark-native equivalents are below, with the scale-relevant knobs
made explicit instead of hidden:

- maxPartitionBytes governs scan parallelism (128 MB default — at
  100 TB that is ~800k tasks; raise to 512 MB for wide scans).
- writes partitionBy low-cardinality keys only (date, region) —
  never high-cardinality ids (small-file explosion).
- bucketBy co-locates future joins on the bucket key (saveAsTable),
  eliminating the shuffle for bucket-aligned joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession

from duckdb_sudan__spark.session import SCRATCH_ROOT


def sf_cache_key(sf_dir: str) -> str:
    """Cache-directory key for an sf_dir: basename PLUS a hash of the
    normalized absolute path — two distinct datasets whose directories
    share a basename (e.g. two checkouts each holding an sf0.1) must
    never share one tmp cache dir and thrash rebuilds via the mtime
    fingerprint (ADVICE r7; same pattern as dedup._index_cache_dir).
    The oracle globs keep matching: their sf path component is `*` and
    the corpus_n row discriminator isolates each dataset's rows."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    return f"{os.path.basename(norm)}-{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def _prune_stale_siblings(root: str, sf_base: str) -> None:
    """Remove cache dirs under `root` that share sf_base's BASENAME but
    carry a different path hash (plus any pre-hash bare-basename dir
    from the old layout). Without this, two checkouts of the SAME
    dataset (same basename, same corpus_n) would each stage a sibling
    dir, the static oracle glob would match BOTH, and DuckDB would
    double-count rows the Spark side reads once (ADVICE r7, medium).
    Invariant after every stage: at most ONE cache dir per basename,
    so the glob + corpus_n discriminator is exact again. Trade-off: a
    harness reading the same-basename dataset from a DIFFERENT
    checkout concurrently loses its cache dir mid-read — relocating a
    live testdata tree mid-run is outside the concurrency contract
    (distinct SFs, the supported case, have distinct basenames and are
    never pruned)."""
    import shutil

    base = sf_base.rsplit("-", 1)[0]
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        # A sibling is `base` itself (pre-hash layout) or `base-<hash8>`
        # EXACTLY — name.rsplit guards a DIFFERENT dataset whose
        # basename merely extends this one with a dash ('sf0.1' must
        # not prune 'sf0.1-v2-<hash8>'), preserving the
        # distinct-basenames-never-pruned invariant above (ADVICE r8).
        suffix = name.rsplit("-", 1)[-1] if "-" in name else ""
        is_hash8 = len(suffix) == 8 and all(c in "0123456789abcdef" for c in suffix)
        stale = name == base or (
            name.rsplit("-", 1)[0] == base
            and is_hash8
            and name != sf_base
            and ".staging-" not in name
        )
        if stale:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _swap_staging(staging: str, final: str, marker: str, fingerprint: str) -> None:
    """Atomic staging→final swap shared by every cache writer here.
    ADVICE r10: a failed rename must NOT be swallowed — returning a
    final path that does not exist surfaces later as a confusing
    missing-manifest/missing-file read error. The ONE benign failure is
    a concurrent SAME-fingerprint build winning the race (its files
    are byte-equivalent by determinism): detectable because final then
    holds a marker with THIS build's fingerprint (r11 review: a merely
    EXISTING marker could carry a stale fingerprint from an old-corpus
    winner — that must re-raise, not silently serve stale files).
    Anything else re-raises."""
    import shutil

    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        try:
            with open(marker) as fh:
                winner_ok = fh.read().strip() == fingerprint
        except OSError:
            winner_ok = False
        if not winner_ok:
            raise


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, header: bool = True, schema: str | None = None) -> DataFrame:
    reader: DataFrameReader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 64, mode: str = "overwrite"
) -> None:
    """Persist bucketed by the join key: later joins on bucket_col with
    an equally-bucketed table skip the shuffle entirely."""
    df.write.mode(mode).bucketBy(n_buckets, bucket_col).sortBy(bucket_col).saveAsTable(table)


# ---------------------------------------------------------------------------
# Round-trip entries: Spark-written CSV / JSONL read back by BOTH
# engines — source/sink parity proven through the correctness gate
# (DuckDB's read_csv / read_json consume the very files Spark wrote).
#
# Ordering contract: the oracle reads files the QUERY writes, so the
# Spark query must run before the oracle — which is how every harness
# here executes (the driver, tools/correctness_report.py,
# tools/check_keys.py and tests/test_entry.py all run the query first;
# the write is overwrite-idempotent and deterministic, so repeated
# runs converge).
#
# Concurrency contract (r6): each scale factor writes into its OWN
# directory (tmp/roundtrip/<sf-basename>/<fmt>) so interleaved sf0.01
# and sf0.1 harnesses can't clobber each other's files. The oracle SQL
# is a STATIC string (the driver contract), so it cannot embed the sf
# path — instead every written row carries `corpus_n` (the total
# corpus row count, distinct per sf by construction: 50/500/5000) and
# the oracle globs ALL sf dirs but keeps only rows whose corpus_n
# equals COUNT(*) of the documents view it was handed — an exact
# discriminator for "the files this sf's query wrote". The row
# discriminator isolates row SETS but not read-time file state — an
# in-flight overwrite of sf B's dir could still break sf A's oracle
# glob mid-read — so writes are additionally ATOMIC: each build lands
# in a sibling staging dir (never matched by the oracle globs, whose
# fmt path component is literal) and is os.rename()d into place, and a
# fingerprint marker (source mtime) skips the rewrite entirely when
# the files are already current — in the steady state nothing is ever
# deleted while another harness might be reading.
# ---------------------------------------------------------------------------

_RT_ROOT = os.path.join(SCRATCH_ROOT, "roundtrip")

CSV_ROUNDTRIP_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_csv('{_RT_ROOT}/*/csv/*.csv', header = true,
              columns = {{'doc_id': 'BIGINT', 'lang': 'VARCHAR', 'n_chars': 'BIGINT', 'corpus_n': 'BIGINT'}})
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""

JSONL_ROUNDTRIP_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_json('{_RT_ROOT}/*/jsonl/*.json',
               columns = {{'doc_id': 'BIGINT', 'lang': 'VARCHAR', 'n_chars': 'BIGINT', 'corpus_n': 'BIGINT'}})
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""


ORC_ROUNDTRIP_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_parquet('{_RT_ROOT}/*/orc/_twin/*.parquet')
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""


def _roundtrip_write(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write the (doc_id, lang, n_chars, corpus_n) projection of
    documents as CSV/JSONL/partitioned-parquet under
    tmp/roundtrip/<sf-basename>/<fmt> — the ONE place the roundtrip
    path scheme and discriminator column live (all three format
    entries share it). Deterministic content (integer/string only, so
    no float-formatting divergence between writers/readers); single
    file per csv/jsonl write so the oracle's glob sees exactly one
    part per sf; parquet partitions by lang (hive layout). corpus_n is
    the per-row sf discriminator the static oracle keys on (see the
    concurrency contract above) — computed as a 1-row broadcast
    crossJoin, not a window (no shuffle of the data side). Atomicity:
    build into <fmt>.staging-<pid>, stamp a fingerprint marker, rename
    into place; a current marker skips the build so steady-state runs
    never delete files another harness may be mid-read on."""
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_RT_ROOT, sf_base)
    sub = {"csv": "csv", "json": "jsonl", "parquet": "parquet", "orc": "orc"}[fmt]
    final = os.path.join(_RT_ROOT, sf_base, sub)
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_rt_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_n"))
    d = d.crossJoin(F.broadcast(n))
    staging = f"{final}.staging-{os.getpid()}"
    if fmt == "csv":
        d.coalesce(1).write.mode("overwrite").option("header", "true").csv(staging)
    elif fmt == "json":
        d.coalesce(1).write.mode("overwrite").json(staging)
    elif fmt == "orc":
        # DuckDB has no ORC reader, so the oracle consumes a parquet
        # TWIN written from the same deterministic relation into an
        # underscore-prefixed subdir (Hadoop readers treat _-prefixed
        # paths as hidden, so spark.read.orc never sees it; the oracle
        # glob names it explicitly). Aggregates are order-insensitive,
        # so the two writes only need to agree as a row SET.
        d.coalesce(1).write.mode("overwrite").orc(staging)
        d.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "_twin"))
    else:
        # one file per partition dir, not one per task
        d.repartition("lang").write.mode("overwrite").partitionBy("lang").parquet(staging)
    with open(os.path.join(staging, "_rt_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


PARQUET_ROUNDTRIP_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_parquet('{_RT_ROOT}/*/parquet/*/*.parquet', hive_partitioning = 1)
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""


def _register_roundtrips() -> None:
    from duckdb_sudan__spark.operators import register

    @register("files_parquet_roundtrip", PARQUET_ROUNDTRIP_ORACLE)
    def files_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The PARTITIONED parquet round trip — the lakehouse layout
        itself: Spark writes `partitionBy(lang)` (hive-style lang=xx
        directories), then Spark reads the partitioned tree back and
        DuckDB consumes the SAME files via read_parquet(...,
        hive_partitioning=1) — directory-encoded partition columns
        must round-trip identically through both engines' readers.
        Same per-sf path + corpus_n discriminator contract as the
        csv/jsonl twins (shared _roundtrip_write — one path scheme,
        one discriminator definition). Partitioning by the
        low-cardinality lang key is the write pattern §D prescribes
        (never high-cardinality ids)."""
        path = _roundtrip_write(spark, sf_dir, "parquet")
        back = spark.read.parquet(path)
        return _roundtrip_agg(back)

    @register("files_csv_roundtrip", CSV_ROUNDTRIP_ORACLE)
    def files_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark writes header CSV, Spark AND DuckDB read the same
        files back with an explicit schema (inference is off — at
        100 TB schema inference is a full extra pass), and both
        aggregate to identical integers. Exercises the csv sink+source
        end to end through the hash gate."""
        path = _roundtrip_write(spark, sf_dir, "csv")
        back = read_csv(
            spark, path, header=True,
            schema="doc_id bigint, lang string, n_chars bigint, corpus_n bigint",
        )
        return _roundtrip_agg(back)

    @register("files_orc_roundtrip", ORC_ROUNDTRIP_ORACLE)
    def files_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ORC sink+source through the hash gate — the fourth file
        format (the warehouse-interchange one Hive/Trino shops still
        hand over). DuckDB cannot read ORC, so the write stages a
        parquet TWIN of the same relation next to the ORC files (in a
        _-prefixed dir the ORC reader ignores); Spark aggregates the
        ORC read-back, the oracle aggregates the twin, and the hash
        equality proves the ORC writer+reader preserved the rows
        exactly (any ORC-side row loss/corruption diverges from the
        twin). Same per-sf path + corpus_n discriminator contract."""
        path = _roundtrip_write(spark, sf_dir, "orc")
        back = read_orc(spark, path)
        return _roundtrip_agg(back)

    @register("files_jsonl_roundtrip", JSONL_ROUNDTRIP_ORACLE)
    def files_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Same round trip through JSON-lines (Spark's json sink writes
        one object per line — exactly DuckDB's read_json newline-
        delimited format)."""
        path = _roundtrip_write(spark, sf_dir, "json")
        back = read_json(
            spark, path,
            schema="doc_id bigint, lang string, n_chars bigint, corpus_n bigint",
        )
        return _roundtrip_agg(back)


_register_roundtrips()


# ---------------------------------------------------------------------------
# Physical-layout execution entries: the two storage-layout
# optimizations that matter most at 100 TB, each proven by executing
# the layout-optimized Spark plan against the layout-agnostic oracle
# (the result must not depend on partitioning/bucketing — only the
# plan shape does, and plan tests pin that separately).
# ---------------------------------------------------------------------------

_DPP_ROOT = os.path.join(SCRATCH_ROOT, "dpp")

DPP_ORACLE = """
WITH f AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         CAST(round(value * 1000000) AS BIGINT) AS um
  FROM events
), busy AS (
  SELECT day FROM f WHERE event_type = 'error' GROUP BY day
  HAVING COUNT(*) > (SELECT CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT day)
                     FROM f WHERE event_type = 'error')
)
SELECT f.day, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(f.um) AS BIGINT) AS total_um
FROM f JOIN busy USING (day)
GROUP BY f.day
ORDER BY f.day
"""


def _stage_events_by_day(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out as day=YYYY-MM-DD hive partitions under
    tmp/dpp/<sf-basename> — the layout a 100 TB event store actually
    uses. Marker-fingerprinted + staging-renamed exactly like the
    roundtrip writes (atomic, skip-if-current)."""
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_DPP_ROOT, sf_base)
    final = os.path.join(_DPP_ROOT, sf_base)
    src = os.path.join(sf_dir, "events.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_dpp_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final
    e = load_table(spark, sf_dir, "events")
    staging = f"{final}.staging-{os.getpid()}"
    (
        e.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(staging)
    )
    with open(os.path.join(staging, "_dpp_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def _register_layout_entries() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register
    from duckdb_sudan__spark.session import load_table

    @register("files_dpp_partitioned_join", DPP_ORACLE)
    def files_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """DYNAMIC PARTITION PRUNING end to end: the fact table is
        stored as day= hive partitions; "busy days" (error count above
        the per-day average) are NOT statically derivable from the
        partition column — they require an aggregation — so static
        pushdown can't prune, and Spark instead injects a
        dynamicpruningexpression: the broadcast dim's day values prune
        fact PARTITIONS at runtime, so the big scan reads only busy
        days' files. At 100 TB this is the difference between scanning
        the full event store and scanning the handful of qualifying
        day directories. The oracle computes the same relation
        layout-agnostically — results must be identical whatever the
        physical layout; a plan test pins the dynamicpruning
        expression itself. Day is a STRING partition value (DATE
        diverges between fetch modes; DETERMINISM.md)."""
        path = _stage_events_by_day(spark, sf_dir)
        # partition-column type inference parses day= values as DATE;
        # cast back to the written STRING so the typed contract (and
        # the DATE fetch-mode divergence, DETERMINISM.md) can't bite —
        # the cast is on the partition VALUE, so pruning still applies
        fact = spark.read.parquet(path).select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("um"),
        )
        err = fact.where(F.col("event_type") == "error")
        avg_per_day = err.agg(
            (F.count(F.lit(1)).cast("double") / F.countDistinct("day")).alias("avg_n")
        )
        busy = (
            err.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_err"))
            .join(F.broadcast(avg_per_day))
            .where(F.col("n_err") > F.col("avg_n"))
            .select("day")
        )
        return (
            fact.join(F.broadcast(busy), "day")
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("um").alias("total_um"),
            )
            .orderBy("day")
        )

    BUCKETED_JOIN_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o.o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS total_um
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""

    @register("files_bucketed_join", BUCKETED_JOIN_ORACLE)
    def files_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The ZERO-SHUFFLE fact⋈dim join: orders and customer are
        persisted bucketed + sorted on the join key (write_bucketed_
        table), so the SortMergeJoin consumes both sides' bucket files
        directly — NO Exchange on either side (pinned by a plan test;
        at 100 TB bucketing turns every repeated key-join against the
        same tables from a full shuffle into a local merge). The
        oracle is the layout-agnostic join on the raw views — bucketing
        must never change results, only the plan."""
        import os
        import shutil

        sfb = sf_cache_key(sf_dir).replace(".", "_").replace("-", "_")
        to, tc = f"orders_bkt_{sfb}", f"customer_bkt_{sfb}"
        src_mtime = str(os.path.getmtime(os.path.join(sf_dir, "orders.parquet")))
        stamp_key = f"spark.graft.bucketed.{sfb}"
        if spark.conf.get(stamp_key, None) != src_mtime or not spark.catalog.tableExists(to):
            # a fresh session's in-memory catalog has no entry for a
            # warehouse dir a previous process left behind — clear the
            # orphan location (our derived artifact) before recreating
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            warehouse = warehouse.removeprefix("file:")
            for t in (to, tc):
                if not spark.catalog.tableExists(t):
                    shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
            write_bucketed_table(
                load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
                to, "o_custkey", n_buckets=8,
            )
            write_bucketed_table(
                load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
                tc, "c_custkey", n_buckets=8,
            )
            spark.conf.set(stamp_key, src_mtime)
        o = spark.table(to).withColumn(
            "um", F.round(F.col("o_totalprice") * 1_000_000).cast("bigint")
        )
        c = spark.table(tc)
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("um").alias("total_um"))
            .orderBy("c_mktsegment")
        )


_register_layout_entries()


# ---------------------------------------------------------------------------
# files_schema_evolution — mergeSchema read over two file generations
#
# THE long-lived-dataset reality at 100 TB: columns get added over
# time, and yesterday's files don't get rewritten. Generation 1 files
# carry (doc_id, lang); generation 2 adds n_chars. Spark reads the mix
# with mergeSchema=true (gen-1 rows NULL-fill the new column), DuckDB
# reads the SAME files with union_by_name — both engines must agree on
# the merged relation exactly. Same per-sf path + corpus_n
# discriminator + atomic staging contract as the roundtrip entries.
# ---------------------------------------------------------------------------

SCHEMA_EVO_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
       CAST(coalesce(SUM(n_chars), 0) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_parquet(['{_RT_ROOT}/*/schema_evo/gen1/*.parquet',
                   '{_RT_ROOT}/*/schema_evo/gen2/*.parquet'],
                  union_by_name = true)
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""


def _schema_evo_write(spark: SparkSession, sf_dir: str) -> str:
    """Stage the two-generation layout: gen1 = even doc_ids WITHOUT
    n_chars (the historical schema), gen2 = odd doc_ids WITH n_chars.
    Atomic staging + fingerprint marker, mirroring _roundtrip_write."""
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_RT_ROOT, sf_base)
    final = os.path.join(_RT_ROOT, sf_base, "schema_evo")
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_rt_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_n"))
    d = d.crossJoin(F.broadcast(n))
    staging = f"{final}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    d.where(F.col("doc_id") % 2 == 0).drop("n_chars").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(staging, "gen1"))
    d.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(staging, "gen2")
    )
    with open(os.path.join(staging, "_rt_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def _register_schema_evolution() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register

    @register("files_schema_evolution", SCHEMA_EVO_ORACLE)
    def files_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Read the mixed-generation tree with mergeSchema=true and
        aggregate per lang: total rows, rows that HAVE the late-added
        column (exactly the gen-2 half), and its sum. NULL-filling of
        absent columns must agree between Spark's mergeSchema and
        DuckDB's union_by_name — the schema-evolution contract every
        long-lived lakehouse dataset depends on."""
        path = _schema_evo_write(spark, sf_dir)
        back = spark.read.option("mergeSchema", "true").parquet(
            f"{path}/gen1", f"{path}/gen2"
        )
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("n_chars").alias("n_with_chars"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .orderBy("lang")
        )


_register_schema_evolution()


# ---------------------------------------------------------------------------
# files_compact_small_files — the OPTIMIZE/compaction maintenance job
# ---------------------------------------------------------------------------
# A 100 TB table ingested micro-batch by micro-batch degrades into
# millions of KB-sized files; scan throughput dies on open/footer
# overhead long before bytes do. The compaction job below is the
# Delta OPTIMIZE / Iceberg rewrite_data_files shape without the jars:
# size the output file count from the INPUT BYTES (never row counts —
# row width varies), rewrite with repartition(n_out), swap atomically.

COMPACT_SMALL_PARTS = 64          # deliberately fragmented input
COMPACT_TARGET_BYTES = 1 << 20    # 1 MiB target files at test SF

COMPACT_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM read_parquet('{_RT_ROOT}/*/compact/compacted/*.parquet')
WHERE corpus_n = (SELECT COUNT(*) FROM documents)
GROUP BY lang ORDER BY lang
"""


def _compact_write(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Stage the fragmented input (COMPACT_SMALL_PARTS files), then
    compact it to ceil(input_bytes / COMPACT_TARGET_BYTES) files.
    Returns (compacted_dir, n_small_files, n_out). Same fingerprint +
    staging + rename discipline as _roundtrip_write: concurrent
    same-sf builds converge on byte-equivalent output."""
    import math
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_RT_ROOT, sf_base)
    root = os.path.join(_RT_ROOT, sf_base, "compact")
    small, final = os.path.join(root, "small"), os.path.join(root, "compacted")
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_rt_ok")

    def _parts(path: str) -> list[str]:
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith("_")
        ]

    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final, len(_parts(small)), len(_parts(final))

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_n"))
    d = d.crossJoin(F.broadcast(n))

    staging_small = f"{small}.staging-{os.getpid()}"
    d.repartition(COMPACT_SMALL_PARTS).write.mode("overwrite").parquet(staging_small)
    in_bytes = sum(os.path.getsize(p) for p in _parts(staging_small))
    n_out = max(1, math.ceil(in_bytes / COMPACT_TARGET_BYTES))
    staging_out = f"{final}.staging-{os.getpid()}"
    spark.read.parquet(staging_small).repartition(n_out).write.mode("overwrite").parquet(staging_out)
    with open(os.path.join(staging_out, "_rt_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(small, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    try:
        os.rename(staging_small, small)
        os.rename(staging_out, final)
    except OSError:
        shutil.rmtree(staging_small, ignore_errors=True)
        shutil.rmtree(staging_out, ignore_errors=True)
    return final, len(_parts(small)), len(_parts(final))


def _register_compaction() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register

    @register("files_compact_small_files", COMPACT_ORACLE)
    def files_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end compaction proof: the per-lang aggregate over the
        COMPACTED tree must equal the source-table oracle (no row lost
        or duplicated by the rewrite), while the file-count collapse
        (64 -> bytes/1MiB, asserted in tests/test_plans.py) is the
        maintenance win itself. The repartition(n_out) round-robin is
        the right default for pure compaction — it needs no key and
        cannot skew; clustering rewrites are files_zorder_cluster's
        job."""
        path, _, _ = _compact_write(spark, sf_dir)
        return _roundtrip_agg(spark.read.parquet(path))


_register_compaction()


# ---------------------------------------------------------------------------
# files_zorder_cluster — multi-dimensional clustering (Z-order) keys
# ---------------------------------------------------------------------------
# Sorting a 100 TB table by ONE key makes that key's file-level min/max
# stats razor-sharp and every other key's useless. Interleaving the
# bits of two keys (Morton / Z-order) bounds BOTH dims' per-file ranges
# — data-skipping works for either predicate. The zvalue is pure
# integer bit arithmetic, identical in both engines.

ZORDER_BITS = 16
ZORDER_ANCHOR = "1990-01-01"   # orders dates span 1995-2001 — always >= anchor
ZORDER_BUCKET_SHIFT = 20       # z < 2^32 -> <= 4096 coarse buckets (~64 at sf0.01)


def _zvalue_sql(cx: str, dy: str) -> str:
    terms = []
    for k in range(ZORDER_BITS):
        terms.append(f"((({cx} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({dy} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


ZORDER_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(o_custkey % {1 << ZORDER_BITS} AS BIGINT) AS cx,
         CAST(date_diff('day', DATE '{ZORDER_ANCHOR}', o_orderdate) AS BIGINT) AS dy
  FROM orders
), z AS (
  SELECT o_orderkey, cx, dy, CAST({_zvalue_sql("cx", "dy")} AS BIGINT) AS zvalue
  FROM base
)
SELECT CAST(zvalue >> {ZORDER_BUCKET_SHIFT} AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(cx) AS min_cust, MAX(cx) AS max_cust,
       MIN(dy) AS min_day, MAX(dy) AS max_day
FROM z
GROUP BY zbucket
ORDER BY zbucket
"""


def _register_zorder() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register
    from duckdb_sudan__spark.session import load_table

    @register("files_zorder_cluster", ZORDER_ORACLE)
    def files_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Morton-interleave (o_custkey, order-day) into one zvalue and
        aggregate per coarse z-bucket: each bucket's min/max on BOTH
        source dims stays narrow (the data-skipping guarantee a
        1-D sort cannot give — the per-bucket range product is what a
        reader's min/max pruning multiplies out). The bucket relation
        is the file-layout plan: repartitionByRange(zvalue) +
        sortWithinPartitions(zvalue) writes files whose footer stats
        match these bucket bounds (zorder_write below; layout asserted
        in tests). Pure map-side bit arithmetic + one partial-agg
        shuffle on the bucket id."""
        o = load_table(spark, sf_dir, "orders")
        cx = (F.col("o_custkey") % (1 << ZORDER_BITS)).cast("bigint")
        dy = F.datediff(F.col("o_orderdate"), F.lit(ZORDER_ANCHOR).cast("date")).cast("bigint")
        base = o.select("o_orderkey", cx.alias("cx"), dy.alias("dy"))
        z = F.lit(0).cast("bigint")
        for k in range(ZORDER_BITS):
            z = z + F.shiftleft(F.shiftright(F.col("cx"), k).bitwiseAND(F.lit(1)), 2 * k)
            z = z + F.shiftleft(F.shiftright(F.col("dy"), k).bitwiseAND(F.lit(1)), 2 * k + 1)
        zdf = base.select("o_orderkey", "cx", "dy", z.alias("zvalue"))
        return (
            zdf.groupBy(
                F.shiftright(F.col("zvalue"), ZORDER_BUCKET_SHIFT).cast("bigint").alias("zbucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.min("cx").alias("min_cust"), F.max("cx").alias("max_cust"),
                F.min("dy").alias("min_day"), F.max("dy").alias("max_day"),
            )
            .orderBy("zbucket")
        )


_register_zorder()


def zorder_write(spark: SparkSession, sf_dir: str, path: str, n_files: int = 8) -> None:
    """Write orders clustered by zvalue: repartitionByRange gives each
    output file a contiguous zvalue span, so parquet footer min/max on
    BOTH cx and dy are bucket-narrow — the layout files_zorder_cluster's
    bucket relation predicts. Test-facing helper (the entry itself is
    the pure relation)."""
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    o = load_table(spark, sf_dir, "orders")
    cx = (F.col("o_custkey") % (1 << ZORDER_BITS)).cast("bigint")
    dy = F.datediff(F.col("o_orderdate"), F.lit(ZORDER_ANCHOR).cast("date")).cast("bigint")
    base = o.select("o_orderkey", cx.alias("cx"), dy.alias("dy"))
    z = F.lit(0).cast("bigint")
    for k in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(F.col("cx"), k).bitwiseAND(F.lit(1)), 2 * k)
        z = z + F.shiftleft(F.shiftright(F.col("dy"), k).bitwiseAND(F.lit(1)), 2 * k + 1)
    (
        base.select("o_orderkey", "cx", "dy", z.alias("zvalue"))
        .repartitionByRange(n_files, "zvalue")
        .sortWithinPartitions("zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# files_snapshot_time_travel — manifest-based snapshots without the jars
# ---------------------------------------------------------------------------
# The Iceberg/Delta time-travel model reduced to its primitive: data
# files are immutable; a SNAPSHOT is a manifest (list of file paths);
# commits append/remove files by writing a NEW manifest. Staged here
# as three immutable parquet files + two JSON manifests:
#   file A: doc_id % 4 != 3 AND doc_id % 10 != 0   (stable base)
#   file B: doc_id % 4 != 3 AND doc_id % 10 == 0   (deleted in v2)
#   file C: doc_id % 4 == 3                        (appended in v2)
#   manifest v1 = [A, B]; manifest v2 = [A, C]
# so v2 is NOT a superset of v1 — real snapshot semantics (append +
# delete), and reading version N is spark.read.parquet(*manifest[N]):
# partition pruning, column pruning, and pushdown all still apply
# because time travel only changes the FILE LIST. The env-gated
# Delta/Iceberg MERGE leg (this container lacks the jars) composes
# with exactly this read path. Reference parity: the reference's TTL
# cache serves point-in-time provider responses (cache.hpp:10-38);
# this is the table-grain version of the same ask.

SNAPSHOT_ORACLE = f"""
SELECT version, lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM (
  SELECT 1 AS version, * FROM documents WHERE doc_id % 4 <> 3
  UNION ALL
  SELECT 2 AS version, * FROM documents
  WHERE doc_id % 4 = 3 OR (doc_id % 4 <> 3 AND doc_id % 10 <> 0)
)
GROUP BY version, lang
ORDER BY version, lang
"""

_SNAP_ROOT = os.path.join(SCRATCH_ROOT, "snapshots")


def _snapshot_write(spark: SparkSession, sf_dir: str) -> str:
    """Stage the immutable files + JSON manifests (atomic staging +
    fingerprint marker, the _schema_evo_write discipline)."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_SNAP_ROOT, sf_base)
    final = os.path.join(_SNAP_ROOT, sf_base)
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_snap_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    not3 = F.col("doc_id") % 4 != 3
    staging = f"{final}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    parts = {
        "A": d.where(not3 & (F.col("doc_id") % 10 != 0)),
        "B": d.where(not3 & (F.col("doc_id") % 10 == 0)),
        "C": d.where(~not3),
    }
    for name, df in parts.items():
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, f"file_{name}"))
    manifests = {"1": ["file_A", "file_B"], "2": ["file_A", "file_C"]}
    for v, files in manifests.items():
        with open(os.path.join(staging, f"manifest_v{v}.json"), "w") as fh:
            json.dump({"version": int(v), "files": files}, fh)
    with open(os.path.join(staging, "_snap_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def read_snapshot(spark: SparkSession, table_root: str, version: int):
    """Time-travel read: resolve the manifest, read exactly its file
    list. The whole mechanism — the rest is ordinary parquet."""
    import json

    with open(os.path.join(table_root, f"manifest_v{version}.json")) as fh:
        m = json.load(fh)
    return spark.read.parquet(*(os.path.join(table_root, f) for f in m["files"]))


def _register_snapshots() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register

    @register("files_snapshot_time_travel", SNAPSHOT_ORACLE)
    def files_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Read BOTH snapshots through their manifests and aggregate
        per (version, lang) — proving v1 still serves the deleted
        file B after v2's commit (snapshot isolation) and v2 serves
        the append minus the delete. Matches the oracle's predicate
        reconstruction of each snapshot's contents exactly."""
        root = _snapshot_write(spark, sf_dir)
        out = None
        for v in (1, 2):
            agg = (
                read_snapshot(spark, root, v)
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum("n_chars").cast("bigint").alias("total_chars"),
                    F.min("doc_id").alias("min_doc"),
                    F.max("doc_id").alias("max_doc"),
                )
                .select(F.lit(v).alias("version"), "lang", "n_rows",
                        "total_chars", "min_doc", "max_doc")
            )
            out = agg if out is None else out.unionByName(agg)
        return out.orderBy("version", "lang")


_register_snapshots()


# ---------------------------------------------------------------------------
# files_dynamic_partition_overwrite — partition-scoped overwrite semantics
# ---------------------------------------------------------------------------
# The lakehouse write mode every daily-batch pipeline depends on:
# overwriting ONLY the partitions present in the incoming frame
# (spark.sql.sources.partitionOverwriteMode=dynamic) while untouched
# partitions survive byte-for-byte. The entry executes the two-step
# write (full partitioned write, then a dynamic overwrite of the 'en'
# partition with transformed rows), reads the final tree back, and the
# ORACLE reconstructs the expected state purely from the source table
# (CASE on lang) — so a static-overwrite regression (all partitions
# wiped) or a leaky dynamic write (en rows doubled) both hash-diverge.

_DYNOVER_ROOT = os.path.join(SCRATCH_ROOT, "dynover")

DYNOVER_ORACLE = """
WITH expected AS (
  SELECT lang,
         doc_id + CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS doc_id,
         n_chars + CASE WHEN lang = 'en' THEN 7 ELSE 0 END AS n_chars
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM expected GROUP BY lang ORDER BY lang
"""


def _dynover_write(spark: SparkSession, sf_dir: str) -> str:
    """Stage the two-step dynamic-overwrite state under
    tmp/dynover/<sf-key> (fingerprint-cached, atomic swap — the
    roundtrip contract). Step 1: full write partitioned by lang.
    Step 2: dynamic overwrite of ONLY the en partition with
    transformed rows (doc_id+1e6, n_chars+7). The session conf is
    restored in a finally — entries must not leak config."""
    import shutil

    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    sf_base = sf_cache_key(sf_dir)
    _prune_stale_siblings(_DYNOVER_ROOT, sf_base)
    final = os.path.join(_DYNOVER_ROOT, sf_base)
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = f"v1:{sf_base}:{os.path.getmtime(src)}"
    marker = os.path.join(final, "_dyn_ok")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fingerprint:
                return final

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    staging = f"{final}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    data_dir = os.path.join(staging, "table")
    d.repartition("lang").write.mode("overwrite").partitionBy("lang").parquet(data_dir)
    en_patch = (
        d.where(F.col("lang") == "en")
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            (F.col("n_chars") + 7).alias("n_chars"),
            F.col("lang"),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        en_patch.repartition("lang").write.mode("overwrite").partitionBy(
            "lang"
        ).parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    with open(os.path.join(staging, "_dyn_ok"), "w") as fh:
        fh.write(fingerprint)
    shutil.rmtree(final, ignore_errors=True)
    _swap_staging(staging, final, marker, fingerprint)
    return final


def _register_dynover() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register

    @register("files_dynamic_partition_overwrite", DYNOVER_ORACLE)
    def files_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        root = _dynover_write(spark, sf_dir)
        back = spark.read.parquet(os.path.join(root, "table"))
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .orderBy("lang")
        )


_register_dynover()


# ---------------------------------------------------------------------------
# files_bucketed_colocated_join — shuffle-free join via bucketed tables
# ---------------------------------------------------------------------------
# The 100 TB co-location story made executable: orders and customer are
# written ONCE as bucketed tables (bucketBy(8, custkey) + sortBy into
# the session catalog — Spark's persistent hash-partitioned layout),
# and the fact⋈dim join then runs WITHOUT a shuffle on either side:
# bucket n of orders joins bucket n of customer directly (the plan pin
# asserts zero Exchange upstream of the SortMergeJoin, broadcast
# disabled so the co-location — not a broadcast — is what's proven).
# At 100 TB this is THE technique for repeated big-big joins on a
# stable key: pay the bucketed write once, skip the join shuffle on
# every later query. The ORACLE computes the same per-segment rollup
# from the raw parquet — bucketing must be physically invisible.

_BUCKETS = 8

BUCKETED_ORACLE = """
SELECT c.c_mktsegment AS seg,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY seg
ORDER BY seg
"""


def _bucketed_stage(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/customer as bucketed catalog tables (per-sf table
    names, mtime-fingerprint cached) and return their names."""

    sf_base = sf_cache_key(sf_dir).replace(".", "_").replace("-", "_")
    t_orders, t_customer = f"bkt_orders_{sf_base}", f"bkt_customer_{sf_base}"
    src_o = os.path.join(sf_dir, "orders.parquet")
    src_c = os.path.join(sf_dir, "customer.parquet")
    # v2: external-location tables (r13) — the bump forces one clean
    # rebuild off the legacy managed-table layout
    fingerprint = f"v2:{_BUCKETS}:{os.path.getmtime(src_o)}:{os.path.getmtime(src_c)}"
    marker_dir = os.path.join(SCRATCH_ROOT, "bucketed")
    os.makedirs(marker_dir, exist_ok=True)
    marker = os.path.join(marker_dir, f"{sf_base}_ok")
    # r12 advice + r13 review: the stage mutates shared state — an
    # exclusive file lock serializes concurrent sessions, AND the
    # steady state is NON-DESTRUCTIVE: the tables are EXTERNAL (data
    # under tmp/bucketed/<table>), so a fresh session whose in-memory
    # catalog is empty but whose marker+data match the fingerprint
    # RE-DECLARES the table over the existing files instead of
    # rmtree-ing a location another session may be mid-scan on. The
    # destructive rebuild now happens only when the SOURCE DATA
    # changed (fingerprint mismatch), where invalidating readers of
    # stale data is the correct outcome.
    import fcntl
    import shutil

    from duckdb_sudan__spark.session import load_table

    specs = ((t_orders, "orders", "o_custkey"), (t_customer, "customer", "c_custkey"))
    data_loc = {t: os.path.join(marker_dir, t) for t, _, _ in specs}

    def _declare_over_existing(t: str, col: str) -> None:
        # ADVICE r13: backtick-quote field names so the stage stays
        # correct if ever reused for tables with reserved-word or
        # mixed-case columns (nullability is intentionally relaxed to
        # nullable — parquet-backed external tables can't enforce it)
        schema = spark.read.parquet(data_loc[t]).schema
        ddl = ", ".join(
            f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
            for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {t} ({ddl}) USING parquet"
            f" CLUSTERED BY (`{col}`) SORTED BY (`{col}`) INTO {_BUCKETS} BUCKETS"
            f" LOCATION '{data_loc[t]}'"
        )

    with open(os.path.join(marker_dir, f"{sf_base}.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        marker_ok = False
        if os.path.exists(marker):
            with open(marker) as fh:
                marker_ok = fh.read().strip() == fingerprint
        if marker_ok and all(os.path.isdir(data_loc[t]) for t, _, _ in specs):
            for t, _, col in specs:
                if not spark.catalog.tableExists(t):
                    _declare_over_existing(t, col)
            return t_orders, t_customer

        # fingerprint changed (or first run): rebuild. Also clear any
        # legacy MANAGED location under spark-warehouse/ from the
        # pre-r13 shape of this stage so saveAsTable can't collide.
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        warehouse = warehouse.removeprefix("file:")
        for t, _, _ in specs:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
            shutil.rmtree(data_loc[t], ignore_errors=True)
        for t, table, col in specs:
            (
                load_table(spark, sf_dir, table)
                .write.mode("overwrite")
                .option("path", data_loc[t])
                .bucketBy(_BUCKETS, col)
                .sortBy(col)
                .format("parquet")
                .saveAsTable(t)
            )
        with open(marker, "w") as fh:
            fh.write(fingerprint)
        return t_orders, t_customer


def _register_bucketed_join() -> None:
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.operators import register

    @register("files_bucketed_colocated_join", BUCKETED_ORACLE)
    def files_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        t_orders, t_customer = _bucketed_stage(spark, sf_dir)
        o = spark.table(t_orders)
        c = spark.table(t_customer)
        # Prove co-location, not broadcast: the MERGE hint rides INSIDE
        # the plan (a session-conf toggle restored in a finally would be
        # read only at action time, after restore — measured: the plan
        # silently fell back to BroadcastHashJoin). On bucketed tables
        # the sort-merge join's distribution requirement is already
        # satisfied by the bucket layout, so NO Exchange appears on
        # either side (plan-pinned).
        joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        return (
            joined.groupBy(F.col("c_mktsegment").alias("seg"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.expr(
                    "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
                ).alias("revenue_cents"),
            )
            .orderBy("seg")
        )


_register_bucketed_join()
