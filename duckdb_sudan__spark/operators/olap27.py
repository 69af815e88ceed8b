"""r11 wave 19: distributed parquet-footer stats, integer-division
negative-operand parity, and the corpus length Gini coefficient.

- files_parquet_footer_stats is the lake-inspection job every data
  platform runs (row-group sizing audits, compaction planning): per
  (table, row group) rows / column count / compressed / uncompressed
  bytes, read from the parquet FOOTERS ONLY — a mapInPandas over the
  file list (pyarrow footer read, no data pages touched), the pattern
  that scales to millions of files because each task reads a few KB of
  footer. Oracle: DuckDB's parquet_metadata() over the same physical
  files — byte-for-byte the same numbers because both read the same
  thrift footer (probed: compressed 1035459 == 1035459 on sf0.01
  lineitem). The oracle can't see sf_dir, so it globs all SF dirs and
  keeps the file whose row-group total matches the registered view's
  COUNT(*) — the same corpus-guard trick as the roundtrip oracles;
  restricted to the 6 TPC-H tables whose row counts are SF-distinct
  (documents/embeddings ship identical counts at sf0.001/sf0.01).
- num_intdiv_negative_parity pins the negative-operand semantics of
  integer division and modulo as a driver-hashed VALUES grid: MEASURED
  in this build, DuckDB's integer `//` TRUNCATES toward zero exactly
  like Spark's `div` (-7//3 = -2, not floor's -3 — the floor behavior
  lives in DuckDB's DECIMAL division, not its integer division), and
  `%` takes the dividend's sign on both engines. The grid also emits
  the floor-div and floor-mod EMULATIONS (a - ((a%b+b)%b)) / b and
  ((a%b)+b)%b, spelled identically on both sides — the idioms an
  agg_bitmap_distinct-style operator needs when keys can go negative.
- corpus_doc_length_gini is the inequality readout for corpus length
  distributions (is 80% of the training data in 20% of the docs?):
  the wealth-Gini G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over lengths ranked
  ascending with deterministic (n_chars, doc_id) tie-break —
  Σ i·x in DECIMAL(38,0) routed to DOUBLE through BIGINT (rule 30;
  rank×length reaches ~2.5e16 at sf100 — past 2^53, where the
  hugeint→double path misrounds), G as one identical double tree. Distinct from
  agg_gini_diversity, which is the CLASSIFICATION impurity.

Determinism: footer numbers are physical file facts (exact BIGINTs);
the parity grid is pure integer arithmetic; Gini's moments are exact
integers and G is a single shared IEEE tree.

Scale notes (100 TB): the footer job parallelizes over FILES (a 100 TB
lake is ~100k files; each task reads O(KB) of footer — no data I/O);
the parity grid is constant-size; Gini needs one global rank — the
distributed sort is the cost, and the follow-up aggregate reduces
map-side to two accumulators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# files_parquet_footer_stats — row-group audit via distributed footer reads
# ---------------------------------------------------------------------------

_FOOTER_TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events"]

FOOTER_OUT_SCHEMA = (
    "table_name STRING, row_group_id BIGINT, n_rows BIGINT, n_cols BIGINT, "
    "compressed_bytes BIGINT, uncompressed_bytes BIGINT"
)


def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Footer-only scan of each assigned file: O(KB) I/O per file, no
    data pages. Runs on executors — one task per file-list slice."""
    import pyarrow.parquet as pq  # noqa: PLC0415 — executor-side import

    for pdf in batches:
        out = []
        for table_name, path in zip(pdf["table_name"], pdf["path"]):
            md = pq.ParquetFile(path).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                out.append(
                    {
                        "table_name": table_name,
                        "row_group_id": g,
                        "n_rows": rg.num_rows,
                        "n_cols": rg.num_columns,
                        "compressed_bytes": sum(
                            rg.column(i).total_compressed_size for i in range(rg.num_columns)
                        ),
                        "uncompressed_bytes": sum(
                            rg.column(i).total_uncompressed_size for i in range(rg.num_columns)
                        ),
                    }
                )
        if out:
            yield pd.DataFrame(out)


def _footer_oracle_one(t: str) -> str:
    return f"""
SELECT '{t}' AS table_name, CAST(md.row_group_id AS BIGINT) AS row_group_id,
       CAST(md.n_rows AS BIGINT) AS n_rows, CAST(md.n_cols AS BIGINT) AS n_cols,
       CAST(md.csize AS BIGINT) AS compressed_bytes,
       CAST(md.usize AS BIGINT) AS uncompressed_bytes
FROM (
  SELECT file_name, row_group_id, MAX(row_group_num_rows) AS n_rows,
         COUNT(*) AS n_cols, SUM(total_compressed_size) AS csize,
         SUM(total_uncompressed_size) AS usize
  FROM parquet_metadata('/root/testdata/sf*/{t}.parquet')
  GROUP BY 1, 2
) md
JOIN (
  SELECT file_name
  FROM (
    SELECT file_name, row_group_id, MAX(row_group_num_rows) AS n_rows
    FROM parquet_metadata('/root/testdata/sf*/{t}.parquet') GROUP BY 1, 2
  ) GROUP BY file_name
  HAVING SUM(n_rows) = (SELECT COUNT(*) FROM {t})
) keep ON md.file_name = keep.file_name
"""


FOOTER_ORACLE = (
    "\nUNION ALL\n".join(_footer_oracle_one(t) for t in _FOOTER_TABLES)
    + "\nORDER BY table_name, row_group_id"
)


@register("files_parquet_footer_stats", FOOTER_ORACLE)
def files_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = local_frame(
        spark, [(t, f"{sf_dir}/{t}.parquet") for t in _FOOTER_TABLES],
        "table_name STRING, path STRING",
    ).repartition(len(_FOOTER_TABLES))
    return (
        files.mapInPandas(_read_footers, FOOTER_OUT_SCHEMA)
        .orderBy("table_name", "row_group_id")
    )


# ---------------------------------------------------------------------------
# num_intdiv_negative_parity — div/mod semantics on negative operands
# ---------------------------------------------------------------------------
# MEASURED in this build: DuckDB integer // truncates toward zero like
# Spark div (-7//3 = -2), and % follows the dividend's sign on both.
# The floor variants are EMULATIONS with identical spelling both sides.

_PARITY_GRID = [(a, b) for a in (-7, -5, -1, 0, 1, 5, 7) for b in (-3, -2, 2, 3)]

_PARITY_VALUES = ", ".join(f"({a}, {b})" for a, b in _PARITY_GRID)

INTDIV_ORACLE = f"""
WITH g(a, b) AS (VALUES {_PARITY_VALUES})
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(a // b AS BIGINT) AS div_trunc,
       CAST(a % b AS BIGINT) AS mod_trunc,
       CAST((a - ((a % b + b) % b)) // b AS BIGINT) AS div_floor,
       CAST((a % b + b) % b AS BIGINT) AS mod_floor
FROM g
ORDER BY a, b
"""


@register("num_intdiv_negative_parity", INTDIV_ORACLE)
def num_intdiv_negative_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = local_frame(spark, _PARITY_GRID, "a INT, b INT")
    return g.selectExpr(
        "CAST(a AS BIGINT) AS a",
        "CAST(b AS BIGINT) AS b",
        "CAST(a div b AS BIGINT) AS div_trunc",
        "CAST(a % b AS BIGINT) AS mod_trunc",
        "CAST((a - ((a % b + b) % b)) div b AS BIGINT) AS div_floor",
        "CAST((a % b + b) % b AS BIGINT) AS mod_floor",
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# corpus_doc_length_gini — inequality of the corpus length distribution
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH ranked AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS i
  FROM documents
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         SUM(CAST(i AS DECIMAL(38,0)) * n_chars) AS six
  FROM ranked
)
SELECT n, sx,
       (2 * CAST(CAST(six AS BIGINT) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)))
         - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS gini
FROM moments
"""


@register("corpus_doc_length_gini", GINI_ORACLE)
def corpus_doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "n_chars",
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("i"),
    )
    moments = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.expr("SUM(CAST(i AS DECIMAL(38,0)) * n_chars)").alias("six"),
    )
    return moments.selectExpr(
        "n",
        "sx",
        "(2 * CAST(CAST(six AS BIGINT) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)))"
        " - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS gini",
    )
