"""r11 wave 25: weighted median, month-arithmetic edges, and
empty/NULL aggregate semantics.

- agg_weighted_median is the inventory-weighted price statistic the
  unweighted median family (agg_median, win_sliding_median) can't
  answer: per return flag, the extended price at which the running
  QUANTITY crosses half the total — lower-weighted-median by the
  deterministic (price, orderkey, linenumber) order, all integers
  (cents, quantity units), no interpolation.
- dt_month_arith_edges pins month arithmetic on the calendar's edge
  cases as a VALUES grid: add_months clamps Jan 31 + 1mo to Feb 28/29
  on BOTH engines (Spark add_months ≡ DuckDB + INTERVAL n MONTH),
  leap-day + 1 year clamps to Feb 28, last_day round-trips — the
  semantics every monthly-cohort query silently depends on.
- agg_empty_null_semantics pins aggregate behavior over all-NULL and
  empty groups: SUM/AVG/MIN/MAX → NULL but COUNT(*) → n and
  COUNT(x)/COUNT(DISTINCT x) → 0, plus the FILTER-clause empty case —
  the NULL-vs-0 axis that silently flips dashboards when a LEFT JOIN
  introduces all-NULL groups.

Determinism: all three are exact-integer or calendar-integer
relations; the weighted median emits the selected row's exact cents.

Scale notes (100 TB): the weighted median needs one window ordered
within each (small) group after a map-side pre-aggregation of
(flag, price) duplicates — the window runs over the DISTINCT price
relation per flag, not raw lineitem; the two grids are constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# agg_weighted_median — quantity-weighted median price per return flag
# ---------------------------------------------------------------------------
# Pre-aggregate to (flag, price_cents) grain (map-combined), then one
# in-group window: running qty vs half total. Lower weighted median:
# the first price whose running weight reaches ceil(total/2) — integer
# compare 2*run >= total avoids any division.

WMEDIAN_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT flag, price_cents, qty,
         SUM(qty) OVER (PARTITION BY flag ORDER BY price_cents
                        ROWS UNBOUNDED PRECEDING) AS run,
         SUM(qty) OVER (PARTITION BY flag) AS total
  FROM cells
), hit AS (
  SELECT flag, price_cents, total,
         row_number() OVER (PARTITION BY flag ORDER BY price_cents) AS rn
  FROM ranked WHERE 2 * run >= total
)
SELECT flag,
       CAST(total AS BIGINT) AS total_qty,
       CAST(price_cents AS BIGINT) AS weighted_median_cents
FROM hit WHERE rn = 1
ORDER BY flag
"""


@register("agg_weighted_median", WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    ).agg(F.expr("CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").alias("qty"))
    wrun = (
        Window.partitionBy("flag").orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("flag")
    ranked = cells.select(
        "flag", "price_cents",
        F.sum("qty").over(wrun).alias("run"),
        F.sum("qty").over(wall).alias("total"),
    )
    hit = ranked.where(2 * F.col("run") >= F.col("total")).select(
        "flag", "price_cents", "total",
        F.row_number().over(Window.partitionBy("flag").orderBy("price_cents")).alias("rn"),
    )
    return (
        hit.where(F.col("rn") == 1)
        .selectExpr(
            "flag",
            "CAST(total AS BIGINT) AS total_qty",
            "CAST(price_cents AS BIGINT) AS weighted_median_cents",
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# dt_month_arith_edges — clamping and leap-day month arithmetic
# ---------------------------------------------------------------------------

_EDGE_DATES = [
    ("2024-01-31", 1), ("2024-01-31", 13), ("2024-02-29", 12),
    ("2024-02-29", 1), ("2023-01-31", 1), ("2024-03-31", -1),
    ("2024-05-31", 4), ("2024-12-31", 2), ("2024-11-30", 3),
    ("2000-02-29", 12 * 4), ("1999-12-31", 2),
]

_EDGE_VALUES = ", ".join(f"(DATE '{d}', {m})" for d, m in _EDGE_DATES)

MONTH_EDGE_ORACLE = f"""
WITH g(d, m) AS (VALUES {_EDGE_VALUES})
SELECT CAST(d AS TIMESTAMP) AS d, CAST(m AS BIGINT) AS m,
       CAST(d + m * INTERVAL 1 MONTH AS TIMESTAMP) AS shifted,
       CAST(last_day(d) AS TIMESTAMP) AS eom,
       CAST(day(d + m * INTERVAL 1 MONTH) AS BIGINT) AS shifted_dom
FROM g
ORDER BY d, m
"""


@register("dt_month_arith_edges", MONTH_EDGE_ORACLE)
def dt_month_arith_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = local_frame(spark, _EDGE_DATES, "ds STRING, m INT")
    return g.selectExpr(
        "CAST(CAST(ds AS DATE) AS TIMESTAMP) AS d",
        "CAST(m AS BIGINT) AS m",
        "CAST(add_months(CAST(ds AS DATE), m) AS TIMESTAMP) AS shifted",
        "CAST(last_day(CAST(ds AS DATE)) AS TIMESTAMP) AS eom",
        "CAST(day(add_months(CAST(ds AS DATE), m)) AS BIGINT) AS shifted_dom",
    ).orderBy("d", "m")


# ---------------------------------------------------------------------------
# agg_empty_null_semantics — aggregates over all-NULL and empty groups
# ---------------------------------------------------------------------------
# Three groups: 'vals' (real numbers + a NULL), 'nulls' (all NULL),
# 'mixed' (one value + NULLs). The FILTER clause with a never-true
# predicate exercises the empty-aggregate path inside a non-empty
# group.

_NULLSEM_ROWS = [
    ("vals", 10), ("vals", 20), ("vals", None),
    ("nulls", None), ("nulls", None),
    ("mixed", 7), ("mixed", None), ("mixed", None),
]

_NULLSEM_VALUES = ", ".join(
    f"('{g}', {('NULL' if v is None else v)})" for g, v in _NULLSEM_ROWS
)

NULLSEM_ORACLE = f"""
WITH g(grp, v) AS (VALUES {_NULLSEM_VALUES})
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(v) AS BIGINT) AS n_vals,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MIN(v) AS BIGINT) AS min_v,
       CAST(MAX(v) AS BIGINT) AS max_v,
       CAST(SUM(v) FILTER (v > 1000) AS BIGINT) AS sum_none_match,
       CAST(COUNT(*) FILTER (v > 1000) AS BIGINT) AS cnt_none_match
FROM g
GROUP BY grp
ORDER BY grp
"""


@register("agg_empty_null_semantics", NULLSEM_ORACLE)
def agg_empty_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = local_frame(spark, _NULLSEM_ROWS, "grp STRING, v INT")
    return g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_vals"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.sum("v").cast("bigint").alias("sum_v"),
        F.min("v").cast("bigint").alias("min_v"),
        F.max("v").cast("bigint").alias("max_v"),
        F.expr("CAST(SUM(v) FILTER (WHERE v > 1000) AS BIGINT)").alias("sum_none_match"),
        F.expr("CAST(COUNT(*) FILTER (WHERE v > 1000) AS BIGINT)").alias("cnt_none_match"),
    ).orderBy("grp")
