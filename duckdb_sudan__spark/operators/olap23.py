"""r11 wave 15: censored survival table, regression-fit metrics,
Benford first-digit audit, and a Welch two-sample t-test.

- ev_survival_km_censored is the right-censoring complement to
  ev_hazard_curve (olap19.py), which deliberately models NO censoring.
  Here the event is "first purchase after first-seen"; users who never
  purchase are right-censored at the corpus horizon. The emitted table
  is the Kaplan–Meier risk-set table (t, d_t, c_t, at_risk) plus the
  Nelson–Aalen cumulative hazard — a SUM statistic, chosen over the KM
  survival PRODUCT because a product of rationals cannot be hashed
  cross-engine without transcendentals (DETERMINISM rule 1); survival
  ≈ exp(−cumhaz) is presentation the consumer applies.
- ml_regression_metrics completes the ML-eval family for CONTINUOUS
  targets (the existing 24 entries are classification/ranking): RMSE /
  MAE / R² of the market-segment-mean predictor of order total against
  the global-mean baseline — the standard "does the feature beat the
  constant model" fit readout, in-sample by design (it is a metrics
  entry, not a modeling entry).
- agg_benford_digits is the classic audit screen: first significant
  digit of the integer cents of o_totalprice vs Benford's law. The
  expected frequencies log10(1+1/d) are COMPILE-TIME ppm literals
  (they sum to exactly 1,000,000), so no transcendental is evaluated
  by either engine.
- stats_welch_ttest is the unequal-variance two-sample test (purchase
  vs click event values): integer-cents moments (n, Σx, Σx² in
  DECIMAL(38,0)), then t and the Welch–Satterthwaite df as ONE
  identical IEEE expression tree on both engines.

Determinism: cents via round(x·100) (rule 8: half-away agrees);
Σx² and n·Q − S² in DECIMAL(38,0) (rule 7: cancellation before the
double cast); DECIMAL(38,0)→DOUBLE is a single correctly-rounded
int128 conversion on both engines (rule 2's safe scale-0 case);
first digit via BIGINT→VARCHAR substr (both engines print integers
canonically), never via log10; hazard/obs shares as floor-ppm on
non-negative integers (// ≡ div).

Scale notes (100 TB): survival reduces the stream at USER grain in
one partial-agg pass, then all windows run on the bounded
days-since-first grid (≤ corpus span); regression metrics shuffle
once for the orders⋈customer segment join, once for the 5-group
rollup, and broadcast the 5-row predictor and 1-row baseline back;
Benford is a map-side digit extract into a ≤9-group hash aggregate;
Welch reduces each group to 3 integers map-side and the final math is
a 1-row select.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# ev_survival_km_censored — right-censored time-to-first-purchase table
# ---------------------------------------------------------------------------
# Per user: t = days from first-seen to first purchase (event) or to
# the corpus horizon (censored). Grid rows carry the KM risk set
# (at_risk = users with duration ≥ t via a DESC cumulative sum over
# the bounded histogram), the discrete hazard d_t/at_risk in floor
# ppm, and the Nelson–Aalen cumulative hazard Σ hazard_ppm.

SURVIVAL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_day,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS fp_day
  FROM events GROUP BY user_id
), horizon AS (
  SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
), durs AS (
  SELECT CAST(CASE WHEN fp_day IS NOT NULL
                   THEN date_diff('day', first_day, fp_day)
                   ELSE date_diff('day', first_day, max_day) END AS BIGINT) AS t,
         CASE WHEN fp_day IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM per_user, horizon
), grid AS (
  SELECT t,
         CAST(SUM(is_event) AS BIGINT) AS d_t,
         CAST(SUM(1 - is_event) AS BIGINT) AS c_t
  FROM durs GROUP BY t
), risk AS (
  SELECT t, d_t, c_t,
         CAST(SUM(d_t + c_t) OVER (ORDER BY t DESC) AS BIGINT) AS at_risk
  FROM grid
)
SELECT t, d_t, c_t, at_risk,
       CAST(1000000 * d_t // at_risk AS BIGINT) AS hazard_ppm,
       CAST(SUM(1000000 * d_t // at_risk) OVER (ORDER BY t) AS BIGINT) AS cumhaz_ppm
FROM risk
ORDER BY t
"""


@register("ev_survival_km_censored", SURVIVAL_ORACLE)
def ev_survival_km_censored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    per_user = e.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("fp_day"),
    )
    horizon = e.agg(F.max(day).alias("max_day"))
    durs = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("fp_day").isNotNull(), F.datediff("fp_day", "first_day")
        )
        .otherwise(F.datediff("max_day", "first_day"))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("fp_day").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_event"),
    )
    grid = durs.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d_t"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("c_t"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.select(
        "t", "d_t", "c_t",
        F.sum(F.col("d_t") + F.col("c_t")).over(wdesc).cast("bigint").alias("at_risk"),
    )
    return (
        risk.selectExpr(
            "t", "d_t", "c_t", "at_risk",
            "cast(1000000 * d_t div at_risk as bigint) AS hazard_ppm",
        )
        .select(
            "t", "d_t", "c_t", "at_risk", "hazard_ppm",
            F.sum("hazard_ppm").over(wasc).cast("bigint").alias("cumhaz_ppm"),
        )
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# ml_regression_metrics — RMSE / MAE / R² of the segment-mean predictor
# ---------------------------------------------------------------------------
# Target: order total in integer cents. Model: the customer market
# segment's floor-mean cents. Baseline: the global floor-mean.
# Residuals are floored to whole DOLLARS before squaring (cents-grain
# SSE tops 2^63 at sf0.1 — with dollar residuals SSE stays int64-exact
# through sf100); SSE/SST accumulate in DECIMAL(38,0) and route to
# DOUBLE through BIGINT (rule 30), so the three doubles come from
# exact integers by identical op trees.

REG_METRICS_ORACLE = """
WITH oc AS (
  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         c.c_mktsegment AS seg
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), segm AS (
  SELECT seg, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred_cents
  FROM oc GROUP BY seg
), gbase AS (
  SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS gpred FROM oc
), resid AS (
  SELECT (oc.cents - segm.pred_cents) // 100 AS r,
         (oc.cents - gbase.gpred) // 100 AS rg
  FROM oc JOIN segm USING (seg), gbase
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(r AS DECIMAL(38,0)) * r) AS sse,
         CAST(SUM(ABS(r)) AS BIGINT) AS sae,
         SUM(CAST(rg AS DECIMAL(38,0)) * rg) AS sst
  FROM resid
)
SELECT n,
       sae,
       SQRT(CAST(CAST(sse AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse_usd,
       CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) AS mae_usd,
       1 - CAST(CAST(sse AS BIGINT) AS DOUBLE) / CAST(CAST(sst AS BIGINT) AS DOUBLE) AS r2
FROM moments
"""


@register("ml_regression_metrics", REG_METRICS_ORACLE)
def ml_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    oc = oc.cache()  # 3 consumers (segment means, global mean, residuals), 1 join scan
    segm = oc.groupBy("seg").agg(
        F.expr("cast(SUM(cents) div COUNT(*) as bigint)").alias("pred_cents")
    )
    glob = oc.agg(F.expr("cast(SUM(cents) div COUNT(*) as bigint)").alias("gpred"))
    resid = (
        oc.join(F.broadcast(segm), "seg")
        .crossJoin(F.broadcast(glob))
        .selectExpr(
            "(cents - pred_cents) div 100 AS r",
            "(cents - gpred) div 100 AS rg",
        )
    )
    moments = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("SUM(CAST(r AS DECIMAL(38,0)) * r)").alias("sse"),
        F.expr("CAST(SUM(ABS(r)) AS BIGINT)").alias("sae"),
        F.expr("SUM(CAST(rg AS DECIMAL(38,0)) * rg)").alias("sst"),
    )
    out = moments.selectExpr(
        "n",
        "sae",
        "SQRT(CAST(CAST(sse AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse_usd",
        "CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) AS mae_usd",
        "1 - CAST(CAST(sse AS BIGINT) AS DOUBLE) / CAST(CAST(sst AS BIGINT) AS DOUBLE) AS r2",
    )
    return out


# ---------------------------------------------------------------------------
# agg_benford_digits — first-digit distribution vs Benford's law
# ---------------------------------------------------------------------------
# First significant digit of the integer cents (BIGINT→VARCHAR substr,
# never log10). Expected shares are ppm literals of log10(1+1/d) that
# sum to exactly 1,000,000. dev_ppm = observed − expected, floor-ppm.

_BENFORD_PPM = [
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
]

BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits GROUP BY digit
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts
), bf AS (
  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                        (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                        (9, 45757)) AS v(digit, benford_ppm)
)
SELECT bf.digit,
       CAST(COALESCE(counts.cnt, 0) AS BIGINT) AS cnt,
       CAST(1000000 * COALESCE(counts.cnt, 0) // tot.n AS BIGINT) AS obs_ppm,
       CAST(bf.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(1000000 * COALESCE(counts.cnt, 0) // tot.n - bf.benford_ppm AS BIGINT) AS dev_ppm
FROM bf LEFT JOIN counts ON bf.digit = counts.digit, tot
ORDER BY bf.digit
"""


@register("agg_benford_digits", BENFORD_ORACLE)
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digits = o.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    bf = local_frame(spark, _BENFORD_PPM, "digit INT, benford_ppm INT").select(
        F.col("digit").cast("bigint").alias("digit"),
        F.col("benford_ppm").cast("bigint").alias("benford_ppm"),
    )
    return (
        bf.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "digit",
            "CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt",
            "CAST(1000000 * COALESCE(cnt, 0) div n AS BIGINT) AS obs_ppm",
            "benford_ppm",
            "CAST(1000000 * COALESCE(cnt, 0) div n - benford_ppm AS BIGINT) AS dev_ppm",
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# stats_welch_ttest — unequal-variance two-sample t (purchase vs click)
# ---------------------------------------------------------------------------
# Each group reduces to (n, S=Σcents, Q=Σcents²-in-DECIMAL) map-side.
# Sample variance via the exact-integer form (n·Q − S²)/(n·(n−1)) with
# the cancellation in DECIMAL(38,0) (rule 7) routed to DOUBLE through
# BIGINT (rule 30; n·Q−S² ≈ n²σ² ≤ ~8e18 at sf1 with cents ≤ 49k —
# inside int64, but past 2^53, where the hugeint→double path
# misrounds), then t and the Welch–Satterthwaite df as one shared IEEE
# expression tree. x² is spelled x*x — POWER() is a transcendental on
# some engines (rule 1).

# var_g and se_g spelled ONCE; every downstream expression reuses the
# exact same text so the Spark selectExpr and the oracle SELECT are the
# same IEEE tree by construction.
_V1 = "CAST(CAST(num1 AS BIGINT) AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE)"
_V2 = "CAST(CAST(num2 AS BIGINT) AS DOUBLE) / CAST(n2 * (n2 - 1) AS DOUBLE)"
_SE1 = f"{_V1} / CAST(n1 AS DOUBLE)"
_SE2 = f"{_V2} / CAST(n2 AS DOUBLE)"

_WELCH_EXPRS = [
    "n1", "n2", "s1", "s2",
    "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1_cents",
    "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2_cents",
    f"{_V1} AS var1_cents2",
    f"{_V2} AS var2_cents2",
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    f" / SQRT({_SE1} + {_SE2}) AS t_stat",
    f"({_SE1} + {_SE2}) * ({_SE1} + {_SE2})"
    f" / (({_SE1}) * ({_SE1}) / CAST(n1 - 1 AS DOUBLE)"
    f"   + ({_SE2}) * ({_SE2}) / CAST(n2 - 1 AS DOUBLE)) AS welch_df",
]

WELCH_ORACLE = """
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         SUM(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
             * CAST(round(value * 100) AS BIGINT)) AS q
  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY event_type
), pivoted AS (
  SELECT MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
         MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
         MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
         MAX(CASE WHEN event_type = 'click' THEN s END) AS s2,
         MAX(CASE WHEN event_type = 'purchase' THEN n * q - CAST(s AS DECIMAL(38,0)) * s END) AS num1,
         MAX(CASE WHEN event_type = 'click' THEN n * q - CAST(s AS DECIMAL(38,0)) * s END) AS num2
  FROM m
)
SELECT """ + ",\n       ".join(_WELCH_EXPRS) + "\nFROM pivoted"


@register("stats_welch_ttest", WELCH_ORACLE)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").alias("s"),
            F.expr(
                "SUM(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))"
                " * CAST(round(value * 100) AS BIGINT))"
            ).alias("q"),
        )
    )
    pivoted = m.agg(
        F.expr("MAX(CASE WHEN event_type = 'purchase' THEN n END)").alias("n1"),
        F.expr("MAX(CASE WHEN event_type = 'click' THEN n END)").alias("n2"),
        F.expr("MAX(CASE WHEN event_type = 'purchase' THEN s END)").alias("s1"),
        F.expr("MAX(CASE WHEN event_type = 'click' THEN s END)").alias("s2"),
        F.expr(
            "MAX(CASE WHEN event_type = 'purchase' THEN n * q - CAST(s AS DECIMAL(38,0)) * s END)"
        ).alias("num1"),
        F.expr(
            "MAX(CASE WHEN event_type = 'click' THEN n * q - CAST(s AS DECIMAL(38,0)) * s END)"
        ).alias("num2"),
    )
    return pivoted.selectExpr(*_WELCH_EXPRS)
