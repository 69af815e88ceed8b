"""ML-evaluation wave 2 (r11): lift/gain curve, calibration ECE, ROC
grid, PSI drift, and market-concentration HHI.

The r10 verdict named the first two as the next real-user gaps after
the r10 ML-eval family (SURVEY §2): every scoring pipeline publishes a
gains chart and an expected-calibration-error scalar next to the PR
curve and Brier score. All five follow the family's determinism
rules (DETERMINISM.md):

- windows/cumulative sums only over BOUNDED binned aggregates (the
  ≤1000-row score grid olap18 established), never the raw table;
- exact integer/DECIMAL moments through the shuffle; ONE terminal
  double expression per output (correctly-rounded IEEE ops agree
  across engines), or integer ppm via floor division;
- no libm in hashed values: PSI's log ratio rides the bit-length
  log2 quantization (agg_entropy_bits / corpus_zipf_fit idiom);
- products that can exceed int64 at sf1 multiply in DECIMAL(38,0) on
  the Spark side and HUGEINT in DuckDB (r10 pitfall convention).

Reference parity: the reference engine (a DuckDB extension) gets
these readouts from DuckDB's SQL surface; file:line cites are to the
composing entries in this repo (olap18.py) rather than reference
source, which has no ML-eval layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.operators.olap18 import (
    CALIB_BIN_WIDTH,
    CALIB_BINS,
    KS_BIN_SCALE,
    KS_BINS,
)
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# ml_lift_gain_curve — cumulative-response (gains) chart on the score grid
# ---------------------------------------------------------------------------
# "If we contact the top-scored X% of the population, what share of
# all responders do we capture, and at what multiple of random?"
# Composes ml_pr_curve_binned's bounded grid (olap18.py): bin scores
# map-side, cumulate FROM THE TOP over the ≤1000-row aggregate.
# gain = tp/p, population depth = pp/N, lift = (tp/pp)/(p/N)
# = tp*N/(pp*p) — the ppm lift multiplies in DECIMAL/HUGEINT because
# tp*N reaches ~3.6e19 at sf1 (int64 overflows at 9.2e18).

LIFT_GAIN_ORACLE = f"""
WITH binned AS (
  SELECT CAST(least({KS_BINS - 1}, floor(value * {KS_BIN_SCALE})) AS INTEGER) AS bin,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS np,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM events GROUP BY 1
), cum AS (
  SELECT bin,
         SUM(np) OVER (ORDER BY bin DESC) AS tp,
         SUM(nt) OVER (ORDER BY bin DESC) AS pp,
         SUM(np) OVER () AS p,
         SUM(nt) OVER () AS n
  FROM binned
)
SELECT bin,
       CAST(tp AS BIGINT) AS tp, CAST(pp AS BIGINT) AS pp,
       CAST(1000000 * pp // n AS BIGINT) AS depth_ppm,
       CAST(1000000 * tp // NULLIF(p, 0) AS BIGINT) AS gain_ppm,
       CAST(1000000 * CAST(tp AS HUGEINT) * CAST(n AS HUGEINT)
            // NULLIF(CAST(pp AS HUGEINT) * CAST(p AS HUGEINT), 0) AS BIGINT) AS lift_ppm
FROM cum
ORDER BY bin
"""


@register("ml_lift_gain_curve", LIFT_GAIN_ORACLE)
def ml_lift_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.lit(KS_BINS - 1), F.floor(F.col("value") * KS_BIN_SCALE)
    ).cast("int")
    binned = (
        e.select((F.col("event_type") == "purchase").alias("pos"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count_if(F.col("pos")).cast("bigint").alias("np"),
            F.count(F.lit(1)).cast("bigint").alias("nt"),
        )
    )
    wtop = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        binned.select(
            "bin",
            F.sum("np").over(wtop).cast("bigint").alias("tp"),
            F.sum("nt").over(wtop).cast("bigint").alias("pp"),
            F.sum("np").over(wall).alias("p"),
            F.sum("nt").over(wall).alias("n"),
        )
        .selectExpr(
            "bin", "tp", "pp",
            "cast(1000000 * pp div n as bigint) AS depth_ppm",
            "cast(1000000 * tp div nullif(p, 0) as bigint) AS gain_ppm",
            # DECIMAL: tp*n ~3.6e19 at sf1 exceeds int64
            "cast(1000000 * cast(tp as decimal(19,0)) * cast(n as decimal(19,0))"
            " div nullif(cast(pp as decimal(19,0)) * cast(p as decimal(19,0)), 0)"
            " as bigint) AS lift_ppm",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# ml_calibration_ece — expected calibration error as ONE exact scalar
# ---------------------------------------------------------------------------
# ECE = Σ_b (n_b/N)·|conf_b − acc_b|. With conf in exact ppm
# (p_ppm = round(value·2000), the ml_brier_score proxy) the per-bin
# term n_b·|conf_b − acc_b| telescopes to |Σp_ppm − 1e6·pos_b| —
# EXACT integers end to end; the scalar is one integer sum over
# ≤CALIB_BINS rows divided once. No double ever enters a SUM.

ECE_ORACLE = f"""
WITH binned AS (
  SELECT CAST(least({CALIB_BINS - 1}, floor(value / {CALIB_BIN_WIDTH})) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(CAST(round(value * 2000) AS BIGINT)) AS BIGINT) AS sum_p_ppm,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_pos
  FROM events GROUP BY 1
)
SELECT CAST(SUM(n_b) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(abs(sum_p_ppm - 1000000 * n_pos)) AS BIGINT) AS ece_num_ppm,
       CAST(SUM(abs(sum_p_ppm - 1000000 * n_pos)) AS DOUBLE)
         / (CAST(SUM(n_b) AS DOUBLE) * 1e6) AS ece
FROM binned
"""


@register("ml_calibration_ece", ECE_ORACLE)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.lit(CALIB_BINS - 1), F.floor(F.col("value") / CALIB_BIN_WIDTH)
    ).cast("int")
    p_ppm = F.round(F.col("value") * 2000).cast("bigint")
    binned = (
        e.select("event_type", bin_.alias("bin"), p_ppm.alias("p_ppm"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("p_ppm").cast("bigint").alias("sum_p_ppm"),
            F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("n_pos"),
        )
    )
    num = F.abs(F.col("sum_p_ppm") - F.lit(1000000) * F.col("n_pos"))
    return binned.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(num).cast("bigint").alias("ece_num_ppm"),
        (
            F.sum(num).cast("double")
            / (F.sum("n_b").cast("double") * F.lit(1e6))
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# ml_roc_curve_binned — TPR/FPR grid (completes the PR/KS/ROC triad)
# ---------------------------------------------------------------------------
# Same bounded-grid shape as ml_pr_curve_binned: cumulate tp and fp
# from the top score bin; tpr = tp/P, fpr = fp/Neg in exact ppm.
# A thresholded model review reads all three curves off one scan.

ROC_ORACLE = f"""
WITH binned AS (
  SELECT CAST(least({KS_BINS - 1}, floor(value * {KS_BIN_SCALE})) AS INTEGER) AS bin,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS np,
         CAST(COUNT(*) FILTER (event_type <> 'purchase') AS BIGINT) AS nn
  FROM events GROUP BY 1
), cum AS (
  SELECT bin,
         SUM(np) OVER (ORDER BY bin DESC) AS tp,
         SUM(nn) OVER (ORDER BY bin DESC) AS fp,
         SUM(np) OVER () AS p,
         SUM(nn) OVER () AS neg
  FROM binned
)
SELECT bin, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(1000000 * tp // NULLIF(p, 0) AS BIGINT) AS tpr_ppm,
       CAST(1000000 * fp // NULLIF(neg, 0) AS BIGINT) AS fpr_ppm
FROM cum
ORDER BY bin
"""


@register("ml_roc_curve_binned", ROC_ORACLE)
def ml_roc_curve_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.lit(KS_BINS - 1), F.floor(F.col("value") * KS_BIN_SCALE)
    ).cast("int")
    binned = (
        e.select((F.col("event_type") == "purchase").alias("pos"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count_if(F.col("pos")).cast("bigint").alias("np"),
            F.count_if(~F.col("pos")).cast("bigint").alias("nn"),
        )
    )
    wtop = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        binned.select(
            "bin",
            F.sum("np").over(wtop).cast("bigint").alias("tp"),
            F.sum("nn").over(wtop).cast("bigint").alias("fp"),
            F.sum("np").over(wall).alias("p"),
            F.sum("nn").over(wall).alias("neg"),
        )
        .selectExpr(
            "bin", "tp", "fp",
            "cast(1000000 * tp div nullif(p, 0) as bigint) AS tpr_ppm",
            "cast(1000000 * fp div nullif(neg, 0) as bigint) AS fpr_ppm",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# ml_psi_drift_bits — population-stability index, log-free integer form
# ---------------------------------------------------------------------------
# PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) between a baseline week and the
# following week. libm ln is not a cross-engine contract (text2.py
# header), so the log ratio rides the bit-length log2 quantization:
# ln(p/q) → bitlen(na·NB) − bitlen(nb·NA) (bitlen = floor(log2)+1;
# exact on integers, within 1 bit per term — the agg_entropy_bits /
# corpus_zipf_fit idiom). The scaled statistic
#   psi_scaled = Σ (na·NB − nb·NA)·(bitlen(na·NB) − bitlen(nb·NA))
# is ALL-INTEGER (DECIMAL-exact through the sum: |terms| ≤ ~2e13·64
# at sf1) and ≥ 0 term-by-term (sign(p−q) = sign of the bit
# difference or the term is 0), so the one terminal double division
# by NA·NB yields the bit-space PSI deterministically. Bins with
# na=0 or nb=0 are excluded (standard PSI practice — reported so the
# consumer sees the support). Weeks are keyed on epoch-day div 7
# (engine-neutral; no weekday() — r9 pitfall).

PSI_ORACLE = """
WITH weeks AS (
  SELECT CAST(floor(value * 2) AS INTEGER) // 100 AS bin,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) // 7 AS wk
  FROM events
), bounds AS (
  SELECT MIN(wk) AS w0 FROM weeks
), counts AS (
  SELECT bin,
         CAST(COUNT(*) FILTER (wk = w0)     AS BIGINT) AS na,
         CAST(COUNT(*) FILTER (wk = w0 + 1) AS BIGINT) AS nb
  FROM weeks, bounds GROUP BY bin
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM counts
), terms AS (
  -- na·tb ≤ ~3.6e13 at sf1: the per-term products fit BIGINT (printf
  -- '%b' needs one); only the SUM of (x−y)·bitdiff gets HUGEINT headroom
  SELECT bin, na, nb, ta, tb,
         na * tb AS x,
         nb * ta AS y
  FROM counts, tot WHERE na > 0 AND nb > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins_used,
       CAST(MIN(ta) AS BIGINT) AS n_base, CAST(MIN(tb) AS BIGINT) AS n_next,
       CAST(SUM(CAST(x - y AS HUGEINT) * (length(printf('%b', x))
                                          - length(printf('%b', y)))) AS VARCHAR)
         AS psi_scaled,
       CAST(SUM(CAST(x - y AS HUGEINT) * (length(printf('%b', x))
                                          - length(printf('%b', y)))) AS DOUBLE)
         / (CAST(MIN(ta) AS DOUBLE) * CAST(MIN(tb) AS DOUBLE)) AS psi_bits
FROM terms
"""


@register("ml_psi_drift_bits", PSI_ORACLE)
def ml_psi_drift_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")

    def bitlen(col):
        # floor(log2)+1 of a positive DECIMAL, exact: length of the
        # base-2 digit string (conv works on the bigint range; inputs
        # here are ≤ na·tb ~ 2e13 at sf1, well inside)
        return F.length(F.conv(col.cast("bigint").cast("string"), 10, 2)).cast("long")

    weeks = e.select(
        (F.floor(F.col("value") * 2).cast("int") / 100).cast("int").alias("bin"),
        F.expr("datediff(cast(ts as date), date'1970-01-01') div 7").alias("wk"),
    )
    w0 = weeks.agg(F.min("wk").alias("w0"))
    counts = (
        weeks.crossJoin(F.broadcast(w0))
        .groupBy("bin")
        .agg(
            F.count_if(F.col("wk") == F.col("w0")).cast("bigint").alias("na"),
            F.count_if(F.col("wk") == F.col("w0") + 1).cast("bigint").alias("nb"),
        )
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    terms = (
        counts.select(
            "bin", "na", "nb",
            F.sum("na").over(wall).cast("bigint").alias("ta"),
            F.sum("nb").over(wall).cast("bigint").alias("tb"),
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "na", "nb", "ta", "tb",
            (F.col("na").cast("decimal(19,0)") * F.col("tb")).alias("x"),
            (F.col("nb").cast("decimal(19,0)") * F.col("ta")).alias("y"),
        )
    )
    term = (F.col("x") - F.col("y")).cast("decimal(38,0)") * (
        bitlen(F.col("x")) - bitlen(F.col("y"))
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.min("ta").cast("bigint").alias("n_base"),
        F.min("tb").cast("bigint").alias("n_next"),
        F.sum(term).cast("decimal(38,0)").cast("string").alias("psi_scaled"),
        (
            F.sum(term).cast("double")
            / (F.min("ta").cast("double") * F.min("tb").cast("double"))
        ).alias("psi_bits"),
    )


# ---------------------------------------------------------------------------
# agg_hhi_concentration — Herfindahl–Hirschman index per nation
# ---------------------------------------------------------------------------
# Market-concentration readout: HHI = Σ_customers share², share =
# customer spend / nation spend. Exact: spend in cents (bigint),
# Σ spend² in DECIMAL/HUGEINT (cents² reaches ~3.6e15 per customer —
# the SUM needs headroom), hhi_ppm = 1e6·Σs² // T² with the product
# in DECIMAL(38,0)/HUGEINT (T² ~1e24 at sf1). Two distributive
# aggregations — customer grain then nation grain — no window.

HHI_ORACLE = """
WITH spend AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), per_nation AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(cents AS HUGEINT) * cents) AS sum_sq
  FROM spend GROUP BY c_nationkey
)
SELECT c_nationkey, n_customers, total_cents,
       CAST(1000000 * sum_sq // (CAST(total_cents AS HUGEINT) * total_cents) AS BIGINT)
         AS hhi_ppm
FROM per_nation
ORDER BY c_nationkey
"""


@register("agg_hhi_concentration", HHI_ORACLE)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # aggregate the FACT side to customer grain first (map-combined,
    # one shuffle on custkey), THEN attach the 2-column dim via
    # broadcast — the join moves |customers| rows, not |orders|
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    per_nation = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
    )
    return (
        per_nation.selectExpr(
            "c_nationkey", "n_customers", "total_cents",
            "cast(1000000 * sum_sq div (cast(total_cents as decimal(19,0))"
            " * cast(total_cents as decimal(19,0))) as bigint) AS hhi_ppm",
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# struct_funcs_parity — STRUCT construction/extraction surface
# ---------------------------------------------------------------------------
# Completes the nested-type parity triad next to list_funcs_parity
# (olap15) and map_funcs_parity (olap16): DuckDB struct_pack /
# dot-extraction / nested structs ≡ Spark named_struct / getField.
# The final projection flattens every value back to scalars — the
# driver's pandas canonicalizer hashes scalars only (the
# agg_array_agg_sorted lesson, r10).

STRUCT_FUNCS_ORACLE = """
WITH s AS (
  SELECT s_suppkey,
         struct_pack(key := s_suppkey,
                     nat := s_nationkey,
                     bal_cents := CAST(round(s_acctbal * 100) AS BIGINT)) AS sup,
         struct_pack(outer_key := s_suppkey,
                     inner_s := struct_pack(nk := s_nationkey,
                                            name_len := CAST(length(s_name) AS BIGINT))) AS nested
  FROM supplier
)
SELECT s_suppkey,
       sup.nat AS nat_from_struct,
       sup.bal_cents AS bal_from_struct,
       nested.inner_s.nk AS nested_nk,
       nested.inner_s.name_len AS nested_name_len,
       CAST(sup.key = nested.outer_key AS BOOLEAN) AS keys_agree
FROM s
ORDER BY s_suppkey
"""


@register("struct_funcs_parity", STRUCT_FUNCS_ORACLE)
def struct_funcs_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    sup = F.struct(
        F.col("s_suppkey").alias("key"),
        F.col("s_nationkey").alias("nat"),
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    nested = F.struct(
        F.col("s_suppkey").alias("outer_key"),
        F.struct(
            F.col("s_nationkey").alias("nk"),
            F.length("s_name").cast("bigint").alias("name_len"),
        ).alias("inner_s"),
    )
    return (
        s.select("s_suppkey", sup.alias("sup"), nested.alias("nested"))
        .select(
            "s_suppkey",
            F.col("sup.nat").alias("nat_from_struct"),
            F.col("sup.bal_cents").alias("bal_from_struct"),
            F.col("nested.inner_s.nk").alias("nested_nk"),
            F.col("nested.inner_s.name_len").alias("nested_name_len"),
            (F.col("sup.key") == F.col("nested.outer_key")).alias("keys_agree"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# ev_hazard_curve — discrete-time churn hazard over the day grid
# ---------------------------------------------------------------------------
# Observation-window survival readout: lifetime t = last-seen day −
# first-seen day per user; d_t = users ending at offset t, at_risk_t =
# users with lifetime ≥ t; hazard_ppm = 1e6·d_t // at_risk_t. ONE
# fact shuffle (user grain: min/max day in one partial agg), then a
# map-combined histogram into ≤|calendar days| groups and a cumulative
# window over that bounded grid only. Right-censoring is deliberately
# not modeled (every user's window ends at the corpus edge) — this is
# the descriptive lifetime table, stated so consumers don't read it
# as a Kaplan–Meier estimate.

HAZARD_ORACLE = """
WITH lifetimes AS (
  SELECT user_id,
         CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS BIGINT) AS t
  FROM events GROUP BY user_id
), hist AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS d_t FROM lifetimes GROUP BY t
), cum AS (
  SELECT t, d_t, SUM(d_t) OVER (ORDER BY t DESC) AS at_risk
  FROM hist
)
SELECT t, d_t, CAST(at_risk AS BIGINT) AS at_risk,
       CAST(1000000 * d_t // at_risk AS BIGINT) AS hazard_ppm
FROM cum
ORDER BY t
"""


@register("ev_hazard_curve", HAZARD_ORACLE)
def ev_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    lifetimes = e.groupBy("user_id").agg(
        F.datediff(F.max(day), F.min(day)).cast("bigint").alias("t")
    )
    hist = lifetimes.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("d_t"))
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.select("t", "d_t", F.sum("d_t").over(wdesc).cast("bigint").alias("at_risk"))
        .selectExpr("t", "d_t", "at_risk",
                    "cast(1000000 * d_t div at_risk as bigint) AS hazard_ppm")
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# ts_theil_sen_slope — robust trend per event type (median of slopes)
# ---------------------------------------------------------------------------
# The outlier-immune alternative to agg_regression's OLS: slope =
# median over all day pairs of (y2−y1)/(d2−d1). Pairs are generated
# from the DAY-GRAIN aggregate only (≤90 days → ≤4k pairs per type —
# bounded; never the raw table). Each pairwise slope is ONE double
# division of exact integers (micro-units numerator < 2^53 — exact in
# double; correctly-rounded division agrees across engines); the
# median is the LOWER-MIDDLE element by (slope, d1, d2) rank — no
# interpolation, so no engine-specific (a+b)/2 vs a+(b−a)/2 ulp risk.

THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CAST(1000000 * (b.cents - a.cents) AS DOUBLE) / (b.d - a.d) AS slope_micro,
         a.d AS d1, b.d AS d2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d > a.d
), ranked AS (
  SELECT event_type, slope_micro,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope_micro, d1, d2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope_micro AS theil_sen_slope_micro
FROM ranked
WHERE rn = (n_pairs + 1) // 2
ORDER BY event_type
"""


@register("ts_theil_sen_slope", THEIL_SEN_ORACLE)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        "event_type",
        F.expr("datediff(cast(ts as date), date'1970-01-01')").cast("bigint").alias("d"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("cents").alias("c1"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("d").alias("d2"),
                     F.col("cents").alias("c2"))
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d2") > F.col("d1"))
    ).select(
        "event_type", "d1", "d2",
        (
            (F.lit(1000000) * (F.col("c2") - F.col("c1"))).cast("double")
            / (F.col("d2") - F.col("d1"))
        ).alias("slope_micro"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope_micro", "d1", "d2")
    wn = Window.partitionBy("event_type")
    return (
        pairs.select(
            "event_type", "slope_micro",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n_pairs"),
        )
        .where(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .selectExpr("event_type", "cast(n_pairs as bigint) AS n_pairs",
                    "slope_micro AS theil_sen_slope_micro")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# win_groups_frame_emulated — GROUPS frame mode bridged to Spark
# ---------------------------------------------------------------------------
# The SQL:2011 GROUPS frame (peer groups of the ORDER key count as
# one frame unit) is in neither engine here — Spark has ROWS/RANGE
# only, and this DuckDB build parses but rejects GROUPS ("not
# implemented yet") — so BOTH sides bridge it, independently:
# - Spark (query): dense_rank() numbers the peer groups, then a RANGE
#   frame over that rank — RANGE ±1 on a gap-free group number IS
#   GROUPS ±1; both windows share (partition, order) so Spark stacks
#   them over ONE sort (the engine-fusion fact in the build notes).
# - DuckDB (oracle): a genuinely different formulation — per-nation
#   peer groups materialized with row_number over DISTINCT buckets,
#   per-group sums, then a |group-index| ≤ 1 self-join re-aggregated
#   per supplier. Agreement proves the bridge implements GROUPS
#   semantics, not just that two identical rewrites agree.
# Domain: the dim-sized supplier relation (windows over a dimension,
# never the fact table); coarse balance buckets manufacture real ties
# so GROUPS genuinely differs from ROWS.

GROUPS_FRAME_ORACLE = """
WITH s AS (
  SELECT s_suppkey, s_nationkey,
         CAST(round(s_acctbal * 100) AS BIGINT) AS cents,
         CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_bucket
  FROM supplier
), b AS (
  SELECT s_nationkey, bal_bucket,
         row_number() OVER (PARTITION BY s_nationkey ORDER BY bal_bucket) AS gidx
  FROM (SELECT DISTINCT s_nationkey, bal_bucket FROM s)
), sg AS (
  SELECT s.s_suppkey, s.s_nationkey, s.bal_bucket, s.cents, b.gidx
  FROM s JOIN b USING (s_nationkey, bal_bucket)
), agg AS (
  SELECT s_nationkey, gidx,
         CAST(SUM(cents) AS BIGINT) AS gcents,
         CAST(COUNT(*) AS BIGINT) AS gn
  FROM sg GROUP BY 1, 2
)
SELECT sg.s_suppkey, sg.s_nationkey, sg.bal_bucket,
       CAST(SUM(a.gcents) AS BIGINT) AS neighborhood_cents,
       CAST(SUM(a.gn) AS BIGINT) AS neighborhood_n
FROM sg JOIN agg a
  ON a.s_nationkey = sg.s_nationkey AND abs(a.gidx - sg.gidx) <= 1
GROUP BY sg.s_suppkey, sg.s_nationkey, sg.bal_bucket
ORDER BY sg.s_nationkey, sg.bal_bucket, sg.s_suppkey
"""


@register("win_groups_frame_emulated", GROUPS_FRAME_ORACLE)
def win_groups_frame_emulated(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    base = s.select(
        "s_suppkey", "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("cents"),
        F.floor(F.col("s_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    )
    wg = Window.partitionBy("s_nationkey").orderBy("bal_bucket")
    ranked = base.select(
        "*", F.dense_rank().over(wg).alias("grp")
    )
    wr = Window.partitionBy("s_nationkey").orderBy("grp").rangeBetween(-1, 1)
    return (
        ranked.select(
            "s_suppkey", "s_nationkey", "bal_bucket",
            F.sum("cents").over(wr).cast("bigint").alias("neighborhood_cents"),
            F.count(F.lit(1)).over(wr).cast("bigint").alias("neighborhood_n"),
        )
        .orderBy("s_nationkey", "bal_bucket", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# ts_forecast_backtest_mae — rolling-origin backtest of two naive models
# ---------------------------------------------------------------------------
# The evaluation harness around ts_seasonal_naive (olap12): for every
# day with history, score the seasonal-naive forecast ŷ_d = y_{d−7}
# against naive-1 ŷ_d = y_{d−1} on daily cents; MAE in exact integer
# cents (floor div), skill = mae7/mae1 in ppm. All lags over the
# bounded day grid; one fact shuffle into the daily aggregate.

BACKTEST_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, cents,
         lag(cents, 7) OVER (PARTITION BY event_type ORDER BY d) AS y7,
         lag(cents, 1) OVER (PARTITION BY event_type ORDER BY d) AS y1
  FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(abs(cents - y7)) AS BIGINT) AS sae_seasonal7,
       CAST(SUM(abs(cents - y1)) AS BIGINT) AS sae_naive1,
       CAST(SUM(abs(cents - y7)) // COUNT(*) AS BIGINT) AS mae7_cents,
       CAST(SUM(abs(cents - y1)) // COUNT(*) AS BIGINT) AS mae1_cents,
       CAST(1000000 * SUM(abs(cents - y7)) // NULLIF(SUM(abs(cents - y1)), 0) AS BIGINT)
         AS skill_ppm
FROM lagged
WHERE y7 IS NOT NULL AND y1 IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register("ts_forecast_backtest_mae", BACKTEST_ORACLE)
def ts_forecast_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type", "cents",
        F.lag("cents", 7).over(w).alias("y7"),
        F.lag("cents", 1).over(w).alias("y1"),
    ).where(F.col("y7").isNotNull() & F.col("y1").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(F.abs(F.col("cents") - F.col("y7"))).cast("bigint").alias("sae_seasonal7"),
            F.sum(F.abs(F.col("cents") - F.col("y1"))).cast("bigint").alias("sae_naive1"),
        )
        .selectExpr(
            "event_type", "n_scored", "sae_seasonal7", "sae_naive1",
            "cast(sae_seasonal7 div n_scored as bigint) AS mae7_cents",
            "cast(sae_naive1 div n_scored as bigint) AS mae1_cents",
            "cast(1000000 * sae_seasonal7 div nullif(sae_naive1, 0) as bigint) AS skill_ppm",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ml_auc_by_sample_fraction — AUC learning-style curve on nested samples
# ---------------------------------------------------------------------------
# "Would a quarter of the eval set have told us the same thing?" —
# the metric-stability readout next to ml_auc_exact (olap17.py):
# exact AUC on NESTED deterministic 25%/50%/100% subsets. Nesting via
# the repo's portable sampling idiom (sample_tablesample): first hex
# digit of md5(seed:event_id) under a threshold — the 25% set is a
# subset of the 50% set by construction, so differences between rows
# are sampling noise only. Everything rides the score-grain trick:
# per (fraction, score-cents, hex-class) counts first (domain-bounded),
# the rank window only over that grain.

AUC_FRAC_SEED = 7
# nested thresholds on the first hex digit: <'4' = 4/16, <'8' = 8/16,
# <'g' = all 16/16
AUC_FRACTIONS = [("f025", "4"), ("f050", "8"), ("f100", "g")]

_AUC_FRac_VALUES = ", ".join(f"('{n}', '{t}')" for n, t in AUC_FRACTIONS)

AUC_FRAC_ORACLE = f"""
WITH scored AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         substr(md5('{AUC_FRAC_SEED}:' || CAST(event_id AS VARCHAR)), 1, 1) AS h1
  FROM events
), fr AS (SELECT * FROM (VALUES {_AUC_FRac_VALUES}) t(fraction, thresh)),
grain AS (
  SELECT fraction, s,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
  FROM scored JOIN fr ON h1 < thresh
  GROUP BY fraction, s
), cum AS (
  SELECT fraction, n_pos, n_neg,
         CAST(COALESCE(SUM(n_neg) OVER (PARTITION BY fraction ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS neg_below
  FROM grain
)
SELECT fraction,
       CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS u2,
       CAST(floor(1000000.0 * CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)
            / (2.0 * CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))) AS BIGINT)
         AS auc_ppm
FROM cum
GROUP BY fraction
ORDER BY fraction
"""


@register("ml_auc_by_sample_fraction", AUC_FRAC_ORACLE)
def ml_auc_by_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fr = local_frame(spark, AUC_FRACTIONS, "fraction string, thresh string")
    scored = e.select(
        F.round(F.col("value") * 100).cast("bigint").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
        F.substring(
            F.md5(F.concat(F.lit(f"{AUC_FRAC_SEED}:"), F.col("event_id").cast("string"))),
            1, 1,
        ).alias("h1"),
    )
    grain = (
        scored.join(F.broadcast(fr), F.col("h1") < F.col("thresh"))
        .groupBy("fraction", "s")
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n_neg"),
        )
    )
    w = Window.partitionBy("fraction").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grain.select(
        "fraction", "n_pos", "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("bigint").alias("neg_below"),
    )
    return (
        cum.groupBy("fraction")
        .agg(
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("n_neg").cast("bigint").alias("n_neg"),
            F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg")))
            .cast("bigint")
            .alias("u2"),
        )
        .select(
            "fraction", "n_pos", "n_neg", "u2",
            F.floor(
                1000000.0 * F.col("u2").cast("double")
                / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            ).cast("bigint").alias("auc_ppm"),
        )
        .orderBy("fraction")
    )


# ---------------------------------------------------------------------------
# ts_anomaly_rolling_mad — robust rolling anomaly flags on the day grid
# ---------------------------------------------------------------------------
# The robust twin of ev_anomaly_zscore (olap11): a day is anomalous
# when |x − rolling_median| > 3·rolling_MAD over the trailing 15-day
# window. Medians cannot stack as window aggregates in either engine,
# so the window materializes as a bounded day-grid self-join
# (≤15 rows per scored day, O(days·15) — days are SF-invariant) and
# both medians are GROUPED exact percentiles on integer cents (dyadic
# interpolation — exact in both engines on integers, the agg_median
# contract; MAD's inputs sit on the half-cent grid, still dyadic).

MAD_WINDOW_DAYS = 15

ROLLING_MAD_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS di,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.di, a.cents AS x, b.cents AS v
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type
   AND b.di BETWEEN a.di - {MAD_WINDOW_DAYS - 1} AND a.di
), med AS (
  SELECT event_type, di, MIN(x) AS x,
         CAST(COUNT(*) AS BIGINT) AS n_window,
         median(v) AS med
  FROM pairs GROUP BY event_type, di
), mad AS (
  SELECT p.event_type, p.di, m.x, m.n_window, m.med,
         median(abs(p.v - m.med)) AS mad
  FROM pairs p JOIN med m ON p.event_type = m.event_type AND p.di = m.di
  GROUP BY p.event_type, p.di, m.x, m.n_window, m.med
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(COUNT(*) FILTER (n_window = {MAD_WINDOW_DAYS}
                             AND abs(x - med) > 3 * mad) AS BIGINT) AS n_anomalies,
       CAST(SUM(CASE WHEN abs(x - med) > 3 * mad THEN abs(x - med) ELSE 0 END) AS DOUBLE)
         AS sum_anomalous_dev
FROM mad
GROUP BY event_type
ORDER BY event_type
"""


@register("ts_anomaly_rolling_mad", ROLLING_MAD_ORACLE)
def ts_anomaly_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        "event_type",
        F.expr("datediff(cast(ts as date), date'1970-01-01')").cast("bigint").alias("di"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("di").alias("di2"),
                     F.col("cents").alias("v"))
    pairs = daily.join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("di2") >= F.col("di") - (MAD_WINDOW_DAYS - 1))
        & (F.col("di2") <= F.col("di")),
    ).select("event_type", "di", F.col("cents").alias("x"), "v")
    med = pairs.groupBy("event_type", "di").agg(
        F.min("x").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n_window"),
        F.percentile("v", F.lit(0.5)).alias("med"),
    )
    mad = (
        pairs.join(med.select("event_type", "di", "med"), ["event_type", "di"])
        .groupBy("event_type", "di")
        .agg(F.percentile(F.abs(F.col("v") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    scored = med.join(mad, ["event_type", "di"])
    is_anom = F.abs(F.col("x") - F.col("med")) > 3 * F.col("mad")
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.count_if(is_anom & (F.col("n_window") == MAD_WINDOW_DAYS))
            .cast("bigint")
            .alias("n_anomalies"),
            F.sum(
                F.when(is_anom, F.abs(F.col("x") - F.col("med"))).otherwise(F.lit(0))
            ).cast("double").alias("sum_anomalous_dev"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_customer_reorder_gaps — reorder latency distribution per segment
# ---------------------------------------------------------------------------
# Retail replenishment readout: days between consecutive orders per
# customer (lag over the per-customer order sequence — partitions
# bounded by orders-per-customer, the ev_inter_event_gaps posture),
# rolled up per market segment with an exact dyadic median.

REORDER_GAPS_ORACLE = """
WITH seq AS (
  SELECT c_mktsegment,
         CAST(CAST(o_orderdate AS DATE)
              - lag(CAST(o_orderdate AS DATE))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS BIGINT) AS gap_days
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap,
       CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
       median(gap_days) AS median_gap
FROM seq WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@register("q_customer_reorder_gaps", REORDER_GAPS_ORACLE)
def q_customer_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).cast("bigint").alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    return (
        seq.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_days").cast("bigint").alias("min_gap"),
            F.max("gap_days").cast("bigint").alias("max_gap"),
            F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
            F.percentile("gap_days", F.lit(0.5)).alias("median_gap"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# ts_cross_correlation_lags — lead/lag correlation between two series
# ---------------------------------------------------------------------------
# "Do views lead purchases, and by how many days?" — the
# cross-correlation function at lags −7..+7 between the daily view
# and purchase cent series. ts_rolling_corr_pairs' determinism recipe
# (olap17.py) generalized across a lag table: every moment (n, Σx,
# Σy, Σx², Σy², Σxy) is an exact integer sum over the aligned
# day-grid join, and corr is the one fixed-sequence double expression
# both engines evaluate identically. The lag table is a 15-row
# broadcast; the join is day-grid × lags — bounded.

XCORR_MAX_LAG = 7

_XCORR_LAG_VALUES = ", ".join(f"({k})" for k in range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1))

XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS di,
         CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
), lags AS (SELECT * FROM (VALUES {_XCORR_LAG_VALUES}) t(lag_days)),
aligned AS (
  SELECT l.lag_days, a.x, b.y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.di = a.di + l.lag_days
), m AS (
  SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM aligned GROUP BY lag_days
)
SELECT lag_days, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS xcorr
FROM m
ORDER BY lag_days
"""


@register("ts_cross_correlation_lags", XCORR_ORACLE)
def ts_cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        F.expr("datediff(cast(ts as date), date'1970-01-01')").cast("bigint").alias("di")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
        .cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint").alias("y"),
    )
    lags = local_frame(
        spark, [(k,) for k in range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1)], "lag_days bigint"
    )
    b = daily.select(F.col("di").alias("di2"), F.col("y").alias("y2"))
    aligned = (
        daily.crossJoin(F.broadcast(lags))
        .join(b, F.col("di2") == F.col("di") + F.col("lag_days"))
        .select("lag_days", "x", F.col("y2").alias("y"))
    )
    m = aligned.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    n_d, sx_d, sy_d = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx_d, syy_d, sxy_d = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    return m.select(
        "lag_days", "n",
        (
            (n_d * sxy_d - sx_d * sy_d)
            / (F.sqrt(n_d * sxx_d - sx_d * sx_d) * F.sqrt(n_d * syy_d - sy_d * sy_d))
        ).alias("xcorr"),
    ).orderBy("lag_days")


# ---------------------------------------------------------------------------
# ev_dose_response_conversion — exposure-bucket conversion rates
# ---------------------------------------------------------------------------
# "Do users with more views convert more?" — the dose-response table
# behind every engagement-theory debate: per user, the view count
# (dose, bucketed by bit-length — log2 buckets, the repo's log-free
# idiom) and a converted flag (any purchase); per bucket, users and
# conversion rate in exact ppm. One user-grain shuffle, then a
# map-combined rollup into ≤~20 buckets.

DOSE_RESPONSE_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_views,
         COUNT(*) FILTER (event_type = 'purchase') > 0 AS converted
  FROM events GROUP BY user_id
), bucketed AS (
  SELECT CASE WHEN n_views = 0 THEN 0
              ELSE CAST(length(printf('%b', n_views)) AS BIGINT) END AS dose_bucket,
         converted
  FROM per_user
)
SELECT dose_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (converted) AS BIGINT) AS n_converted,
       CAST(1000000 * COUNT(*) FILTER (converted) // COUNT(*) AS BIGINT) AS conversion_ppm
FROM bucketed GROUP BY dose_bucket ORDER BY dose_bucket
"""


@register("ev_dose_response_conversion", DOSE_RESPONSE_ORACLE)
def ev_dose_response_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "view").cast("bigint").alias("n_views"),
        (F.count_if(F.col("event_type") == "purchase") > 0).alias("converted"),
    )
    bucket = F.when(F.col("n_views") == 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("n_views").cast("string"), 10, 2)).cast("bigint")
    )
    return (
        per_user.select(bucket.alias("dose_bucket"), "converted")
        .groupBy("dose_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.count_if(F.col("converted")).cast("bigint").alias("n_converted"),
        )
        .selectExpr(
            "dose_bucket", "n_users", "n_converted",
            "cast(1000000 * n_converted div n_users as bigint) AS conversion_ppm",
        )
        .orderBy("dose_bucket")
    )


# ---------------------------------------------------------------------------
# ml_best_f1_threshold — threshold selection on the bounded score grid
# ---------------------------------------------------------------------------
# The decision every deployed classifier needs: which score cutoff
# maximizes F1? Composes the binned confusion counts (the
# ml_roc_curve_binned cumulations): at threshold = bin b, tp/fp are
# the from-the-top cumulative sums, fn = P − tp. F1 compares as the
# integer CROSS-MULTIPLICATION 2·tp·(denominator of the other side) —
# never a float ratio — so the argmax is exact; ties break to the
# LOWEST bin (most recall at equal F1) via the (ratio, bin) ordering.
# F1 itself ships in exact ppm: 2·tp·1e6 // (2·tp + fp + fn).

BEST_F1_ORACLE = f"""
WITH binned AS (
  SELECT CAST(least({KS_BINS - 1}, floor(value * {KS_BIN_SCALE})) AS INTEGER) AS bin,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS np,
         CAST(COUNT(*) FILTER (event_type <> 'purchase') AS BIGINT) AS nn
  FROM events GROUP BY 1
), cum AS (
  SELECT bin,
         CAST(SUM(np) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
         CAST(SUM(nn) OVER (ORDER BY bin DESC) AS BIGINT) AS fp,
         CAST(SUM(np) OVER () AS BIGINT) AS p
  FROM binned
), scored AS (
  SELECT bin, tp, fp, p - tp AS fn,
         CAST(2000000 * tp // NULLIF(2 * tp + fp + (p - tp), 0) AS BIGINT) AS f1_ppm
  FROM cum
)
SELECT bin AS best_bin, tp, fp, fn, f1_ppm,
       CAST(1000000 * tp // NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm,
       CAST(1000000 * tp // NULLIF(tp + fn, 0) AS BIGINT) AS recall_ppm
FROM (SELECT *, row_number() OVER (ORDER BY f1_ppm DESC, bin) AS rn FROM scored)
WHERE rn = 1
"""


@register("ml_best_f1_threshold", BEST_F1_ORACLE)
def ml_best_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.lit(KS_BINS - 1), F.floor(F.col("value") * KS_BIN_SCALE)
    ).cast("int")
    binned = (
        e.select((F.col("event_type") == "purchase").alias("pos"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count_if(F.col("pos")).cast("bigint").alias("np"),
            F.count_if(~F.col("pos")).cast("bigint").alias("nn"),
        )
    )
    wtop = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = (
        binned.select(
            "bin",
            F.sum("np").over(wtop).cast("bigint").alias("tp"),
            F.sum("nn").over(wtop).cast("bigint").alias("fp"),
            F.sum("np").over(wall).cast("bigint").alias("p"),
        )
        .selectExpr(
            "bin", "tp", "fp", "p - tp AS fn",
            "cast(2000000 * tp div nullif(2 * tp + fp + (p - tp), 0) as bigint) AS f1_ppm",
        )
    )
    wr = Window.orderBy(F.desc("f1_ppm"), "bin")
    return (
        scored.select("*", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") == 1)
        .selectExpr(
            "bin AS best_bin", "tp", "fp", "fn", "f1_ppm",
            "cast(1000000 * tp div nullif(tp + fp, 0) as bigint) AS precision_ppm",
            "cast(1000000 * tp div nullif(tp + fn, 0) as bigint) AS recall_ppm",
        )
    )


# ---------------------------------------------------------------------------
# q_topn_with_other — top-N + OTHER rollup (the reporting primitive)
# ---------------------------------------------------------------------------
# Every dashboard's category widget: per nation, the top-3 part
# brands by revenue plus everything else collapsed into 'OTHER'.
# Rank over the BOUNDED (nation × brand) aggregate (never the fact
# table), conditional regroup, revenue in exact cents via the
# micro-unit accumulator idiom.

TOPN_OTHER_ORACLE = """
WITH rev AS (
  SELECT n_name,
         p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, p_brand
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY cents DESC, p_brand) AS rn
  FROM rev
)
SELECT n_name,
       CASE WHEN rn <= 3 THEN p_brand ELSE 'OTHER' END AS brand_bucket,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_brands
FROM ranked
GROUP BY n_name, CASE WHEN rn <= 3 THEN p_brand ELSE 'OTHER' END
ORDER BY n_name, revenue_cents DESC, brand_bucket
"""


@register("q_topn_with_other", TOPN_OTHER_ORACLE)
def q_topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wr = Window.partitionBy("n_name").orderBy(F.desc("cents"), "p_brand")
    bucketed = rev.select(
        "n_name", "cents",
        F.when(F.row_number().over(wr) <= 3, F.col("p_brand"))
        .otherwise(F.lit("OTHER"))
        .alias("brand_bucket"),
    )
    return (
        bucketed.groupBy("n_name", "brand_bucket")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        )
        .orderBy("n_name", F.desc("revenue_cents"), "brand_bucket")
    )


# ---------------------------------------------------------------------------
# ml_kfold_balance — deterministic k-fold assignment + balance audit
# ---------------------------------------------------------------------------
# CV folds that any engine reproduces from the data alone: fold =
# first hex digit of md5(seed:event_id) mod 5 (the portable sampling
# idiom). The readout is the audit run before trusting CV numbers:
# per fold, rows and positive-class share in exact ppm — folds whose
# class balance drifts flag a leaky or skewed split. Map-side
# assignment, one bounded rollup; no shuffle of anything but the
# 5-row aggregate.

KFOLD_SEED = 11
KFOLD_K = 5

KFOLD_ORACLE = f"""
WITH assigned AS (
  SELECT (CAST(('0x' || substr(md5('{KFOLD_SEED}:' || CAST(event_id AS VARCHAR)), 1, 4)) AS INTEGER)) % {KFOLD_K} AS fold,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(1000000 * SUM(pos) // COUNT(*) AS BIGINT) AS pos_share_ppm
FROM assigned GROUP BY fold ORDER BY fold
"""


@register("ml_kfold_balance", KFOLD_ORACLE)
def ml_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{KFOLD_SEED}:"), F.col("event_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("int")
        % KFOLD_K
    )
    return (
        e.select(
            fold.alias("fold"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
        .selectExpr(
            "fold", "n_rows", "n_pos",
            "cast(1000000 * n_pos div n_rows as bigint) AS pos_share_ppm",
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# ev_type_affinity_pmi — event-type co-occurrence lift across users
# ---------------------------------------------------------------------------
# "Which behaviors travel together?" — for every event-type pair, the
# share of users doing BOTH vs the independence expectation:
# lift = P(x,y)/(P(x)P(y)) = c_xy·N/(c_x·c_y), in exact ppm with the
# products in DECIMAL (c_x·c_y·1e6 passes int64 around sf10 —
# convention headroom). The user×type relation dedups in ONE shuffle;
# pairs self-join on user_id bounded by the 5-type domain (≤10 pairs
# per user); the text_collocation_lift idiom at the behavior grain.

TYPE_PMI_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
cx AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ut GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT t1, t2, c_xy, x.c AS c_x, y.c AS c_y, n_users,
       CAST(1000000 * CAST(c_xy AS HUGEINT) * n_users
            // (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS lift_ppm
FROM pairs JOIN cx x ON x.event_type = t1
           JOIN cx y ON y.event_type = t2, n
ORDER BY t1, t2
"""


@register("ev_type_affinity_pmi", TYPE_PMI_ORACLE)
def ev_type_affinity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n = ut.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    cx = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    b = ut.select(F.col("user_id").alias("uid2"), F.col("event_type").alias("t2"))
    pairs = (
        ut.join(b, (F.col("user_id") == F.col("uid2"))
                & (F.col("event_type") < F.col("t2")))
        .groupBy(F.col("event_type").alias("t1"), "t2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    )
    return (
        pairs.join(F.broadcast(cx.selectExpr("event_type AS t1", "c AS c_x")), "t1")
        .join(F.broadcast(cx.selectExpr("event_type AS t2", "c AS c_y")), "t2")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "t1", "t2", "c_xy", "c_x", "c_y", "n_users",
            "cast(1000000 * cast(c_xy as decimal(19,0)) * cast(n_users as decimal(19,0))"
            " div (cast(c_x as decimal(19,0)) * cast(c_y as decimal(19,0))) as bigint)"
            " AS lift_ppm",
        )
        .orderBy("t1", "t2")
    )


# ---------------------------------------------------------------------------
# ts_intervention_did — difference-in-differences cell table
# ---------------------------------------------------------------------------
# The causal-readout shape: treatment (odd user_id — the stand-in for
# an assignment column) × period (days after the observed midpoint),
# purchase-cents-per-event means per cell, and the DiD estimate. All
# four cells are exact (sum cents, n); the midpoint is a data-derived
# 1-row broadcast (div 2 on epoch days — engine-neutral); DiD is ONE
# fixed-sequence double expression over 8 exact integers.

DID_ORACLE = """
WITH days AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS di,
         user_id % 2 = 1 AS treated,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), mid AS (
  SELECT (MIN(di) + MAX(di)) // 2 AS m FROM days
), cells AS (
  SELECT treated, di > m AS post,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM days, mid GROUP BY 1, 2
)
SELECT treated, post, sum_cents, n,
       CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
       (SELECT (CAST(tp.sum_cents AS DOUBLE) / tp.n - CAST(tr.sum_cents AS DOUBLE) / tr.n)
             - (CAST(cp.sum_cents AS DOUBLE) / cp.n - CAST(cr.sum_cents AS DOUBLE) / cr.n)
        FROM cells tp, cells tr, cells cp, cells cr
        WHERE tp.treated AND tp.post AND tr.treated AND NOT tr.post
          AND NOT cp.treated AND cp.post AND NOT cr.treated AND NOT cr.post)
         AS did_cents
FROM cells
ORDER BY treated, post
"""


@register("ts_intervention_did", DID_ORACLE)
def ts_intervention_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    days = e.where(F.col("event_type") == "purchase").select(
        F.expr("datediff(cast(ts as date), date'1970-01-01')").cast("bigint").alias("di"),
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    mid = days.agg(F.expr("(min(di) + max(di)) div 2").alias("m"))
    cells = (
        days.crossJoin(F.broadcast(mid))
        .groupBy("treated", (F.col("di") > F.col("m")).alias("post"))
        .agg(
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pick = lambda t, p: F.max(  # noqa: E731 — cell extractor over the 4-row frame
        F.when(
            (F.col("treated") == t) & (F.col("post") == p),
            F.col("sum_cents").cast("double") / F.col("n").cast("double"),
        )
    ).over(wall)
    return (
        cells.select(
            "treated", "post", "sum_cents", "n",
            (F.col("sum_cents").cast("double") / F.col("n").cast("double")).alias("mean_cents"),
            (
                (pick(True, True) - pick(True, False))
                - (pick(False, True) - pick(False, False))
            ).alias("did_cents"),
        )
        .orderBy("treated", "post")
    )


# ---------------------------------------------------------------------------
# emb_norm_histogram — embedding L2-norm distribution (quality screen)
# ---------------------------------------------------------------------------
# The first screen run on a new embedding drop: degenerate all-zero
# vectors, un-normalized batches, and fp-overflow spikes all jump out
# of the norm histogram. Determinism: each component quantizes to
# round(x·1e6) (int — the emb_quantize idiom), the squared norm is an
# EXACT integer sum (components ≤ 64, values |x| ≤ ~1 → Σ ≤ ~6e13),
# and buckets are its bit-length (log2 bands, log-free). Map-only
# until the ≤64-row histogram rollup.

NORM_HIST_ORACLE = """
WITH norms AS (
  -- CAST to DOUBLE[] before the multiply (the KNN-oracle idiom):
  -- float32 * 1e6 rounds differently than double * 1e6
  SELECT CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(round(x * 1000000) AS BIGINT) * CAST(round(x * 1000000) AS BIGINT)))
         AS BIGINT) AS norm2_scaled
  FROM embeddings
)
SELECT CASE WHEN norm2_scaled = 0 THEN 0
            ELSE CAST(length(printf('%b', norm2_scaled)) AS BIGINT) END AS norm2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(norm2_scaled) AS BIGINT) AS min_norm2,
       CAST(MAX(norm2_scaled) AS BIGINT) AS max_norm2
FROM norms GROUP BY 1 ORDER BY 1
"""


@register("emb_norm_histogram", NORM_HIST_ORACLE)
def emb_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = "cast(round(cast(x as double) * 1000000) as bigint)"
    norm2 = F.expr(
        f"aggregate(embedding, cast(0 as bigint), (acc, x) -> acc + {q} * {q})"
    )
    bucket = F.when(F.col("norm2_scaled") == 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("norm2_scaled").cast("string"), 10, 2)).cast("bigint")
    )
    return (
        emb.select(norm2.alias("norm2_scaled"))
        .select(bucket.alias("norm2_bucket"), "norm2_scaled")
        .groupBy("norm2_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.min("norm2_scaled").cast("bigint").alias("min_norm2"),
            F.max("norm2_scaled").cast("bigint").alias("max_norm2"),
        )
        .orderBy("norm2_bucket")
    )


# ---------------------------------------------------------------------------
# q_rank_stability_spearman — rank correlation between two periods
# ---------------------------------------------------------------------------
# "Did the brand leaderboard actually change, or just wobble?" —
# Spearman's ρ between brand revenue ranks in the first and second
# half of the order window. Ranks are integers (deterministic
# (cents DESC, brand) tie-break); ρ = 1 − 6·Σd²/(n(n²−1)) is an exact
# rational, shipped in exact ppm via DECIMAL products (Σd² ≤ n³).
# Every window runs over the bounded (period × brand) aggregate.

SPEARMAN_ORACLE = """
WITH mid AS (
  SELECT CAST((MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
             + MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')) // 2 AS BIGINT) AS m
  FROM orders
), rev AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) > m AS later,
         p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN part ON l_partkey = p_partkey, mid
  GROUP BY 1, 2
), ranked AS (
  SELECT later, p_brand,
         CAST(row_number() OVER (PARTITION BY later ORDER BY cents DESC, p_brand) AS BIGINT) AS rnk
  FROM rev
), joined AS (
  SELECT a.p_brand, a.rnk AS r1, b.rnk AS r2
  FROM ranked a JOIN ranked b ON a.p_brand = b.p_brand AND NOT a.later AND b.later
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
       CAST(1000000 - 6000000 * CAST(SUM((r1 - r2) * (r1 - r2)) AS HUGEINT)
            // (CAST(COUNT(*) AS HUGEINT) * (COUNT(*) * COUNT(*) - 1)) AS BIGINT)
         AS spearman_ppm
FROM joined
"""


@register("q_rank_stability_spearman", SPEARMAN_ORACLE)
def q_rank_stability_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    di = F.expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("bigint")
    mid = o.agg(
        F.expr(
            "cast((min(datediff(cast(o_orderdate as date), date'1970-01-01'))"
            " + max(datediff(cast(o_orderdate as date), date'1970-01-01'))) div 2 as bigint)"
        ).alias("m")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (
        o.crossJoin(F.broadcast(mid))
        .select("o_orderkey", (di > F.col("m")).alias("later"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("later", "p_brand")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wr = Window.partitionBy("later").orderBy(F.desc("cents"), "p_brand")
    ranked = rev.select("later", "p_brand", F.row_number().over(wr).cast("bigint").alias("rnk"))
    a = ranked.where(~F.col("later")).select("p_brand", F.col("rnk").alias("r1"))
    b = ranked.where(F.col("later")).select(F.col("p_brand").alias("pb2"), F.col("rnk").alias("r2"))
    joined = a.join(b, F.col("p_brand") == F.col("pb2")).select("r1", "r2")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
        .cast("bigint")
        .alias("sum_d2"),
    ).selectExpr(
        "n_brands", "sum_d2",
        "cast(1000000 - 6000000 * cast(sum_d2 as decimal(19,0))"
        " div (cast(n_brands as decimal(19,0)) * (n_brands * n_brands - 1)) as bigint)"
        " AS spearman_ppm",
    )


# ---------------------------------------------------------------------------
# ts_local_peaks — local-maxima detection on the day grid
# ---------------------------------------------------------------------------
# The alert-shaping readout: how spiky is each series? A day is a
# STRICT local peak when its cents beat both neighbors (lag/lead over
# the bounded day grid; edges have no neighbor and never qualify).
# Exact integers end to end.

LOCAL_PEAKS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), flagged AS (
  SELECT event_type, cents,
         cents > lag(cents)  OVER (PARTITION BY event_type ORDER BY d)
     AND cents > lead(cents) OVER (PARTITION BY event_type ORDER BY d) AS is_peak
  FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(*) FILTER (is_peak) AS BIGINT) AS n_peaks,
       CAST(MAX(CASE WHEN is_peak THEN cents END) AS BIGINT) AS max_peak_cents
FROM flagged GROUP BY event_type ORDER BY event_type
"""


@register("ts_local_peaks", LOCAL_PEAKS_ORACLE)
def ts_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("d")
    flagged = daily.select(
        "event_type", "cents",
        (
            (F.col("cents") > F.lag("cents").over(w))
            & (F.col("cents") > F.lead("cents").over(w))
        ).alias("is_peak"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.count_if(F.col("is_peak")).cast("bigint").alias("n_peaks"),
            F.max(F.when(F.col("is_peak"), F.col("cents"))).cast("bigint").alias("max_peak_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ev_attribution_position — U-shaped (position-based) credit
# ---------------------------------------------------------------------------
# Completes the attribution family (linear olap13, time-decay
# olap17): 40/20/40 position-based credit — first and last touch get
# 400000 ppm each, the middles split 200000 ppm by floor division
# (n=1 → 1e6, n=2 → 500000/500000). Same user-equi-join touch
# relation as the linear entry; position ranks ride ONE window pair
# on purchase_id over the touch relation (bounded per purchase by the
# 24 h window).

POSITION_ATTRIB_ORACLE = """
WITH views AS (
  SELECT event_id AS view_id, user_id, ts AS v_ts FROM events WHERE event_type = 'view'
), purch AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT p.purchase_id, v.view_id, v.v_ts
  FROM purch p JOIN views v USING (user_id)
  WHERE v.v_ts < p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 24 HOURS
), ranked AS (
  SELECT purchase_id, view_id,
         row_number() OVER (PARTITION BY purchase_id ORDER BY v_ts, view_id) AS pos,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n
  FROM touch
)
SELECT purchase_id, view_id, CAST(n AS BIGINT) AS n_touches,
       CAST(CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN 400000
                 ELSE 200000 // (n - 2) END AS BIGINT) AS credit_ppm
FROM ranked
ORDER BY purchase_id, view_id
"""


@register("ev_attribution_position", POSITION_ATTRIB_ORACLE)
def ev_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    touch = purch.join(views, "user_id").where(
        (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
    )
    wp = Window.partitionBy("purchase_id").orderBy("v_ts", "view_id")
    wn = Window.partitionBy("purchase_id")
    ranked = touch.select(
        "purchase_id", "view_id",
        F.row_number().over(wp).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(400000))
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    return (
        ranked.select(
            "purchase_id", "view_id",
            F.col("n").cast("bigint").alias("n_touches"),
            credit.cast("bigint").alias("credit_ppm"),
        )
        .orderBy("purchase_id", "view_id")
    )


# ---------------------------------------------------------------------------
# emb_dim_stats — per-dimension moment profile (dead-dim detection)
# ---------------------------------------------------------------------------
# The other embedding-QA screen next to emb_norm_histogram: a
# dimension whose variance collapses is dead weight (or a projection
# bug). Components quantize to exact micro-ints through DOUBLE (rule
# 25), per-dim Σx and Σx² are exact integer/DECIMAL sums keyed by the
# dimension INDEX (posexplode ≡ UNNEST WITH ORDINALITY), and variance
# is one fixed-sequence double expression — 64 output rows.

DIM_STATS_ORACLE = """
WITH comps AS (
  -- this DuckDB build has no UNNEST WITH ORDINALITY; the indexed
  -- two-arg list_transform lambda (x, i) carries the 1-based position
  SELECT u.dim, u.q
  FROM embeddings,
       UNNEST(list_transform(CAST(embedding AS DOUBLE[]),
              (x, i) -> struct_pack(dim := i - 1,
                                    q := CAST(round(x * 1000000) AS BIGINT)))) AS t(u)
), m AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         SUM(CAST(q AS HUGEINT) * q) AS s2
  FROM comps GROUP BY dim
)
SELECT dim, n, s1,
       (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_micro2
FROM m
ORDER BY dim
"""


@register("emb_dim_stats", DIM_STATS_ORACLE)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    ).select(
        "dim", F.round(F.col("x") * 1000000).cast("bigint").alias("q")
    )
    m = comps.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q")).cast("decimal(38,0)").alias("s2"),
    )
    n_d, s1_d, s2_d = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    return m.select(
        F.col("dim").cast("bigint").alias("dim"), "n", "s1",
        ((n_d * s2_d - s1_d * s1_d) / (n_d * n_d)).alias("var_micro2"),
    ).orderBy("dim")
