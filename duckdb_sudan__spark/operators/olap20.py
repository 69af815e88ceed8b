"""r11 wave 12: classifier-agreement / trend-test / ranking-quality
metrics + window-semantics parity.

Closes the next tier of the ML-eval + time-series families (SURVEY
§2): the Matthews correlation and Youden's J that accompany every
confusion matrix, the Mann-Kendall trend test analysts run before
trusting a slope, NDCG for retrieval pipelines (the repo already ships
BM25/TF-IDF/RRF rankers — this is how their owners score them),
time-to-second-event activation latency, NTILE quartile parity, and
Simpson's repeat-rate diversity over the corpus vocabulary.

Determinism (DETERMINISM.md): exact integer/ppm arithmetic through
every shuffle; doubles only as ONE terminal closed-form expression
with the identical IEEE op sequence on both engines (sqrt and cast
are correctly rounded — agg_regression's idiom, olap5.py:110); NDCG's
log2 discounts are precomputed on the driver and embedded as the SAME
micro-unit literals in the Spark plan and the oracle SQL, so no
engine libm value is ever hashed (the agg_entropy_bits rule, tightened:
not even quantized engine logs).

Scale notes (100 TB): every entry collapses the fact table to a
BOUNDED relation first — a 1-row cell aggregate, the calendar-bounded
day grid, a 20-row top-k, per-(lang,token) vocabulary — with map-side
combine; windows and self-joins only ever run over those bounded
relations (the sample_exact_stratified rule). The one self-join
(Mann-Kendall pairs) is quadratic in DAYS, not rows: ~2.4k days →
~3M pairs regardless of SF, broadcast on one side.

Reference parity: the reference (a DuckDB extension) gets these
shapes from DuckDB's SQL surface; cites are to the composing entries
in this repo (olap18.py cells, text.py tokenization).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.operators.olap18 import CONFUSION_TAU
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# ml_mcc_binary — Matthews correlation + Youden's J for the τ classifier
# ---------------------------------------------------------------------------
# Same cells as ml_confusion_matrix (olap18.py:60; ground truth =
# purchase, prediction = value ≥ τ). MCC's denominator is the sqrt of
# a 4-way product that overflows ANY fixed-width integer at corpus
# scale ((tp+fp)… each ~1e12 rows at 100 TB → product ~1e48), so the
# identity sqrt(abcd) = sqrt(a)·sqrt(b)·sqrt(c)·sqrt(d) keeps every
# intermediate in double range; the whole MCC is one literal-identical
# IEEE expression on both engines (each cast/multiply/sqrt correctly
# rounded → bit-equal). Youden's J stays in integer ppm.

_MCC_EXPR = (
    "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
    " / nullif(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))"
    " * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)), 0.0)"
)

MCC_ORACLE = f"""
WITH cells AS (
  SELECT
    CAST(COUNT(*) FILTER (event_type = 'purchase' AND value >= {CONFUSION_TAU}) AS BIGINT) AS tp,
    CAST(COUNT(*) FILTER (event_type <> 'purchase' AND value >= {CONFUSION_TAU}) AS BIGINT) AS fp,
    CAST(COUNT(*) FILTER (event_type = 'purchase' AND value < {CONFUSION_TAU}) AS BIGINT) AS fn,
    CAST(COUNT(*) FILTER (event_type <> 'purchase' AND value < {CONFUSION_TAU}) AS BIGINT) AS tn
  FROM events
)
SELECT tp, fp, fn, tn,
       {_MCC_EXPR} AS mcc,
       (1000000 * tp // NULLIF(tp + fn, 0))
     + (1000000 * tn // NULLIF(tn + fp, 0)) - 1000000 AS youden_j_ppm
FROM cells
"""


@register("ml_mcc_binary", MCC_ORACLE)
def ml_mcc_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pos = F.col("event_type") == "purchase"
    pred = F.col("value") >= CONFUSION_TAU
    cells = e.agg(
        F.count_if(pos & pred).cast("bigint").alias("tp"),
        F.count_if(~pos & pred).cast("bigint").alias("fp"),
        F.count_if(pos & ~pred).cast("bigint").alias("fn"),
        F.count_if(~pos & ~pred).cast("bigint").alias("tn"),
    )
    return cells.selectExpr(
        "tp", "fp", "fn", "tn",
        f"{_MCC_EXPR} AS mcc",
        "(1000000 * tp div nullif(tp + fn, 0))"
        " + (1000000 * tn div nullif(tn + fp, 0)) - 1000000 AS youden_j_ppm",
    )


# ---------------------------------------------------------------------------
# ts_mann_kendall — non-parametric trend test on the daily revenue grid
# ---------------------------------------------------------------------------
# S = Σ_{i<j} sign(x_j − x_i) over the day-grid of exact revenue cents,
# with the tie-corrected variance numerator 18·Var(S) =
# n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5) kept ×18 so it stays integer.
# The pair join is quadratic in the CALENDAR (≈2.4k days → ~3M pairs at
# any SF), never in rows; the grid is broadcast. sign() via CASE — no
# engine signum (Spark's returns DOUBLE). The grid is .cache()d: four
# consumers (both pair sides, ties, n) would otherwise each rescan the
# fact table — AQE does NOT reuse exchanges across independent
# consumers (the materialized-CTE convention, cte_reused_aggregate).

MANN_KENDALL_ORACLE = """
WITH grid AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM grid a JOIN grid b ON a.day < b.day
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM grid GROUP BY cents) WHERE t > 1
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM grid
)
SELECT n_days, s_stat,
       n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var_s_x18
FROM s, ties, n
"""


@register("ts_mann_kendall", MANN_KENDALL_ORACLE)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    grid = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("cents"))
        .cache()  # calendar-bounded (~2.4k rows); 4 consumers, 1 fact scan
    )
    a = grid.alias("a")
    b = grid.alias("b")
    s = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s_stat")
        )
    )
    ties = (
        grid.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).cast("bigint").alias("tie_term")
        )
    )
    n = grid.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        s.crossJoin(ties).crossJoin(n)  # three 1-row scalars
        .selectExpr(
            "n_days", "s_stat",
            "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var_s_x18",
        )
    )


# ---------------------------------------------------------------------------
# ev_time_to_nth_event — activation latency (1st→2nd, 1st→3rd event)
# ---------------------------------------------------------------------------
# Product teams read "time to second visit" as the activation metric.
# One (user) window over (ts, event_id) — deterministic tie-break —
# collapsed map-side to ≤3 timestamps per user via conditional MIN, so
# the shuffle carries 3 BIGINTs per user regardless of their event
# count; the final aggregate is one row. Exact epoch_us ≡ unix_micros
# (the memory-catalogued ±1s second-truncation pitfall). Non-negative
# gaps → div ≡ //.

TIME_TO_NTH_ORACLE = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), per_user AS (
  SELECT user_id,
         MIN(CASE WHEN rn = 1 THEN us END) AS t1,
         MIN(CASE WHEN rn = 2 THEN us END) AS t2,
         MIN(CASE WHEN rn = 3 THEN us END) AS t3
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t2) AS BIGINT) AS n_users_2plus,
       CAST(COUNT(t3) AS BIGINT) AS n_users_3plus,
       CAST(SUM(t2 - t1) AS BIGINT) AS sum_gap12_us,
       CAST(MAX(t2 - t1) AS BIGINT) AS max_gap12_us,
       CAST(SUM(t2 - t1) // NULLIF(COUNT(t2), 0) AS BIGINT) AS avg_gap12_us,
       CAST(SUM(t3 - t1) AS BIGINT) AS sum_gap13_us,
       CAST(SUM(t3 - t1) // NULLIF(COUNT(t3), 0) AS BIGINT) AS avg_gap13_us
FROM per_user
"""


@register("ev_time_to_nth_event", TIME_TO_NTH_ORACLE)
def ev_time_to_nth_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 3)
    per_user = ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("us"))).alias("t1"),
        F.min(F.when(F.col("rn") == 2, F.col("us"))).alias("t2"),
        F.min(F.when(F.col("rn") == 3, F.col("us"))).alias("t3"),
    )
    return per_user.selectExpr(
        "CAST(COUNT(*) AS BIGINT) AS n_users",
        "CAST(COUNT(t2) AS BIGINT) AS n_users_2plus",
        "CAST(COUNT(t3) AS BIGINT) AS n_users_3plus",
        "CAST(SUM(t2 - t1) AS BIGINT) AS sum_gap12_us",
        "CAST(MAX(t2 - t1) AS BIGINT) AS max_gap12_us",
        "CAST(SUM(t2 - t1) div nullif(COUNT(t2), 0) AS BIGINT) AS avg_gap12_us",
        "CAST(SUM(t3 - t1) AS BIGINT) AS sum_gap13_us",
        "CAST(SUM(t3 - t1) div nullif(COUNT(t3), 0) AS BIGINT) AS avg_gap13_us",
    )


# ---------------------------------------------------------------------------
# win_ntile_parity — NTILE quartiles per market segment, cell-exact
# ---------------------------------------------------------------------------
# Pins the SQL-standard NTILE remainder rule (first n mod k tiles get
# the extra row) across engines, on a fully deterministic order
# (exact cents DESC, custkey). The window runs over customers per
# segment; output is the 5×4 quartile summary.

NTILE_ORACLE = """
WITH t AS (
  SELECT c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         c_custkey,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey) AS tile
  FROM customer
)
SELECT c_mktsegment, tile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
       CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
       CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
FROM t GROUP BY c_mktsegment, tile ORDER BY c_mktsegment, tile
"""


@register("win_ntile_parity", NTILE_ORACLE)
def win_ntile_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("bigint")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("bal_cents"), "c_custkey")
    t = c.select(
        "c_mktsegment", bal.alias("bal_cents"), "c_custkey"
    ).withColumn("tile", F.ntile(4).over(w))
    return (
        t.groupBy("c_mktsegment", "tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("bal_cents").cast("bigint").alias("sum_bal_cents"),
            F.min("c_custkey").cast("bigint").alias("min_custkey"),
            F.max("c_custkey").cast("bigint").alias("max_custkey"),
        )
        .orderBy("c_mktsegment", "tile")
    )


# ---------------------------------------------------------------------------
# text_simpson_diversity — repeat-rate (Simpson's λ) per language
# ---------------------------------------------------------------------------
# λ = Σ c(c−1) / (N(N−1)) — the probability two tokens drawn without
# replacement are the same type; 1/λ is the "effective vocabulary
# size" corpus linguists quote next to TTR (text_ttr_lexical_diversity,
# olap18.py). Computed at VOCABULARY grain (the text_vocab_topk rule —
# the token stream collapses map-side to (lang, token, c)); Σ c(c−1)
# multiplies in HUGEINT/DECIMAL(38,0) because a 100 TB corpus's top
# token count squares past int64. Exact integer ppm.

SIMPSON_ORACLE = r"""
WITH vocab AS (
  SELECT lang, t.token AS token, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')) AS t(token)
  GROUP BY lang, t.token
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(1000000 * SUM(CAST(c AS HUGEINT) * (c - 1))
            // NULLIF(CAST(SUM(c) AS HUGEINT) * (SUM(c) - 1), 0) AS BIGINT) AS simpson_ppm
FROM vocab GROUP BY lang ORDER BY lang
"""


@register("text_simpson_diversity", SIMPSON_ORACLE)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("token"),
    )
    vocab = tokens.groupBy("lang", "token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        vocab.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)).alias("pairs_same"),
        )
        .selectExpr(
            "lang", "n_tokens", "n_types",
            "CAST(1000000 * pairs_same div nullif(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1), 0)"
            " AS BIGINT) AS simpson_ppm",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# ml_ndcg_at_k — ranking quality of the value-score ordering
# ---------------------------------------------------------------------------
# NDCG@20 treating `value` as the ranker's score and purchase as the
# binary relevance label — how the repo's BM25/TF-IDF/RRF retrieval
# entries (text2.py) get scored by their owners. The log2 position
# discounts are precomputed HERE on the driver (math.log2 at module
# import) and embedded as the SAME micro-unit integer literals in the
# Spark plan and the oracle SQL — no engine libm output is ever hashed
# (DETERMINISM rule 9, tightened). Top-k is orderBy(...).limit(k) —
# Spark's TakeOrdered, a per-partition heap + driver merge of k rows,
# scale-safe at any SF; the rank window then runs over 20 rows. IDCG
# covers the min(k, P) ideal prefix via a ≤20-row join against the
# positives count.

NDCG_K = 20
# disc[i] = round(1e6 / log2(i + 1)) for 1-based rank i — exact literals.
_NDCG_DISC = [(i, round(1_000_000 / math.log2(i + 1))) for i in range(1, NDCG_K + 1)]
_DISC_SQL_VALUES = ", ".join(f"({i}, {d})" for i, d in _NDCG_DISC)

NDCG_ORACLE = f"""
WITH disc(rnk, disc_micro) AS (
  VALUES {_DISC_SQL_VALUES}
), topk AS (
  SELECT event_type,
         row_number() OVER (ORDER BY value DESC, event_id) AS rnk
  FROM events
  ORDER BY value DESC, event_id LIMIT {NDCG_K}
), pos AS (
  SELECT CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS p FROM events
), dcg AS (
  SELECT CAST(SUM(CASE WHEN t.event_type = 'purchase' THEN d.disc_micro ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM topk t JOIN disc d ON t.rnk = d.rnk
), idcg AS (
  SELECT CAST(SUM(d.disc_micro) AS BIGINT) AS idcg_micro
  FROM disc d, pos WHERE d.rnk <= least({NDCG_K}, pos.p)
)
SELECT p AS n_pos, dcg_micro, idcg_micro,
       1000000 * dcg_micro // NULLIF(idcg_micro, 0) AS ndcg_ppm
FROM dcg, idcg, pos
"""


@register("ml_ndcg_at_k", NDCG_ORACLE)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    disc = local_frame(spark, _NDCG_DISC, "rnk INT, disc_micro BIGINT")
    topk = (
        e.select("event_type", "value", "event_id")
        .orderBy(F.desc("value"), "event_id")
        .limit(NDCG_K)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("value"), "event_id"))
        )
    )
    dcg = (
        topk.join(F.broadcast(disc), "rnk")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("disc_micro")).otherwise(0)
            ).cast("bigint").alias("dcg_micro")
        )
    )
    pos = e.agg(F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("p"))
    idcg = (
        disc.crossJoin(F.broadcast(pos))  # 20 rows x 1-row scalar
        .where(F.col("rnk") <= F.least(F.lit(NDCG_K), F.col("p")))
        .agg(F.sum("disc_micro").cast("bigint").alias("idcg_micro"))
    )
    return (
        dcg.crossJoin(idcg).crossJoin(pos)  # 1-row scalars
        .selectExpr(
            "p AS n_pos", "dcg_micro", "idcg_micro",
            "1000000 * dcg_micro div nullif(idcg_micro, 0) AS ndcg_ppm",
        )
    )
