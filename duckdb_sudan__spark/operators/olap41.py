"""r14 wave (part 2): degree assortativity, the two-sample log-rank
test, Qini uplift buckets, and the ISO-week engine-parity grid.

- graph_degree_assortativity is Newman's degree-assortativity
  coefficient over the oracled k-NN similarity graph (undirected
  distinct edge set, both orientations counted): the Pearson
  correlation of endpoint degrees — do high-degree hubs attach to
  hubs (r > 0) or to leaves (r < 0)?
- ml_logrank_test is the two-sample log-rank (Mantel–Cox) test on
  the right-censored time-to-first-purchase lifetimes (the
  ev_survival_km_censored clock), groups split by user parity: the
  standard A/B comparison of survival curves, which no plain mean
  comparison can do under censoring.
- ev_uplift_qini_buckets is the uplift-modeling Qini table:
  treatment by user parity, score buckets from the (bounded) click
  count, per-bucket treated/control conversion and the cumulative
  Qini statistic by descending score.
- dt_iso_week_parity pins the engines' ISO-8601 calendar functions
  against each other on a 144-date year-boundary grid (Spark
  YEAROFWEEK/weekofyear/weekday vs DuckDB isoyear/week/isodow) plus
  the pure epoch-day weekday arithmetic (rule 19) as an in-row
  cross-check — probed green on every date before registration.

Determinism: degrees/counts are exact int64; assortativity's
cancellation M·Sxy − Sx² widens each factor to DECIMAL(19,0) before
multiplying (rule 23) and routes the (int64-sized) difference through
BIGINT→DOUBLE (rule 30); log-rank and Qini per-row rational terms are
micro-quantized with one round(1e6·x) each (rule 2b) and summed as
BIGINT — no double SUM over rows (rule 3); z/chi2/r are shared IEEE
trees; every /0 case (regular graph, empty risk set, empty control
cum) is CASE-guarded identically; dates emit as TIMESTAMP (rule 4);
ppm emissions are BIGINT div BIGINT (rule 29).

Scale notes (100 TB): assortativity inherits emb_knn_graph's tiled
Gram kernel and adds one degree aggregate plus two broadcast-joined
edge orientations, reduced to a 1-row select; log-rank reduces events
at user grain, then every window runs on the bounded day-grid (≤
corpus span × 2 groups); Qini reduces at user grain to a ≤10-row
bucket table before its window; the ISO grid is a 144-row literal.

Reference parity: the reference ships min/max/avg-style SQL over its
provider tables (duckdb-sudan- src/sudan_extension.cpp:141-210);
these are the OLAP/stats layer a consumer runs on top, re-expressed
Spark-first per SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# persisted relations from the previous invocation, released at the
# next entry call (the graph.py _TRI_CACHE_HANDLES discipline)
_ASSORT_CACHE_HANDLES: list[DataFrame] = []

# ---------------------------------------------------------------------------
# graph_degree_assortativity — Newman's r over the k-NN graph
# ---------------------------------------------------------------------------

# shared IEEE tree over exact BIGINT moments (m = 2|E| orientations;
# by symmetry Sy = Sx and Syy = Sxx, so r = num/den with one tree)
_ASSORT_EXPRS = [
    "n_nodes",
    "n_edges",
    "m_orient",
    "sx", "sxy", "sxx",
    "num_big AS assort_num",
    "den_big AS assort_den",
    "CASE WHEN den_big <> 0"
    " THEN CAST(num_big AS DOUBLE) / CAST(den_big AS DOUBLE)"
    " ELSE CAST(NULL AS DOUBLE) END AS assortativity",
]

ASSORT_ORACLE = """
WITH knn AS ({knn}),
und AS (
  SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v FROM knn
), orient AS (
  SELECT u AS a, v AS b FROM und
  UNION ALL
  SELECT v AS a, u AS b FROM und
), deg AS (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM orient GROUP BY a
), ed AS (
  SELECT da.d AS dx, db.d AS dy
  FROM orient o JOIN deg da ON o.a = da.node JOIN deg db ON o.b = db.node
), mo AS (
  SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
         CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
         CAST(COUNT(*) AS BIGINT) AS m_orient,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx
  FROM ed
), fin AS (
  SELECT n_nodes, n_edges, m_orient, sx, sxy, sxx,
         CAST(CAST(m_orient AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
              - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS BIGINT) AS num_big,
         CAST(CAST(m_orient AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
              - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS BIGINT) AS den_big
  FROM mo
)
SELECT {exprs} FROM fin
"""


def _register_assortativity() -> None:
    from duckdb_sudan__spark.operators.similarity import KNN_GRAPH_ORACLE, emb_knn_graph

    oracle = ASSORT_ORACLE.format(knn=KNN_GRAPH_ORACLE, exprs=", ".join(_ASSORT_EXPRS))

    @register("graph_degree_assortativity", oracle)
    def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Degree assortativity over the oracled k-NN edge set. Edges
        come from emb_knn_graph (shared tiled Gram kernel); degrees
        are one hash aggregate; the moment reduction is a 1-row
        select. The degree dim joins back by broadcast — |V| is the
        embeddings table, small relative to the fact tables, and the
        plan degrades to a shuffle join past the broadcast threshold
        with no semantic change."""
        edges = emb_knn_graph(spark, sf_dir).select("id_a", "id_b")
        # r14: pin the undirected edge set — it feeds 4 compiled
        # branches (both orientation arms, the deg dim twice via ed's
        # joins, and the n_edges scalar); unpersisted, each branch
        # re-ran the whole Gram-kernel pipeline (25 compiled
        # exchanges). Same release discipline as _TRI_CACHE_HANDLES.
        while _ASSORT_CACHE_HANDLES:
            _ASSORT_CACHE_HANDLES.pop().unpersist()
        und = edges.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        ).distinct().persist()
        _ASSORT_CACHE_HANDLES.append(und)
        # materialize BEFORE the fan-out: the 4 consuming branches run
        # concurrently inside one action, and an unmaterialized persist
        # lets each stage race to compute the uncached Gram-kernel
        # partitions itself (measured: persist alone recovered nothing,
        # 4.2 s quiet; count-then-fan-out runs the kernel once)
        und.count()
        orient = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        deg = orient.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        )
        ed = (
            orient.join(deg.select(F.col("node").alias("a"), F.col("d").alias("dx")), ["a"])
            .join(deg.select(F.col("node").alias("b"), F.col("d").alias("dy")), ["b"])
            .select("dx", "dy")
        )
        nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        ne = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        mo = (
            ed.agg(
                F.count(F.lit(1)).cast("bigint").alias("m_orient"),
                F.sum("dx").cast("bigint").alias("sx"),
                F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
                F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
            )
            .crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(ne))
        )
        fin = mo.selectExpr(
            "n_nodes", "n_edges", "m_orient", "sx", "sxy", "sxx",
            "CAST(CAST(m_orient AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))"
            " - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS BIGINT) AS num_big",
            "CAST(CAST(m_orient AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))"
            " - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS BIGINT) AS den_big",
        )
        return fin.selectExpr(*_ASSORT_EXPRS)


_register_assortativity()


# ---------------------------------------------------------------------------
# ml_logrank_test — two-sample Mantel–Cox on censored lifetimes
# ---------------------------------------------------------------------------

# per-event-time rational terms, micro-quantized ONCE each (rule 2b):
# identical expression text on both engines, inputs are exact ints
_LR_OE = (
    "CAST(round(1000000.0 * (CAST(d1 AS DOUBLE)"
    " - CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)"
)
_LR_V = (
    "CASE WHEN n > 1 THEN CAST(round(1000000.0 *"
    " (CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)))) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_LR_FIN = [
    "n_times",
    "d_total",
    "d1_total",
    "oe_micro",
    "v_micro",
    "CASE WHEN v_micro > 0"
    " THEN (CAST(oe_micro AS DOUBLE) / 1000000.0)"
    " / SQRT(CAST(v_micro AS DOUBLE) / 1000000.0)"
    " ELSE CAST(NULL AS DOUBLE) END AS logrank_z",
    "CASE WHEN v_micro > 0"
    " THEN ((CAST(oe_micro AS DOUBLE) / 1000000.0)"
    " / SQRT(CAST(v_micro AS DOUBLE) / 1000000.0))"
    " * ((CAST(oe_micro AS DOUBLE) / 1000000.0)"
    " / SQRT(CAST(v_micro AS DOUBLE) / 1000000.0))"
    " ELSE CAST(NULL AS DOUBLE) END AS logrank_chi2",
]

LOGRANK_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS grp,
         MIN(CAST(ts AS DATE)) AS first_day,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS fp_day
  FROM events GROUP BY user_id
), horizon AS (
  SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
), durs AS (
  SELECT grp,
         CAST(CASE WHEN fp_day IS NOT NULL
                   THEN date_diff('day', first_day, fp_day)
                   ELSE date_diff('day', first_day, max_day) END AS BIGINT) AS t,
         CASE WHEN fp_day IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM per_user, horizon
), grid AS (
  SELECT t,
         CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN grp = 1 THEN is_event ELSE 0 END) AS BIGINT) AS d1,
         CAST(COUNT(*) AS BIGINT) AS leave_all,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS leave_1
  FROM durs GROUP BY t
), risk AS (
  SELECT t, d, d1,
         CAST(SUM(leave_all) OVER (ORDER BY t DESC) AS BIGINT) AS n,
         CAST(SUM(leave_1) OVER (ORDER BY t DESC) AS BIGINT) AS n1
  FROM grid
), terms AS (
  SELECT t, d, d1, n, n1,
         {_LR_OE} AS q_oe,
         {_LR_V} AS q_v
  FROM risk WHERE d > 0
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
         CAST(SUM(d) AS BIGINT) AS d_total,
         CAST(SUM(d1) AS BIGINT) AS d1_total,
         CAST(SUM(q_oe) AS BIGINT) AS oe_micro,
         CAST(SUM(q_v) AS BIGINT) AS v_micro
  FROM terms
)
SELECT {", ".join(_LR_FIN)} FROM agg
"""


@register("ml_logrank_test", LOGRANK_ORACLE)
def ml_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank on the censored time-to-first-purchase
    clock (groups: user parity). The stream reduces at user grain
    map-side; risk sets are DESC cumulative sums over the bounded
    day grid; the per-time hypergeometric terms quantize to micro
    units once and sum as BIGINT (no double accumulation); z and
    chi2 are one shared IEEE tree."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    per_user = e.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("fp_day"),
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("grp"), "first_day", "fp_day"
    )
    horizon = e.agg(F.max(day).alias("max_day"))
    durs = per_user.crossJoin(F.broadcast(horizon)).select(
        "grp",
        F.when(F.col("fp_day").isNotNull(), F.datediff("fp_day", "first_day"))
        .otherwise(F.datediff("max_day", "first_day"))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("fp_day").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_event"),
    )
    grid = durs.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("leave_all"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("leave_1"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.select(
        "t", "d", "d1",
        F.sum("leave_all").over(wdesc).cast("bigint").alias("n"),
        F.sum("leave_1").over(wdesc).cast("bigint").alias("n1"),
    )
    terms = risk.where(F.col("d") > 0).selectExpr(
        "t", "d", "d1", "n", "n1", f"{_LR_OE} AS q_oe", f"{_LR_V} AS q_v"
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.sum("d").cast("bigint").alias("d_total"),
        F.sum("d1").cast("bigint").alias("d1_total"),
        F.sum("q_oe").cast("bigint").alias("oe_micro"),
        F.sum("q_v").cast("bigint").alias("v_micro"),
    )
    return agg.selectExpr(*_LR_FIN)


# ---------------------------------------------------------------------------
# ev_uplift_qini_buckets — uplift table + cumulative Qini by score
# ---------------------------------------------------------------------------

_QINI_ROW = [
    "score_bucket",
    "nt", "ct", "nc", "cc",
    "CASE WHEN nt > 0 THEN CAST(1000000 * ct {intdiv} nt AS BIGINT)"
    " ELSE CAST(NULL AS BIGINT) END AS treat_rate_ppm",
    "CASE WHEN nc > 0 THEN CAST(1000000 * cc {intdiv} nc AS BIGINT)"
    " ELSE CAST(NULL AS BIGINT) END AS ctrl_rate_ppm",
    "CASE WHEN nc_cum > 0 THEN CAST(round(1000000.0 * (CAST(ct_cum AS DOUBLE)"
    " - CAST(cc_cum AS DOUBLE) * CAST(nt_cum AS DOUBLE) / CAST(nc_cum AS DOUBLE))) AS BIGINT)"
    " ELSE CAST(NULL AS BIGINT) END AS qini_micro",
]

QINI_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS treat,
         CAST(LEAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 9) AS BIGINT)
           AS score_bucket,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
  FROM events GROUP BY user_id
), b AS (
  SELECT score_bucket,
         CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS BIGINT) AS cc
  FROM u GROUP BY score_bucket
), c AS (
  SELECT score_bucket, nt, ct, nc, cc,
         CAST(SUM(nt) OVER (ORDER BY score_bucket DESC) AS BIGINT) AS nt_cum,
         CAST(SUM(ct) OVER (ORDER BY score_bucket DESC) AS BIGINT) AS ct_cum,
         CAST(SUM(nc) OVER (ORDER BY score_bucket DESC) AS BIGINT) AS nc_cum,
         CAST(SUM(cc) OVER (ORDER BY score_bucket DESC) AS BIGINT) AS cc_cum
  FROM b
)
SELECT {", ".join(e.format(intdiv="//") for e in _QINI_ROW)}
FROM c ORDER BY score_bucket DESC
"""


@register("ev_uplift_qini_buckets", QINI_ORACLE)
def ev_uplift_qini_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift table: treatment by user parity, score = capped
    click count (bounded 0..9 by construction — never a data-sized
    ntile), outcome = any purchase. One user-grain reduction, a
    ≤10-row bucket table, windows over that bounded table only."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.least(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)), F.lit(9)
        )
        .cast("bigint")
        .alias("score_bucket"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("treat"), "score_bucket", "conv"
    )
    b = u.groupBy("score_bucket").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(F.col("treat") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(F.col("treat") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("cc"),
    )
    wdesc = Window.orderBy(F.desc("score_bucket")).rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "score_bucket", "nt", "ct", "nc", "cc",
        F.sum("nt").over(wdesc).cast("bigint").alias("nt_cum"),
        F.sum("ct").over(wdesc).cast("bigint").alias("ct_cum"),
        F.sum("nc").over(wdesc).cast("bigint").alias("nc_cum"),
        F.sum("cc").over(wdesc).cast("bigint").alias("cc_cum"),
    )
    return c.selectExpr(*[x.format(intdiv="div") for x in _QINI_ROW]).orderBy(
        F.desc("score_bucket")
    )


# ---------------------------------------------------------------------------
# dt_iso_week_parity — ISO-8601 calendar functions, engine vs engine
# ---------------------------------------------------------------------------

# year-boundary grid: the four ISO-critical dates per year (Jan 1 and
# Jan 4 pin which year week 1 belongs to; Dec 28 is always in the
# last ISO week; Dec 31 can be week 1 of the NEXT iso year)
_ISO_DATES = [
    f"{y:04d}-{m:02d}-{d:02d}"
    for y in range(1992, 2028)
    for (m, d) in ((1, 1), (1, 4), (12, 28), (12, 31))
]

ISO_ORACLE = f"""
WITH g AS (
  SELECT CAST(d AS DATE) AS d
  FROM (VALUES {", ".join(f"('{d}')" for d in _ISO_DATES)}) t(d)
)
SELECT CAST(d AS TIMESTAMP) AS day_ts,
       CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS cal_year,
       CAST(isoyear(d) AS BIGINT) AS iso_year,
       CAST(week(d) AS BIGINT) AS iso_week,
       CAST(isodow(d) AS BIGINT) AS iso_dow,
       CAST((date_diff('day', DATE '1970-01-01', d) + 3) % 7 + 1 AS BIGINT) AS iso_dow_arith
FROM g ORDER BY day_ts
"""


@register("dt_iso_week_parity", ISO_ORACLE)
def dt_iso_week_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 calendar parity: Spark's YEAROFWEEK / weekofyear /
    weekday against DuckDB's isoyear / week / isodow on the 144-date
    year-boundary grid, with the rule-19 epoch-day weekday arithmetic
    as an engine-free in-row witness (probed 144/144 green before
    registration — this entry pins that measurement as a driver-hashed
    grid the way num_round_even_parity pins rounding)."""
    g = local_frame(spark, [(d,) for d in _ISO_DATES], "d string").selectExpr(
        "CAST(d AS DATE) AS d"
    )
    return g.selectExpr(
        "CAST(d AS TIMESTAMP) AS day_ts",
        "CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS cal_year",
        "CAST(EXTRACT(YEAROFWEEK FROM d) AS BIGINT) AS iso_year",
        "CAST(weekofyear(d) AS BIGINT) AS iso_week",
        "CAST(weekday(d) + 1 AS BIGINT) AS iso_dow",
        "CAST((datediff(d, DATE '1970-01-01') + 3) % 7 + 1 AS BIGINT) AS iso_dow_arith",
    ).orderBy("day_ts")
