"""r6 wave 3: interpolating gap-fill, embedding-space decontamination,
and LTTB series downsampling.

Reference scope: the reference engine's analytics surface (DuckDB SQL,
`src/sudan/*`) covers windowed time-series repair and similarity
filtering generically; these entries re-express three shapes its users
build on that surface — linear interpolation between observed
neighbors (the companion to ts_locf_fill's forward fill), an
eval-embedding contamination screen (the semantic tier of the
decontaminate_* ladder), and largest-triangle-three-buckets
downsampling for dashboard-scale series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# ts_gapfill_interpolate — linear interpolation between observed days
# ---------------------------------------------------------------------------

INTERP_ORACLE = """
WITH um AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         SUM(CAST(round(value * 1000000) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM events
  WHERE (day(ts) + length(event_type)) % 4 <> 0
  GROUP BY 1, 2
), bounds AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM um
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM um
), grid AS (
  SELECT d.day, t.event_type FROM days d CROSS JOIN types t
), j AS (
  SELECT g.event_type, g.day,
         CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE) AS mean_um,
         CASE WHEN u.n IS NOT NULL THEN g.day END AS obs_day
  FROM grid g LEFT JOIN um u USING (day, event_type)
), neigh AS (
  SELECT event_type, day, mean_um,
         last_value(mean_um IGNORE NULLS) OVER wprev AS prev_v,
         last_value(obs_day IGNORE NULLS) OVER wprev AS prev_d,
         first_value(mean_um IGNORE NULLS) OVER wnext AS next_v,
         first_value(obs_day IGNORE NULLS) OVER wnext AS next_d
  FROM j
  WINDOW wprev AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wnext AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day,
       CASE WHEN mean_um IS NOT NULL THEN mean_um / 1000000.0
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
              ((prev_v * CAST(date_diff('day', day, next_d) AS DOUBLE)
                + next_v * CAST(date_diff('day', prev_d, day) AS DOUBLE))
               / CAST(date_diff('day', prev_d, next_d) AS DOUBLE)) / 1000000.0
       END AS value_filled,
       CASE WHEN mean_um IS NOT NULL THEN 'obs'
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN 'interp'
            ELSE 'edge' END AS kind
FROM neigh
ORDER BY event_type, day
"""


@register("ts_gapfill_interpolate", INTERP_ORACLE)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across daily gaps — the middle rung of the
    series-repair ladder (ts_gapfill_days emits 0s, ts_locf_fill
    carries the last value; interpolation is what metric pipelines
    actually want between sparse observations). Gaps are simulated as
    day-keyed outages — (day-of-month + len(type)) % 4 == 0 days are
    dropped BEFORE aggregation — because gap structure must be
    SF-INVARIANT: thinning by event modulus stops producing gaps the
    moment per-day density outgrows the modulus (measured: no gaps
    left at sf0.1), while an outage pattern keyed on the calendar
    yields the same obs/interp/edge mix at every SF; the per-type
    offset staggers first-observation days so 'edge' rows exist too.

    Bit-stability: the daily metric is an exact integer pair
    (SUM(round(v·1e6)), COUNT) and every double op after that is a
    FIXED sequence repeated verbatim in the oracle — one s/n division,
    the two-product interpolation over exact integer day distances,
    one /1e6 presentation division (the ev_anomaly_zscore discipline).
    Days before the first / after the last observation emit NULL with
    kind='edge' (extrapolation is a policy choice, not a default).

    Plan: ONE data-sized stage (the partial-agg shuffle to the
    day×type aggregate, persisted — it feeds bounds, the type list and
    the grid join, same shape ts_gapfill_days pins in test_plans); the
    grid is calendar × type cardinality (tiny, broadcast), and both
    neighbor frames share (partition, order) so Spark fuses all four
    window expressions into ONE Window node over grid-sized input —
    at 100 TB the window sees ~365k rows, never the fact table."""
    e = load_table(spark, sf_dir, "events").where(
        (F.dayofmonth("ts") + F.length("event_type")) % 4 != 0
    )
    agg = (
        e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    ).persist()
    bounds = agg.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = agg.select("event_type").distinct()
    grid = F.broadcast(days).crossJoin(F.broadcast(types))
    j = grid.join(agg, ["day", "event_type"], "left").select(
        "event_type",
        "day",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("mean_um"),
        F.when(F.col("n").isNotNull(), F.col("day")).alias("obs_day"),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    neigh = j.select(
        "event_type",
        "day",
        "mean_um",
        F.last("mean_um", ignorenulls=True).over(wprev).alias("prev_v"),
        F.last("obs_day", ignorenulls=True).over(wprev).alias("prev_d"),
        F.first("mean_um", ignorenulls=True).over(wnext).alias("next_v"),
        F.first("obs_day", ignorenulls=True).over(wnext).alias("next_d"),
    )
    interp = (
        (
            F.col("prev_v") * F.datediff("next_d", "day").cast("double")
            + F.col("next_v") * F.datediff("day", "prev_d").cast("double")
        )
        / F.datediff("next_d", "prev_d").cast("double")
    ) / F.lit(1_000_000.0)
    return (
        neigh.select(
            "event_type",
            "day",
            F.when(F.col("mean_um").isNotNull(), F.col("mean_um") / F.lit(1_000_000.0))
            .when(
                F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), interp
            )
            .alias("value_filled"),
            F.when(F.col("mean_um").isNotNull(), F.lit("obs"))
            .when(F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), F.lit("interp"))
            .otherwise(F.lit("edge"))
            .alias("kind"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# decontaminate_embedding — semantic eval-contamination screen
# ---------------------------------------------------------------------------

# The eval set is a FIXED slice (modulus + id bound), exactly the
# decontaminate_substring contract: at 100 TB the scan is
# |corpus| × |eval| with |eval| CONSTANT — eval sets don't grow with
# training corpora (SCALING.md measured the unbounded variant of the
# substring tier at 116× wall for 16× data).
DECON_EMB_MOD = 17
DECON_EMB_EVAL_MAX = 5000
# τ tuned to the synthetic random-vector corpus (cos p99 ≈ 0.30,
# max ≈ 0.51): 0.35 flags the extreme tail at every SF while leaving
# both flag values populated. Real corpora would use ~0.9.
DECON_EMB_TAU = 0.35

_DECON_EMB_IS_EVAL = f"(vec_id % {DECON_EMB_MOD} = 0 AND vec_id < {DECON_EMB_EVAL_MAX})"

DECON_EMB_ORACLE = f"""
WITH ev AS (
  SELECT vec_id, embedding FROM embeddings WHERE {_DECON_EMB_IS_EVAL}
), cand AS (
  SELECT c.vec_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cos
  FROM embeddings c, ev e
  WHERE NOT {_DECON_EMB_IS_EVAL.replace('vec_id', 'c.vec_id')}
)
SELECT vec_id,
       round(MAX(cos), 6) AS max_cos,
       CAST(SUM(CASE WHEN cos >= {DECON_EMB_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
       MAX(cos) >= {DECON_EMB_TAU} AS contaminated
FROM cand
GROUP BY vec_id
ORDER BY vec_id
"""


@register("decontaminate_embedding", DECON_EMB_ORACLE)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space tier of the
    eval-overlap ladder (ngram_overlap = shingle tier, substring =
    verbatim tier): every corpus vector is scored against the FIXED
    eval slice and emits its max eval cosine, the count of eval
    vectors above τ, and the contamination flag. Paraphrased eval
    leakage survives both lexical tiers; this is the screen that
    catches it.

    Plan: the eval matrix is eval-set-sized (bounded by construction)
    and rides to executors as a closed-over driver model — the corpus
    STREAMS through one mapInPandas scorer computing per-row max/count
    INSIDE the Arrow kernel, so the output is one row per corpus
    vector with ZERO shuffle and zero join (ann_range_search posture;
    a pair-explode + groupBy would shuffle |corpus|×|eval| rows for
    nothing). Bit-stability: the kernel reuses the _foldmul_acc /
    _fold_sq_norm sequential folds (bit-identical to DuckDB's
    list_cosine_similarity), max/count aggregate RAW doubles on both
    sides (max commutes with the final round; thresholding pre-round
    avoids boundary flips), and the single round(·,6) happens JVM-side
    on the aggregated max."""
    from duckdb_sudan__spark.operators.similarity import _fold_sq_norm, _foldmul_acc

    e = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % DECON_EMB_MOD == 0) & (
        F.col("vec_id") < DECON_EMB_EVAL_MAX
    )
    ev_rows = e.where(is_eval).select("embedding").collect()
    corpus = e.where(~is_eval).select("vec_id", "embedding")
    out_schema = "vec_id long, max_cos double, n_eval_hits long"
    if not ev_rows:
        return local_frame(spark, [], out_schema + ", contaminated boolean")
    EV = np.array([r.embedding for r in ev_rows], dtype=np.float64)
    ev_norm = np.sqrt(_fold_sq_norm(EV))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dots = _foldmul_acc(X, EV)
            denom = np.sqrt(_fold_sq_norm(X))[:, None] * ev_norm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / np.where(denom == 0.0, 1.0, denom))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "max_cos": cos.max(axis=1),
                    "n_eval_hits": (cos >= DECON_EMB_TAU).sum(axis=1).astype(np.int64),
                }
            )

    return (
        corpus.mapInPandas(score, out_schema)
        .select(
            "vec_id",
            F.round(F.col("max_cos"), 6).alias("max_cos"),
            "n_eval_hits",
            (F.col("max_cos") >= DECON_EMB_TAU).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# ts_downsample_lttb — largest-triangle-three-buckets downsampling
# ---------------------------------------------------------------------------

LTTB_N_OUT = 30  # points kept per series


def _lttb_select(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices kept by largest-triangle-three-buckets (Steinarsson
    2013, public algorithm): endpoints fixed; each interior bucket
    keeps the point maximizing the triangle area with the PREVIOUSLY
    SELECTED point and the next bucket's centroid. Sequential by
    construction (each choice depends on the last), which is why this
    runs per-series inside one task rather than as a window. Ties →
    lowest index (np.argmax convention, deterministic)."""
    n = len(x)
    if n_out >= n or n_out < 3:
        return np.arange(n)
    # bucket boundaries over the interior points, endpoints excluded
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    keep = np.empty(n_out, dtype=np.int64)
    keep[0] = 0
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 2 <= n_out - 2 else (n - 1, n)
        cx, cy = x[nlo:nhi].mean(), y[nlo:nhi].mean()
        # 2×triangle area with apex candidates in [lo, hi)
        area = np.abs(
            (x[prev] - cx) * (y[lo:hi] - y[prev]) - (x[prev] - x[lo:hi]) * (cy - y[prev])
        )
        prev = lo + int(np.argmax(area))
        keep[b + 1] = prev
    keep[n_out - 1] = n - 1
    return keep


def _lttb_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-series LTTB over the daily-mean points, ordered by day.
    Module-level so the test's independent reference can be compared
    against the exact kernel the operator ships."""
    pdf = pdf.sort_values("day").reset_index(drop=True)
    x = pdf["day"].astype("int64").to_numpy().astype(np.float64)
    y = pdf["mean_value"].to_numpy()
    keep = _lttb_select(x, y, LTTB_N_OUT)
    out = pdf.iloc[keep][["event_type", "day", "mean_value"]].copy()
    out["pt_rank"] = np.arange(len(keep), dtype=np.int64)
    return out


@register("ts_downsample_lttb")  # rows-only: sequential per-series selection
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual series downsampling: each event_type's daily-mean series
    reduced to LTTB_N_OUT points that preserve the visual shape
    (spikes survive; uniform strides would average them away) — the
    standard dashboard/monitoring reduction before plotting millions
    of points. Selection is sequential per series (each kept point
    depends on the previous one), so it is NOT SQL-expressible — the
    per-series kernel runs via applyInPandas and an independent
    reference implementation in tests is the contract.

    Plan: the fact table collapses to daily means first (ONE
    partial-agg shuffle — the only data-sized stage), so the kernel's
    per-group state is calendar-bounded (~365 points/series/year),
    NOT corpus-bounded: at 100 TB each task holds a few KB. The
    applyInPandas groupBy reuses the aggregate's event_type hash
    partitioning."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1_000_000.0)
            ).alias("mean_value")
        )
    )
    return (
        daily.groupBy("event_type")
        .applyInPandas(
            _lttb_kernel,
            "event_type string, day timestamp, mean_value double, pt_rank long",
        )
        .orderBy("event_type", "pt_rank")
    )


# ---------------------------------------------------------------------------
# win_sliding_median — exact sliding-window median
# ---------------------------------------------------------------------------

SLIDING_MEDIAN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         SUM(CAST(round(value * 1000000) AS BIGINT)) AS day_um
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       CAST(day_um AS DOUBLE) / 1000000.0 AS day_total,
       quantile_cont(CAST(day_um AS DOUBLE), 0.5) OVER
         (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 1000000.0 AS med7
FROM daily
ORDER BY event_type, day
"""


@register("win_sliding_median", SLIDING_MEDIAN_ORACLE)
def win_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day sliding median of daily totals — the robust trend
    line monitoring dashboards overlay on spiky series (a sliding MEAN
    follows every outlier; the median doesn't). Exactness across
    engines: the daily total is an exact integer (micro-unit SUM), the
    windowed median interpolates the two middle values of ≤7 integers
    — (a+b)/2 on integers < 2^52 is exact in double under BOTH
    engines' interpolation formulas — and the /1e6 presentation
    division is the single shared rounding step.

    Plan: the fact table collapses to the day×type aggregate first
    (ONE partial-agg shuffle — the only data-sized stage); the sliding
    median runs over calendar-bounded input, so the per-frame sort of
    7 values × ~365 rows/type is trivia at any corpus size."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("day_um"))
    )
    # percentile() accepts window frames (median() refuses them) and
    # interpolates the two middle values exactly like quantile_cont
    med = F.expr(
        "percentile(CAST(day_um AS DOUBLE), 0.5) OVER "
        "(PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    return (
        daily.select(
            "event_type",
            "day",
            (F.col("day_um").cast("double") / F.lit(1_000_000.0)).alias("day_total"),
            (med / F.lit(1_000_000.0)).alias("med7"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# join_interval_overlap — grid-bucketed interval×interval overlap join
# ---------------------------------------------------------------------------

INCIDENT_MOD = 101           # error events sampled as incident anchors
INCIDENT_SPAN_SEC = 7200     # each incident window lasts 2 h
OVERLAP_CELL_SEC = 7200      # grid cell width = the incident span

INTERVAL_OVERLAP_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
         MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM numbered GROUP BY user_id, session_id
), inc AS (
  SELECT event_id AS incident_id, ts AS i_start,
         ts + INTERVAL {INCIDENT_SPAN_SEC} SECOND AS i_end
  FROM events WHERE event_type = 'error' AND event_id % {INCIDENT_MOD} = 0
)
SELECT i.incident_id, s.user_id, s.session_id,
       CAST(epoch_us(least(s.s_end, i.i_end))
            - epoch_us(greatest(s.s_start, i.i_start)) AS BIGINT) AS overlap_micros
FROM sess s JOIN inc i
  ON s.s_start <= i.i_end AND i.i_start <= s.s_end
ORDER BY incident_id, user_id, session_id
"""


@register("join_interval_overlap", INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — which user sessions were live
    during each incident window (outage impact analysis; the same
    shape as genomics region intersection and ad-tech flight overlap).
    Distinct from ev_range_join (point-in-band): BOTH sides are
    intervals, sessions have unbounded length, and there is NO shared
    equi-key — the naive plan is a cartesian BroadcastNestedLoopJoin.

    The 100 TB shape is GRID BUCKETING: time splits into fixed cells
    (width = the incident span, so an incident touches ≤ 2 cells),
    each interval explodes over the cells it spans, and candidates
    meet through a plain EQUI-join on cell. Exactly-once without any
    distinct: a pair is emitted only from the cell containing
    greatest(start_a, start_b) — that instant lies inside both
    intervals (they overlap), so exactly one joined cell row passes
    the cell == cell(max-start) predicate. Sessions are the
    ev_sessionize relation verbatim (same flag + running-sum
    construction), so the operator composes two audited pieces.

    Plan: one user-partitioned window chain to session bounds, one
    map-side explode per side (≤2 cells for incidents, span-bounded
    for sessions), one shuffle on the cell key, AQE free to broadcast
    the incident side (sampled — incidents ≪ events)."""
    e = load_table(spark, sf_dir, "events")
    # session intervals — ev_sessionize's construction
    s = e.where(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_session = F.when(
        F.col("prev_ts").isNull() | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTE")), 1
    ).otherwise(0)
    sess = (
        s.select("user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts"))
        .select("user_id", "ts", "event_id", new_session.alias("new_session"))
        .withColumn("session_id", F.sum("new_session").over(wrun).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    inc = e.where((F.col("event_type") == "error") & (F.col("event_id") % INCIDENT_MOD == 0)).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr(f"INTERVAL {INCIDENT_SPAN_SEC} SECOND")).alias("i_end"),
    )
    cell = lambda c: (F.unix_micros(c) / F.lit(OVERLAP_CELL_SEC * 1_000_000)).cast("long")  # noqa: E731
    sess_cells = sess.withColumn(
        "cell", F.explode(F.sequence(cell(F.col("s_start")), cell(F.col("s_end"))))
    )
    inc_cells = inc.withColumn(
        "cell", F.explode(F.sequence(cell(F.col("i_start")), cell(F.col("i_end"))))
    )
    return (
        sess_cells.join(inc_cells, "cell")
        .where(
            (F.col("s_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("s_end"))
            & (F.col("cell") == cell(F.greatest("s_start", "i_start")))
        )
        .select(
            "incident_id",
            "user_id",
            "session_id",
            (
                F.unix_micros(F.least("s_end", "i_end"))
                - F.unix_micros(F.greatest("s_start", "i_start"))
            ).alias("overlap_micros"),
        )
        .orderBy("incident_id", "user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# ev_top_paths — top-k opening event paths
# ---------------------------------------------------------------------------

PATH_LEN = 4
PATH_TOP = 20

TOP_PATHS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM seq WHERE rn <= {PATH_LEN} GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
QUALIFY row_number() OVER (ORDER BY n_users DESC, path) <= {PATH_TOP}
ORDER BY n_users DESC, path
"""


@register("ev_top_paths", TOP_PATHS_ORACLE)
def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K opening paths — the first PATH_LEN events of every user
    concatenated in time order, ranked by how many users share each
    opening (the onboarding-flow / navigation-analysis staple next to
    ev_funnel's fixed 3-step pattern and ev_transition_matrix's
    1-step Markov view). Path strings are built with an ORDERED
    aggregation on BOTH engines (string_agg ORDER BY rn ⇄ array_sort
    on (rn, type) structs then join) — deterministic because the
    (ts, event_id) tiebreak is total.

    Plan: one user-partitioned window (rank), early rn ≤ K filter so
    only K rows per user reach the path aggregation, one groupBy on
    the path string (cardinality ≤ |event_types|^K — bounded, small),
    and the final top-K is sort+limit (TakeOrderedAndProject — no
    global sort of the path relation)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PATH_LEN)
    )
    paths = (
        seq.groupBy("user_id")
        .agg(F.collect_list(F.struct("rn", "event_type")).alias("steps"))
        .select(
            F.array_join(
                F.expr("transform(array_sort(steps), x -> x.event_type)"), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(PATH_TOP)
    )


# ---------------------------------------------------------------------------
# join_relational_division — the FOR ALL query
# ---------------------------------------------------------------------------

DIVISION_ORACLE = """
SELECT o.o_custkey AS custkey, c.c_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS n_priorities
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY o.o_custkey, c.c_name
HAVING COUNT(DISTINCT o.o_orderpriority)
       = (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
ORDER BY custkey
"""


@register("join_relational_division", DIVISION_ORACLE)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — customers who ordered in EVERY priority
    class (the textbook FOR ALL / "suppliers who stock all parts"
    shape, which SQL has no operator for): implemented as the standard
    count-distinct-equals-divisor-size reduction, NOT a nested
    NOT EXISTS double negation — the latter plans as two correlated
    anti joins while this is one aggregate + one scalar comparison.

    Plan: one partial-agg shuffle on custkey for the per-customer
    distinct count, the 1-row divisor size broadcast into the HAVING
    predicate, and the customer name joined AFTER the HAVING filter
    (survivors ≪ customers, AQE broadcasts them — the q18 filtered-
    build lesson applied at plan-authoring time)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    divisor = o.agg(F.countDistinct("o_orderpriority").alias("n_total"))
    per_cust = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .join(F.broadcast(divisor))
        .where(F.col("n_priorities") == F.col("n_total"))
        .drop("n_total")
    )
    return (
        F.broadcast(per_cust)
        .join(c, "custkey")
        .select("custkey", "c_name", "n_orders", "n_priorities")
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# setops_not_in_null_semantics — tri-valued NOT IN, pinned as values
# ---------------------------------------------------------------------------

NOT_IN_NULL_ORACLE = """
WITH probe AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), probe_null AS (
  SELECT NULLIF(c_custkey, (SELECT MIN(c_custkey) FROM probe)) AS k FROM probe
)
SELECT variant, n_orders FROM (
  SELECT 'not_in_clean_list' AS variant, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)
  UNION ALL
  SELECT 'not_in_list_with_null', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT k FROM probe_null)
  UNION ALL
  SELECT 'not_exists_rewrite', CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM probe_null p WHERE p.k = o.o_custkey
  )
)
ORDER BY variant
"""


@register("setops_not_in_null_semantics", NOT_IN_NULL_ORACLE)
def setops_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI tri-valued `NOT IN` — the classic production footgun,
    pinned as VALUES on both engines: against a clean subquery list
    NOT IN counts the true complement; one NULL in the list makes
    every row's membership UNKNOWN, so the same query returns ZERO
    rows; the NOT EXISTS rewrite is null-safe and recovers the
    complement of the non-null keys. All three counts in one relation
    — a semantics regression on either engine breaks the hash.

    Plan note: Spark compiles the NULL-risky variant to a null-aware
    anti join (LeftAnti with an OR isnull disjunct — pinned by a plan
    test); the probe lists are dim-sized and broadcast."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_nin_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_nin_customer")
    return spark.sql(
        """
        WITH probe AS (
          SELECT c_custkey FROM _nin_customer WHERE c_mktsegment = 'BUILDING'
        ), probe_null AS (
          SELECT NULLIF(c_custkey, (SELECT MIN(c_custkey) FROM probe)) AS k FROM probe
        )
        SELECT variant, n_orders FROM (
          SELECT 'not_in_clean_list' AS variant, COUNT(*) AS n_orders
          FROM _nin_orders WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)
          UNION ALL
          SELECT 'not_in_list_with_null', COUNT(*)
          FROM _nin_orders WHERE o_custkey NOT IN (SELECT k FROM probe_null)
          UNION ALL
          SELECT 'not_exists_rewrite', COUNT(*)
          FROM _nin_orders o WHERE NOT EXISTS (
            SELECT 1 FROM probe_null p WHERE p.k = o.o_custkey
          )
        )
        ORDER BY variant
        """
    )


# ---------------------------------------------------------------------------
# ts_seasonal_naive — same-day-last-week forecast baseline + MAE
# ---------------------------------------------------------------------------

SEASONAL_LAG_DAYS = 7

SEASONAL_NAIVE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         SUM(CAST(round(value * 1000000) AS BIGINT)) AS um
  FROM events GROUP BY 1, 2
)
SELECT a.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(abs(a.um - b.um)) AS BIGINT) AS total_abs_err_um,
       CAST(SUM(abs(a.um - b.um)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mae
FROM daily a
JOIN daily b ON b.event_type = a.event_type
           AND b.day = a.day - INTERVAL {SEASONAL_LAG_DAYS} DAY
GROUP BY a.event_type
ORDER BY a.event_type
"""


@register("ts_seasonal_naive", SEASONAL_NAIVE_ORACLE)
def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation — predict each day's total
    with the SAME WEEKDAY LAST WEEK and report per-type MAE: the
    baseline every forecasting system must beat before it earns
    deployment (and the cheapest drift detector: MAE jumping means the
    weekly cycle broke). The shift is a DAY-KEYED self-join, NOT
    lag(7 rows) — a 7-row lag silently misaligns the moment a day is
    missing from the series, while day = day − 7d is exact under gaps.
    Error stays in exact integer micro-units; MAE is the single
    int/int double division (DETERMINISM.md).

    Plan: one partial-agg shuffle to the day×type aggregate, then a
    self-equi-join on (type, shifted day) over calendar-bounded input
    — both sides are the SAME tiny aggregate, so AQE broadcasts one
    side; the fact table is never joined."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("um"))
    )
    pred = daily.select(
        "event_type",
        (F.col("day") + F.expr(f"INTERVAL {SEASONAL_LAG_DAYS} DAY")).alias("day"),
        F.col("um").alias("pred_um"),
    )
    return (
        daily.join(pred, ["event_type", "day"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(F.abs(F.col("um") - F.col("pred_um"))).alias("total_abs_err_um"),
        )
        .select(
            "event_type",
            "n_scored",
            "total_abs_err_um",
            (
                F.col("total_abs_err_um").cast("double")
                / F.col("n_scored").cast("double")
                / F.lit(1_000_000.0)
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ev_session_bounce_rate — single-event sessions per day
# ---------------------------------------------------------------------------

BOUNCE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounced,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
FROM sess
GROUP BY day
ORDER BY day
"""


@register("ev_session_bounce_rate", BOUNCE_ORACLE)
def ev_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — the fraction of sessions containing exactly
    one event, by session-start day (THE engagement KPI next to
    ev_retention_cohorts; a bounce-rate step change is usually a
    deploy gone wrong). Sessions are the ev_sessionize relation
    verbatim (same 30-min flag + running-sum construction — one
    audited definition shared by batch, streaming and the interval
    join). Bounce is n_events = 1 on exact counts; the rate is one
    int/int double division. Plan: the session window chain (one
    user-partitioned shuffle), then a day groupBy over session-sized
    input."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_session = F.when(
        F.col("prev_ts").isNull() | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTE")), 1
    ).otherwise(0)
    sess = (
        e.select("user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts"))
        .select("user_id", "ts", "event_id", new_session.alias("new_session"))
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    )
    return (
        sess.groupBy(F.date_trunc("day", "session_start").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("bigint").alias("n_bounced"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounced",
            (F.col("n_bounced").cast("double") / F.col("n_sessions").cast("double")).alias("bounce_rate"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ts_yoy_growth — same-month-last-year revenue comparison
# ---------------------------------------------------------------------------

YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mon,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
  FROM orders GROUP BY yr, mon
)
SELECT c.yr, c.mon, c.revenue,
       p.revenue AS prev_year_revenue,
       ROUND((c.revenue - p.revenue) / p.revenue, 6) AS yoy_pct
FROM monthly c LEFT JOIN monthly p ON p.yr = c.yr - 1 AND p.mon = c.mon
ORDER BY c.yr, c.mon
"""


@register("ts_yoy_growth", YOY_ORACLE)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with same-month-last-year comparison — the
    period-over-period readout every BI layer renders. Alignment is a
    SELF-JOIN on (yr-1, mon), not lag(12) over a month sort: a join
    stays correct when months are missing (lag counts rows, not
    calendar), which is the failure mode that silently corrupts YoY
    dashboards on sparse data. Revenue accumulates as DECIMAL(27,6)
    (order-independent — double summation would be partition-order
    dependent) and presents as DOUBLE. Plan: ONE partial-agg shuffle
    on (yr, mon); the self-join input is the month aggregate (~tens of
    rows at any corpus size — months, not data, bound it), broadcast
    by AQE. First-year months carry NULL prev/yoy by left join."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
            F.col("o_totalprice").cast("decimal(27,6)").alias("p"),
        )
        .groupBy("yr", "mon")
        .agg(F.sum("p").cast("double").alias("revenue"))
    )
    prev = monthly.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mon"),
        F.col("revenue").alias("prev_year_revenue"),
    )
    return (
        monthly.join(prev, ["yr", "mon"], "left")
        .select(
            "yr",
            "mon",
            "revenue",
            "prev_year_revenue",
            F.round(
                (F.col("revenue") - F.col("prev_year_revenue"))
                / F.col("prev_year_revenue"),
                6,
            ).alias("yoy_pct"),
        )
        .orderBy("yr", "mon")
    )
