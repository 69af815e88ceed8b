"""r11 wave 20: URL parsing parity, the price/volume/mix revenue
bridge, and a delete-one-group jackknife standard error.

- str_url_parse_parity pins Spark's NATIVE parse_url (java.net.URI
  semantics) against an INDEPENDENTLY-CODED regex decomposition in
  the oracle over a fixed URL corpus — protocol, authority, host,
  path, query, fragment. URL canonicalization is the first step of
  every web-crawl dedup pipeline, and the parity grid documents the
  exact semantics (PATH keeps its leading slash, QUERY/REF drop their
  delimiters, HOST excludes userinfo and port, absent component =
  NULL not '').
- q_revenue_bridge_pvm is the FP&A revenue-bridge decomposition: for
  each consecutive ship-year pair, ΔRevenue over matched parts splits
  EXACTLY into price effect Σ(p₁−p₀)·q₀ + volume effect Σp₀·(q₁−q₀) +
  mix effect Σ(p₁−p₀)·(q₁−q₀) — an integer identity on the
  1e-4-cent-unit prices (wave 16's floor-quantized (part, year)
  relation; the 1e4 grid keeps every effect under 2^63 through sf1,
  so the emission is an exact BIGINT and never meets rule 30's
  hugeint→double misround — measured HERE: the first cut emitted
  micro-cent effects ~1.8e17 as DECIMAL→DOUBLE and went red at
  sf0.001 by exactly one ulp), so the bridge reconciles to the
  actual delta bit-for-bit.
- ml_jackknife_ci is the delete-one-GROUP jackknife (the resampling
  method that needs no RNG, hence the one that can cross an engine
  hash): leave each nation's orders out, floor the leave-out mean to
  integer cents (the DEFINED pseudo-statistic), and compute the jackknife
  variance (g−1)/g · Σ(mᵢ−m̄)² from EXACT integer moments
  (g·Σm² − (Σm)² in DECIMAL(38,0), one terminal double tree).

Determinism: the URL grid is pure string algebra; the bridge sums
products of exact integers in DECIMAL(38,0) and emits exact BIGINTs;
jackknife pseudo-values are floored cents via the double floor idiom
and their variance is a rational of exact integers routed to DOUBLE
through BIGINT (rule 30: DuckDB's hugeint→double misrounds past 2^53,
its int64→double never does).

Scale notes (100 TB): URL parsing is a map-only expression (the grid
is constant; on a real crawl it rides the scan projection); the
bridge reduces lineitem at (part, year) grain once, self-joins on
partkey with a year+1 equi-condition (never year×year), and rolls up
to ≤|years| rows; the jackknife reduces orders⋈customer at nation
grain (25 cells) and every later op is on the bounded group relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# str_url_parse_parity — parse_url vs an independent regex decomposition
# ---------------------------------------------------------------------------
# The corpus avoids userinfo-free ambiguity traps but exercises ports,
# encoded chars, empty paths, fragments, IPs, deep subdomains, and
# plain http. Spark side: native parse_url. Oracle side: RFC-3986-ish
# regex pieces — an independent implementation, so a hash match
# validates Spark's java.net.URI behavior rather than echoing it.

_URLS = [
    "https://example.com/path/to/page?x=1&y=2#frag",
    "http://example.com",
    "https://sub.deep.example.org:8443/a/b/c",
    "http://192.168.10.1:8080/admin?reset=true",
    "https://example.com/",
    "https://example.com/search?q=a%20b+c&lang=en-US",
    "http://data.example.net/d/e.parquet#row-group-3",
    "https://example.com:443/exact/port",
    "http://example.com/trailing/slash/",
    "https://api.example.io/v2/items?id=7#sec.2",
]

_URL_VALUES = ", ".join("('" + u + "')" for u in _URLS)

URL_PARSE_ORACLE = f"""
WITH u(url) AS (VALUES {_URL_VALUES})
SELECT url,
       regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS protocol,
       regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS authority,
       regexp_extract(url, '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1) AS host,
       CASE WHEN regexp_matches(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)')
            THEN regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
       END AS path,
       CASE WHEN regexp_matches(url, '\\?([^#]*)')
            THEN regexp_extract(url, '\\?([^#]*)', 1)
       END AS query,
       CASE WHEN regexp_matches(url, '#(.*)$')
            THEN regexp_extract(url, '#(.*)$', 1)
       END AS fragment
FROM u
ORDER BY url
"""


@register("str_url_parse_parity", URL_PARSE_ORACLE)
def str_url_parse_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = local_frame(spark, [(x,) for x in _URLS], "url STRING")
    return u.selectExpr(
        "url",
        "parse_url(url, 'PROTOCOL') AS protocol",
        "parse_url(url, 'AUTHORITY') AS authority",
        "parse_url(url, 'HOST') AS host",
        # java.net.URI returns '' for the pathless authority form where
        # RFC grammar says the path component is ABSENT — align on NULL
        "nullif(parse_url(url, 'PATH'), '') AS path",
        "parse_url(url, 'QUERY') AS query",
        "parse_url(url, 'REF') AS fragment",
    ).orderBy("url")


# ---------------------------------------------------------------------------
# q_revenue_bridge_pvm — price / volume / mix decomposition per year pair
# ---------------------------------------------------------------------------

REVENUE_BRIDGE_ORACLE = """
WITH py AS (
  SELECT l_partkey AS pk,
         CAST(year(l_shipdate) AS BIGINT) AS y,
         CAST(10000 * SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              // SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS up,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), paired AS (
  SELECT a.y AS y0, b.y AS y1,
         a.up AS up0, b.up AS up1, a.qty AS q0, b.qty AS q1
  FROM py a JOIN py b ON a.pk = b.pk AND b.y = a.y + 1
), bridge AS (
  SELECT y0, y1,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(CAST(up1 - up0 AS DECIMAL(38,0)) * q0) AS price_eff,
         SUM(CAST(up0 AS DECIMAL(38,0)) * (q1 - q0)) AS volume_eff,
         SUM(CAST(up1 - up0 AS DECIMAL(38,0)) * (q1 - q0)) AS mix_eff,
         SUM(CAST(up1 AS DECIMAL(38,0)) * q1 - CAST(up0 AS DECIMAL(38,0)) * q0) AS actual_delta
  FROM paired GROUP BY y0, y1
)
SELECT y0, y1, n_parts,
       CAST(price_eff AS BIGINT) AS price_eff_e4,
       CAST(volume_eff AS BIGINT) AS volume_eff_e4,
       CAST(mix_eff AS BIGINT) AS mix_eff_e4,
       CAST(actual_delta AS BIGINT) AS actual_delta_e4,
       CAST(actual_delta - price_eff - volume_eff - mix_eff AS BIGINT) AS reconciliation
FROM bridge
ORDER BY y0
"""


@register("q_revenue_bridge_pvm", REVENUE_BRIDGE_ORACLE)
def q_revenue_bridge_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").cast("bigint").alias("y"),
    ).agg(
        F.expr(
            "CAST(10000 * SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " div SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)"
        ).alias("up"),
        F.expr("CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").alias("qty"),
    )
    py = py.cache()  # both sides of the consecutive-year self-join
    a = py.select("pk", F.col("y").alias("y0"), F.col("up").alias("up0"), F.col("qty").alias("q0"))
    b = py.select(
        F.col("pk").alias("pk_b"), F.col("y").alias("y1"),
        F.col("up").alias("up1"), F.col("qty").alias("q1"),
    )
    paired = a.join(b, (F.col("pk") == F.col("pk_b")) & (F.col("y1") == F.col("y0") + 1))
    bridge = paired.groupBy("y0", "y1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.expr("SUM(CAST(up1 - up0 AS DECIMAL(38,0)) * q0)").alias("price_eff"),
        F.expr("SUM(CAST(up0 AS DECIMAL(38,0)) * (q1 - q0))").alias("volume_eff"),
        F.expr("SUM(CAST(up1 - up0 AS DECIMAL(38,0)) * (q1 - q0))").alias("mix_eff"),
        F.expr(
            "SUM(CAST(up1 AS DECIMAL(38,0)) * q1 - CAST(up0 AS DECIMAL(38,0)) * q0)"
        ).alias("actual_delta"),
    )
    return bridge.selectExpr(
        "y0", "y1", "n_parts",
        "CAST(price_eff AS BIGINT) AS price_eff_e4",
        "CAST(volume_eff AS BIGINT) AS volume_eff_e4",
        "CAST(mix_eff AS BIGINT) AS mix_eff_e4",
        "CAST(actual_delta AS BIGINT) AS actual_delta_e4",
        "CAST(actual_delta - price_eff - volume_eff - mix_eff AS BIGINT) AS reconciliation",
    ).orderBy("y0")


# ---------------------------------------------------------------------------
# ml_jackknife_ci — delete-one-nation jackknife SE of mean order value
# ---------------------------------------------------------------------------

JACKKNIFE_ORACLE = """
WITH oc AS (
  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, c.c_nationkey AS nk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM oc
), grp AS (
  SELECT nk, CAST(SUM(cents) AS BIGINT) AS s_i, CAST(COUNT(*) AS BIGINT) AS n_i
  FROM oc GROUP BY nk
), pseudo AS (
  SELECT CAST(FLOOR(CAST(tot.s - grp.s_i AS DOUBLE)
                    / CAST(tot.n - grp.n_i AS DOUBLE)) AS BIGINT) AS m_i
  FROM grp, tot
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(m_i) AS BIGINT) AS sm,
         SUM(CAST(m_i AS DECIMAL(38,0)) * m_i) AS sm2
  FROM pseudo
)
SELECT g,
       (SELECT n FROM tot) AS n,
       CAST(FLOOR(CAST((SELECT s FROM tot) AS DOUBLE)
                  / CAST((SELECT n FROM tot) AS DOUBLE)) AS BIGINT) AS mean_cents,
       CAST(sm AS DOUBLE) / CAST(g AS DOUBLE) AS jack_mean_cents,
       SQRT((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE))
            * (CAST(CAST(g * sm2 - CAST(sm AS DECIMAL(38,0)) * sm AS BIGINT) AS DOUBLE)
               / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE)))) AS jack_se_cents
FROM moments
"""


@register("ml_jackknife_ci", JACKKNIFE_ORACLE)
def ml_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("c_nationkey").alias("nk"),
    )
    oc = oc.cache()  # 2 consumers: the global moments and the 25-group cells
    tot = oc.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grp = oc.groupBy("nk").agg(
        F.sum("cents").cast("bigint").alias("s_i"),
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
    )
    pseudo = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(FLOOR(CAST(s - s_i AS DOUBLE)"
        " / CAST(n - n_i AS DOUBLE)) AS BIGINT) AS m_i",
        "s", "n",
    )
    moments = pseudo.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("m_i").cast("bigint").alias("sm"),
        F.expr("SUM(CAST(m_i AS DECIMAL(38,0)) * m_i)").alias("sm2"),
        F.max("s").alias("s"),  # tot scalars ride along (constant per row)
        F.max("n").alias("n"),
    )
    return moments.selectExpr(
        "g",
        "n",
        "CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_cents",
        "CAST(sm AS DOUBLE) / CAST(g AS DOUBLE) AS jack_mean_cents",
        "SQRT((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE))"
        " * (CAST(CAST(g * sm2 - CAST(sm AS DECIMAL(38,0)) * sm AS BIGINT) AS DOUBLE)"
        " / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE)))) AS jack_se_cents",
    )
