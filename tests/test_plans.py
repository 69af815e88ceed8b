"""Physical-plan-shape assertions — the 100 TB posture, checked.

These don't execute queries; they assert the optimized plan is the one
we'd want on a 1000-executor cluster:

- filters/projections reach the parquet scan (PushedFilters, pruned
  ReadSchema) — a scan reading 11 columns for a 4-column agg is wrong;
- small dims join via BroadcastHashJoin (no shuffle on the build side);
- aggregations are partial (map-side combine: two HashAggregate nodes);
- no plan anywhere degenerates to CartesianProduct (the only sanctioned
  cross join is a broadcast of a 1-row scalar or a tiny query set,
  which Spark plans as BroadcastNestedLoopJoin).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from duckdb_sudan__spark import operators
from duckdb_sudan__spark.operators import QUERIES

from conftest import SF_DIR

operators.load_all()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_pushed_and_columns_pruned(spark):
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    # the tight WHERE reaches the scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    # projection pruning: the scan must NOT read the unused wide columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_returnflag", "l_linestatus", "l_partkey", "l_orderkey"):
        assert col not in read_schema, f"scan reads unused column {col}"


@pytest.mark.parametrize("key", ["q2_min_cost_supp", "q5_local_supplier", "q9_product_profit"])
def test_dims_are_broadcast(spark, key):
    plan = plan_of(QUERIES[key](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, f"{key}: dims should broadcast, got\n{plan[:2000]}"


def test_q1_has_partial_aggregation(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    # map-side combine: a partial HashAggregate below the exchange and a
    # final one above it
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_q1_wholestage_codegen(spark):
    # Under AQE the pre-execution plan hides codegen spans, so compile
    # once with AQE off: every q1 stage must be whole-stage-codegen-able
    # (decimal-accumulate sums are codegen-supported expressions).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted explain marks codegen stages as "[codegen id : N]"
    assert "[codegen id :" in plan


def test_minhash_lsh_is_equi_join(spark):
    plan = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # candidate generation joins on (band, bucket) — an equi-join
    assert "band" in plan and "bucket" in plan


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_no_query_plans_a_cartesian_product(spark, key):
    plan = plan_of(QUERIES[key](spark, SF_DIR))
    assert "CartesianProduct" not in plan, f"{key} degenerates to a cartesian product"


def test_confusion_matrix_single_scan_no_window(spark):
    """All four cells are count_ifs in ONE map-combined aggregate:
    one scan, no join, no window — the cheapest classifier-eval shape."""
    df = QUERIES["ml_confusion_matrix"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("Join" in n or n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes  # partial+final


@pytest.mark.parametrize("key", ["ml_ks_binned", "text_lang_confusion"])
def test_bounded_relation_windows_sit_above_aggregate(spark, key):
    """The KS cumulative/rank windows and the confusion-share window
    run over BOUNDED aggregates (≤1000 bins / ≤langs² cells), never the
    raw table: the plan must aggregate below every Window node."""
    df = QUERIES[key](spark, SF_DIR)
    nodes = plan_nodes(df)
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    assert wins and aggs, nodes
    # plan_nodes lists upstream-first: every Window is downstream of
    # (at a higher index than) the first aggregate pair
    assert min(wins) > min(aggs), nodes


def test_autocorr_daily_lags_broadcast_after_daily_agg(spark):
    """The lag pairing self-joins the CALENDAR-BOUNDED daily aggregate
    (never the raw events): both join inputs sit above HashAggregates,
    and the 7-row lag list broadcasts."""
    df = QUERIES["ts_autocorr_daily"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastNestedLoop" in n or "BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n for n in nodes), nodes
    plan = plan_of(df)
    assert plan.count("events.parquet") <= 2, plan[:2000]


def test_new_vs_returning_no_window_over_raw(spark):
    """first-seen derives from a map-combinable min per user — no
    window anywhere; shuffles carry only the distinct/user/day keys."""
    df = QUERIES["ev_new_vs_returning"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_bitmap_distinct_mask_aggregates_no_window(spark):
    """The bitmap tier's point: masks partial-aggregate map-side (two
    HashAggregate pairs — masks then popcounts), no window anywhere;
    the only raw-key repartition is the verification column's
    count(distinct), which the bitmap branch exists to replace."""
    df = QUERIES["agg_bitmap_distinct"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 4, nodes


@pytest.mark.parametrize("key", ["ml_drift_chi2_weekly", "q_weekday_seasonality_index",
                                 "ml_feature_importance_mi"])
def test_r10_scalar_broadcast_aggregates_no_window(spark, key):
    """Drift/weekday/MI: the data-derived scalars (horizon, totals)
    ride 1-row broadcasts (BroadcastNestedLoopJoin) onto BOUNDED
    aggregates — no Window node, no sort-merge join, no cartesian."""
    df = QUERIES[key](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert any("BroadcastNestedLoop" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n or "CartesianProduct" in n for n in nodes), nodes


def test_collocation_min_support_below_unigram_joins(spark):
    """The min-support filter prunes the bigram relation BEFORE the
    unigram lookups join it (vocabulary grain, not token stream), and
    the corpus-total scalar broadcasts."""
    df = QUERIES["text_collocation_lift"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoop" in plan or "BroadcastHashJoin" in plan
    # the c_xy >= MIN_COLLOC predicate exists as a filter (pushed into
    # the aggregate's output, upstream of the joins)
    assert "c_xy" in plan
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_tablesample_is_map_only_predicate(spark):
    """The TABLESAMPLE parity entry is a pure map-side hash-threshold
    filter: one scan, no join, no hash shuffle — the only exchange is
    the output sort's range partitioning."""
    df = QUERIES["sample_tablesample"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "HashAggregate" or n == "Window" for n in nodes), nodes
    plan = plan_of(df)
    assert "hashpartitioning(" not in plan, plan[:3000]


# Driver-side materialization allowlist: every `.collect()` in the
# package must be a documented, CAPPED model/query-sized collect
# (TRAIN_CAP codebook samples, N_QUERIES query sets, the ≤#partitions
# PCA moment records, KMEANS_K seeds, the BPE_WORDS_CAP word table,
# olap12's capped eval-embedding set). Full-relation collects in an
# entry's return path are forbidden — the r9 streaming drains were the
# last two (replaced by executor-side staged writes, r10). Any NEW
# collect must be consciously added here with its cap.
_COLLECT_ALLOWLIST = {
    "operators/similarity.py": 10,
    "operators/text5.py": 1,
    "operators/olap12.py": 1,
}


def test_no_uncapped_driver_collect_in_package():
    """The no-collect pin (r9 verdict item 3), enforced like the
    no-cartesian pin: grep the package source, allowlist the
    documented capped collects, forbid collect-then-createDataFrame
    round-trips entirely."""
    import pathlib

    pkg = pathlib.Path(operators.__file__).resolve().parent.parent
    counts: dict[str, int] = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        text = py.read_text()
        n = text.count(".collect()") + text.count(".toPandas()")
        if n:
            counts[rel] = n
        # a collect feeding createDataFrame is a full driver round-trip
        # of a relation — never acceptable, allowlisted nowhere
        for ln in text.splitlines():
            assert not ("createDataFrame" in ln and ".collect()" in ln), (rel, ln)
    for rel, n in counts.items():
        cap = _COLLECT_ALLOWLIST.get(rel, 0)
        assert n <= cap, (
            f"{rel} has {n} driver collects (allowlisted: {cap}) — new "
            "collects need a documented cap and an allowlist entry"
        )


def test_driver_rows_go_through_local_frame():
    """`session.local_frame` is the one way to build a relation from
    driver-side Python rows: a list handed to createDataFrame becomes a
    PythonRDD that runs Python workers on every execution."""
    import inspect
    import pathlib

    from duckdb_sudan__spark import session

    pkg = pathlib.Path(operators.__file__).resolve().parent.parent
    calls = {
        py.relative_to(pkg.parent).as_posix(): py.read_text().count("createDataFrame(")
        for py in [*pkg.rglob("*.py"), pkg.parent / "__spark_entry__.py"]
    }
    assert {k: n for k, n in calls.items() if n} == {"duckdb_sudan__spark/session.py": 1}, calls
    assert "createDataFrame(" in inspect.getsource(session.local_frame)


def test_package_names_no_checkout_path():
    """Scratch paths derive from `session.SCRATCH_ROOT`, so a run from
    another checkout never writes into this one."""
    import pathlib

    pkg = pathlib.Path(operators.__file__).resolve().parent.parent
    checkout = str(pkg.parent)
    named = [py.relative_to(pkg).as_posix() for py in pkg.rglob("*.py") if checkout in py.read_text()]
    assert not named, named


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The §8 co-location claim, demonstrated: orders and lineitem
    written bucketBy(8, orderkey) join with NO Exchange in the plan —
    the sort-merge join reads bucket files directly. (Broadcast is
    disabled so the test can't pass trivially.)"""
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    o = load_table(spark, SF_DIR, "orders")
    l = load_table(spark, SF_DIR, "lineitem")
    o.write.mode("overwrite").option("path", str(tmp_path / "o")).bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("bk_orders")
    l.write.mode("overwrite").option("path", str(tmp_path / "l")).bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("bk_lineitem")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("bk_orders")
            .join(spark.table("bk_lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
            .select("o_orderkey", "o_totalprice", "l_extendedprice")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:1500]}"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned layout → a date filter becomes PartitionFilters
    (directory pruning), not a data filter over every file."""
    from pyspark.sql import functions as F

    from duckdb_sudan__spark.session import load_table

    e = load_table(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    e.write.mode("overwrite").partitionBy("day").parquet(path)
    back = spark.read.parquet(path).where(F.col("day") == "2024-01-15")
    plan = plan_of(back)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "day" in pf[0], f"no partition filter in scan:\n{plan[:1200]}"
    # the filter must NOT appear as a post-scan data filter
    assert back.count() == e.where(F.to_date("ts") == "2024-01-15").count()


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval gram set must reach the corpus side as a broadcast —
    the corpus's exploded grams must never shuffle for the join."""
    plan = plan_of(QUERIES["decontaminate_ngram_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    ("key", "banned_cols"),
    [
        ("pack_sequences", ("n_chars", "url", "quality")),
        ("sample_hash_stratified", ("text", "n_chars")),
        ("corpus_length_histogram", ("doc_id", "n_chars")),
        ("text_normalize", ("lang", "n_chars")),
    ],
)
def test_new_text_ops_prune_columns(spark, key, banned_cols):
    """Each scan must read only the columns the operator touches."""
    plan = plan_of(QUERIES[key](spark, SF_DIR))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in banned_cols:
        assert col not in read_schema, f"{key}: scan reads unused column {col}"


# ---------------------------------------------------------------------------
# olap2 plan shapes (r4): the posture asserted for the r1 surface,
# asserted for the newest surface too. Counting uses formatted
# explain's NUMBERED node list — the prose section repeats node names,
# so substring counts over the whole plan double-count.
# ---------------------------------------------------------------------------

import re


def plan_nodes(df) -> list[str]:
    """The '(N) NodeName' lines of a formatted explain, in order."""
    return [
        re.sub(r"^\(\d+\)\s+", "", ln.strip())
        for ln in plan_of(df).splitlines()
        if re.match(r"^\s*\(\d+\)\s+\S", ln)
    ]


def shuffle_count(nodes: list[str]) -> int:
    """Shuffle Exchanges only (BroadcastExchange moves dims, not data)."""
    return sum(1 for n in nodes if n == "Exchange")


def test_argmax_is_window_free_partial_agg(spark):
    """max_by/min_by compiles to a partial+final aggregate pair — NOT
    the double window sort the oracle spells. One agg shuffle plus the
    output sort's range exchange; broadcast nation."""
    nodes = plan_nodes(QUERIES["agg_argmax"](spark, SF_DIR))
    assert not any("Window" in n for n in nodes), "argmax must not window"
    aggs = [n for n in nodes if "Aggregate" in n]
    assert len(aggs) >= 2, f"no partial+final agg pair: {nodes}"
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert shuffle_count(nodes) <= 2, f"extra shuffles: {nodes}"


def test_locf_is_single_window_shuffle(spark):
    """LOCF = ONE hash-partitioned exchange feeding the running-frame
    window (the second Exchange is the output sort's range partition);
    no self-join anywhere."""
    nodes = plan_nodes(QUERIES["ts_locf_fill"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Window") == 1
    assert shuffle_count(nodes) == 2, f"expected window+sort shuffles only: {nodes}"
    assert not any("Join" in n for n in nodes), "LOCF must not self-join"


def test_gapfill_scans_events_once(spark):
    """The fact table is scanned ONCE: bounds and the type list derive
    from the cached (day,type,n) aggregate — three InMemoryTableScans
    over one shared InMemoryRelation whose child holds the single
    parquet scan. The grid sides are broadcast."""
    nodes = plan_nodes(QUERIES["ts_gapfill_days"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"multiple fact scans: {nodes}"
    assert sum(1 for n in nodes if n == "InMemoryTableScan") == 3
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any(n == "CartesianProduct" for n in nodes)


def test_listagg_broadcasts_dim_single_agg_shuffle(spark):
    """Region broadcasts to nation; collect_list aggregates partially
    map-side (ObjectHashAggregate pair) around one shuffle."""
    nodes = plan_nodes(QUERIES["listagg_nations"](spark, SF_DIR))
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert sum(1 for n in nodes if "Aggregate" in n) >= 2
    assert shuffle_count(nodes) <= 2  # agg + output sort


def test_unpivot_broadcasts_nation_two_agg_shuffles(spark):
    """Each fact side partial-aggregates on its nationkey (two
    shuffles), nation broadcasts to both, unpivot is a map-side Expand
    (no shuffle of its own)."""
    nodes = plan_nodes(QUERIES["unpivot_nation_counts"](spark, SF_DIR))
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) == 2
    assert any(n == "Expand" for n in nodes), "unpivot should compile to Expand"
    assert shuffle_count(nodes) <= 3  # 2 aggs + output sort


def test_tok_positions_is_map_only(spark):
    """posexplode is a Generate — a pure map stage; the only exchange
    is the output sort."""
    nodes = plan_nodes(QUERIES["tok_positions"](spark, SF_DIR))
    assert any(n == "Generate" for n in nodes)
    assert shuffle_count(nodes) == 1, f"explode must not shuffle: {nodes}"


@pytest.mark.parametrize("key", ["agg_bitwise", "agg_median"])
def test_scalar_aggs_are_partial(spark, key):
    """bit_and/or/xor and exact percentile both keep map-side partial
    aggregation: one agg shuffle + the output sort."""
    nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
    assert sum(1 for n in nodes if "Aggregate" in n) >= 2
    assert shuffle_count(nodes) == 2, f"{key}: {nodes}"


# ---------------------------------------------------------------------------
# olap3 plan shapes (r4)
# ---------------------------------------------------------------------------


def test_qualify_is_two_phase_topk(spark):
    """QUALIFY rn<=3 compiles to TWO windows — a local one keyed on
    (segment, partition id) that prunes before the skewed per-segment
    shuffle, and a global one over ≤ k·partitions survivors. A single
    window would funnel every order into 5 reducers at 100 TB."""
    nodes = plan_nodes(QUERIES["qualify_top_orders"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Window" or "WindowGroupLimit" in n) >= 2
    assert not any(n == "CartesianProduct" for n in nodes)


def test_map_event_counts_two_partial_agg_shuffles(spark):
    """(user,type) count then per-user map build: two agg shuffles +
    the output sort, map bounded by type cardinality."""
    nodes = plan_nodes(QUERIES["map_event_counts"](spark, SF_DIR))
    assert sum(1 for n in nodes if "Aggregate" in n) >= 4  # two partial+final pairs
    assert shuffle_count(nodes) <= 3


def test_list_lambda_is_map_only(spark):
    """Higher-order array functions never shuffle — the only exchange
    is the output sort's range partitioning."""
    nodes = plan_nodes(QUERIES["list_lambda_docs"](spark, SF_DIR))
    assert shuffle_count(nodes) == 1, f"lambda ops must not shuffle: {nodes}"
    assert not any("Generate" in n for n in nodes), "must not explode"


def test_ohlc_is_window_free_single_agg(spark):
    """The hypertable rollup is ONE partial+final aggregate on
    (type, hour) — no window, no self-join (the oracle needs two
    window sorts and a double join for the same result)."""
    nodes = plan_nodes(QUERIES["ts_ohlc_hourly"](spark, SF_DIR))
    assert not any("Window" in n for n in nodes)
    assert not any("Join" in n for n in nodes)
    assert sum(1 for n in nodes if "Aggregate" in n) >= 2
    assert shuffle_count(nodes) == 2  # agg + output sort


def test_value_windows_share_one_window_shuffle(spark):
    """Three frames over one (partition, order) → a single Exchange
    feeding the window stage (plus the output sort)."""
    nodes = plan_nodes(QUERIES["w4_value_windows"](spark, SF_DIR))
    assert shuffle_count(nodes) == 2, f"frames must share the shuffle: {nodes}"


def test_recursive_cte_compiles_to_union_loop(spark):
    """WITH RECURSIVE runs on Spark's native UnionLoop iteration (per
    step: frontier-sized work), not via a collected driver loop."""
    nodes = plan_nodes(QUERIES["recursive_cte_chain"](spark, SF_DIR))
    assert any("UnionLoop" in n for n in nodes), f"no UnionLoop: {nodes}"


def test_q18_scans_lineitem_once(spark):
    """The r4 single-pass shape: the HAVING aggregate IS the output
    sum, so lineitem appears exactly once (plus one scan each for
    orders and customer) and there is no semi join."""
    nodes = plan_nodes(QUERIES["q18_large_orders"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 3, f"extra scans: {nodes}"
    assert sum(1 for n in nodes if "Aggregate" in n) >= 2  # partial+final
    assert not any("Expand" in n for n in nodes)


def test_q21_is_one_pass_no_expand(spark):
    """The r4 one-pass shape, r5 min/max algebra: one lineitem scan,
    one orders scan, the EXISTS logic as plain min/max/count_if
    aggregates — no semi or anti self-joins over the fact relation, no
    multi-countDistinct Expand, and (r5) no object-backed collect_list
    aggregation: the fact pass must stay inside codegen
    HashAggregate."""
    nodes = plan_nodes(QUERIES["q21_waiting_supplier"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 3  # lineitem, orders, supplier
    assert not any("Expand" in n for n in nodes), "multi-distinct Expand crept back"
    assert not any("ObjectHashAggregate" in n for n in nodes), "object-backed agg crept back"
    joins = [n for n in nodes if "Join" in n]
    assert len(joins) <= 2, f"self-joins crept back: {joins}"


def test_retention_is_single_fact_shuffle(spark):
    """Cohort retention scans events once and shuffles the fact table
    exactly once (on user_id); the (cohort, offset) rollup and output
    sort work on tiny relations. No join — the oracle's two-relation
    formulation would shuffle the fact twice plus once for the join."""
    nodes = plan_nodes(QUERIES["ev_retention_cohorts"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    assert shuffle_count(nodes) == 3, f"user agg + rollup + sort only: {nodes}"


def test_dedup_embedding_is_single_block_shuffle_no_join(spark):
    """The r5 kernel shape: embeddings scan ONCE, one hash shuffle on
    the label block key feeding the Arrow pairing kernel
    (FlatMapGroupsInPandas), plus the output sort's range exchange —
    the old label self-join (SortMergeJoin + two scans + interpreted
    cosine HOFs) must not come back.

    clearCache first: the operator persist()s its pair relation, so if
    another test already RAN dedup_embedding in this session the
    CacheManager substitutes InMemoryTableScan for the parquet scan at
    compile time and the scan-count assertion becomes order-dependent.
    """
    spark.catalog.clearCache()
    nodes = plan_nodes(QUERIES["dedup_embedding"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"fact scanned twice: {nodes}"
    assert not any("Join" in n for n in nodes), f"self-join crept back: {nodes}"
    assert any("FlatMapGroupsInPandas" in n for n in nodes)
    assert shuffle_count(nodes) <= 2, f"block shuffle + sort only: {nodes}"


def test_list_sort_lambda_is_map_only(spark):
    """Comparator-lambda sort is a pure JVM expression — one scan, no
    Join/Window/Aggregate; the only exchange is the output sort."""
    nodes = plan_nodes(QUERIES["list_sort_lambda"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) == 1, f"sort exchange only: {nodes}"


def test_topk_orders_is_two_phase_balanced_shuffle(spark):
    """max_by(x,y,k): the fact crosses ONE balanced (group, pid)
    exchange, gets pruned to local top-3 there, and only survivors
    reach the 5-key final exchange (+ output sort = 3 exchanges). A
    single-phase plan would show 2 exchanges but concentrate the whole
    table on 5 reducers; no join, no window, one fact scan."""
    nodes = plan_nodes(QUERIES["agg_topk_orders"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"fact scanned twice: {nodes}"
    assert not any("Join" in n for n in nodes)
    assert not any("Window" in n for n in nodes)
    assert sum(1 for n in nodes if "Aggregate" in n) >= 4  # partial+final per phase
    assert shuffle_count(nodes) == 3, f"balanced + final + output sort: {nodes}"


def test_series_calendar_broadcasts_tvf_and_pushes_filter(spark):
    """The 365-row range() side broadcasts; the fact scan carries the
    pushed o_orderdate range; one partial-agg shuffle."""
    df = QUERIES["series_calendar"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "o_orderdate" in pushed, f"date range not pushed: {pushed}"
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert plan.count("Range") >= 1  # the TVF source node


# ---------------------------------------------------------------------------
# r5 wave: olap5 + text2 plan shapes
# ---------------------------------------------------------------------------


def test_win_distribution_single_window_pushed_filter(spark):
    """percent_rank/cume_dist/ntile share ONE window shuffle; the month
    filter reaches the parquet scan."""
    df = QUERIES["win_distribution"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "Window" in n) == 1, "three functions must share one window"
    assert shuffle_count(nodes) == 2, f"window + output sort only: {nodes}"


def test_width_bucket_hist_is_partial_agg_scan(spark):
    nodes = plan_nodes(QUERIES["agg_width_bucket_hist"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) == 2  # partial + final
    assert shuffle_count(nodes) == 2, f"agg + output sort only: {nodes}"


def test_regression_is_partial_agg_scan(spark):
    """The five decimal moment sums ride ONE partial+final aggregate
    over one scan — no per-moment passes, no window, no join."""
    nodes = plan_nodes(QUERIES["agg_regression"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) == 2
    assert shuffle_count(nodes) == 2, f"agg + output sort only: {nodes}"


def test_time_bucket_is_partial_agg_scan(spark):
    nodes = plan_nodes(QUERIES["ts_time_bucket"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert shuffle_count(nodes) == 2, f"agg + output sort only: {nodes}"


def test_gini_single_scan_no_join(spark):
    """Per-lang totals come from a window over the tiny counts
    relation — the oracle's join-back formulation would scan the
    corpus twice (Catalyst does not reuse unpersisted subplans)."""
    nodes = plan_nodes(QUERIES["agg_gini_diversity"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"corpus scanned twice: {nodes}"
    assert not any("Join" in n for n in nodes)
    assert shuffle_count(nodes) <= 3, f"counts agg + lang window (+final agg reuse) + sort: {nodes}"


def test_transition_matrix_one_fact_window(spark):
    """One user_id window over the fact; the normalizing window runs
    after the pairs aggregation (≤ |types|² rows)."""
    nodes = plan_nodes(QUERIES["ev_transition_matrix"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    assert sum(1 for n in nodes if "Window" in n) == 2
    assert shuffle_count(nodes) <= 4


def test_str_distance_is_map_only(spark):
    nodes = plan_nodes(QUERIES["str_distance"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) == 1, f"output sort only: {nodes}"


def test_chunk_overlap_is_map_only_generate(spark):
    """Chunking is explode + slice — one Generate, no shuffle before
    the output sort."""
    nodes = plan_nodes(QUERIES["text_chunk_overlap"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if n == "Generate") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) == 1, f"output sort only: {nodes}"


def test_pii_scrub_is_map_only(spark):
    nodes = plan_nodes(QUERIES["text_pii_scrub"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) == 1, f"output sort only: {nodes}"


def test_tfidf_one_corpus_scan_plus_footer_count(spark):
    """df comes from a window over tf (NOT a second aggregation, which
    would re-scan + re-explode the corpus); the only second scan is
    the zero-column broadcast N count. Both rank windows get the
    WindowGroupLimit top-k pushdown."""
    df = QUERIES["tfidf_topk"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 2, f"corpus re-scanned: {nodes}"
    assert sum(1 for n in nodes if n == "Generate") == 1, "corpus exploded more than once"
    plan = plan_of(df)
    # the N-count scan must be column-pruned to nothing (footer-only)
    read_schemas = [ln.split("ReadSchema:")[1].strip() for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert any(rs == "struct<>" for rs in read_schemas), f"count scan reads columns: {read_schemas}"
    assert any("WindowGroupLimit" in n for n in nodes), "top-k pushdown missing"


def test_bm25_single_scan_take_ordered(spark):
    """One corpus scan feeding a persisted narrow per-doc relation;
    stats are ONE tiny aggregate broadcast back; top-10 is
    TakeOrderedAndProject, not a global sort."""
    spark.catalog.clearCache()  # persist()-based plan — see dedup_embedding test
    nodes = plan_nodes(QUERIES["bm25_rank"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"corpus re-scanned: {nodes}"
    joins = [n for n in nodes if "Join" in n]
    assert all("Broadcast" in j for j in joins), f"non-broadcast join: {joins}"
    assert any("TakeOrderedAndProject" in n for n in nodes), "global sort instead of top-k"
    assert shuffle_count(nodes) <= 1, f"stats agg only: {nodes}"


def test_summarize_stats_is_one_scan_one_agg(spark):
    """SUMMARIZE parity computes all four columns' stats in ONE
    partial+final aggregate over ONE scan and unpivots with stack —
    the oracle's 4-way UNION shape would scan lineitem four times."""
    nodes = plan_nodes(QUERIES["summarize_stats"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"per-column scans: {nodes}"
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) == 2
    assert sum(1 for n in nodes if n == "Generate") == 1  # the stack unpivot


def test_win_lead_lag_single_window(spark):
    nodes = plan_nodes(QUERIES["win_lead_lag"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "Window" in n) == 1, "three functions must share one window"
    assert shuffle_count(nodes) == 2, f"window + output sort only: {nodes}"


def test_full_outer_join_runs_on_preaggregates(spark):
    """Both sides aggregate to day cardinality BEFORE the outer join —
    the join's inputs are Aggregate nodes, never raw scans; date range
    filters reach both scans."""
    df = QUERIES["join_full_outer"](spark, SF_DIR)
    plan = plan_of(df)
    assert "o_orderdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    nodes = plan_nodes(df)
    joins = [n for n in nodes if "Join" in n]
    assert len(joins) == 1, f"extra joins: {joins}"
    assert "FullOuter" in plan, "join type is not full outer"
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 4  # partial+final per side


def test_filter_clause_is_one_scan_one_agg(spark):
    """Four differently-filtered aggregates from ONE scan and ONE
    partial+final aggregate — no per-predicate subquery scans."""
    nodes = plan_nodes(QUERIES["agg_filter_clause"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"per-predicate scans: {nodes}"
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) == 2
    assert shuffle_count(nodes) == 2, f"agg + output sort only: {nodes}"


def test_ngram_lm_single_scan_windows_on_counts(spark):
    """One corpus scan + map-side bigram explode; both normalizing
    windows run AFTER the (w1,w2) aggregation (on the vocab²-bounded
    counts), never on the exploded corpus."""
    nodes = plan_nodes(QUERIES["ngram_lm_counts"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if n == "Generate") == 1
    assert not any("Join" in n for n in nodes)
    # leaf-first node order: the (w1,w2) aggregation must sit between
    # the explode and the first window, so the windows see counts
    gen_i = nodes.index("Generate")
    agg_i = min(i for i, n in enumerate(nodes) if "HashAggregate" in n)
    win_i = min(i for i, n in enumerate(nodes) if "Window" in n)
    assert gen_i < agg_i < win_i, f"window runs on the exploded corpus: {nodes}"


def test_try_parse_is_map_only(spark):
    nodes = plan_nodes(QUERIES["str_try_parse"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) == 1, f"output sort only: {nodes}"


def test_chunk_index_shuffles_hashes_not_text(spark):
    """The dedup window shuffles on chunk_hash AFTER the chunk text is
    reduced to its md5 — the shuffled relation must not carry a
    chunk_text column (overlap-heavy text would multiply shuffle
    bytes)."""
    df = QUERIES["pipeline_chunk_index"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if n == "Generate") == 1
    assert not any("Join" in n for n in nodes)
    plan = plan_of(df)
    ex = [seg.splitlines()[0] for seg in plan.split("Arguments: hashpartitioning")[1:]]
    assert not any("chunk_text" in e for e in ex)
    assert "chunk_text" not in plan, "chunk text survives into the shuffled relation"


def test_temperature_mix_is_single_scan(spark):
    """One corpus scan; the normalizer comes from an unpartitioned
    window over the |langs|-row aggregate (a derived totals relation
    would recompute the agg from a second scan), and the windowed
    relation is the post-agg one — the window must appear above the
    aggregation in leaf-first order."""
    nodes = plan_nodes(QUERIES["sample_temperature_mix"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"corpus re-scanned: {nodes}"
    assert not any("Join" in n for n in nodes)
    agg_i = min(i for i, n in enumerate(nodes) if "HashAggregate" in n)
    win_i = min(i for i, n in enumerate(nodes) if "Window" in n)
    assert agg_i < win_i, f"window runs on the corpus: {nodes}"


def test_time_range_sliding_single_window(spark):
    nodes = plan_nodes(QUERIES["win_time_range_sliding"](spark, SF_DIR))
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "Window" in n) == 1, "both frame aggs share one window"
    assert not any("Join" in n for n in nodes)
    assert shuffle_count(nodes) == 2, f"user window + output sort only: {nodes}"


def test_hybrid_rrf_ranks_assigned_after_takeordered(spark):
    """Each ranker reduces to a TakeOrdered top-50 BEFORE any window —
    ranks are assigned on 50-row relations, never by an unbounded
    unpartitioned window over the corpus; the fusion join and final
    top-10 run on fixed-size lists."""
    spark.catalog.clearCache()  # the bm25 per-doc relation persist()s
    df = QUERIES["hybrid_search_rrf"](spark, SF_DIR)
    nodes = plan_nodes(df)
    takes = [n for n in nodes if "TakeOrderedAndProject" in n]
    assert len(takes) >= 3, f"top-k must be TakeOrdered (2 rankers + fusion): {nodes}"
    # every Window node must sit above a TakeOrdered in leaf-first order
    win_is = [i for i, n in enumerate(nodes) if "Window" in n]
    take_is = [i for i, n in enumerate(nodes) if "TakeOrderedAndProject" in n]
    assert win_is and all(any(t < w for t in take_is) for w in win_is), (
        f"a rank window runs before its TakeOrdered prune: {nodes}"
    )


# ---------------------------------------------------------------------------
# r5c wave: olap6 plan shapes
# ---------------------------------------------------------------------------


def test_mode_quantile_windows_run_on_counts(spark):
    """ONE fact scan feeds the (flag, qty) partial agg; every window
    (total, cumulative, mode rank) runs on the ≤150-row count relation,
    never on the fact table."""
    df = QUERIES["agg_mode_quantile"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"fact scanned twice: {nodes}"
    assert not any("Join" in n for n in nodes)
    # counts partial+final, then the final per-flag agg partial+final
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 4
    # windows must sit above the first aggregate pair (leaf-first order)
    first_agg = min(i for i, n in enumerate(nodes) if "HashAggregate" in n)
    assert all(i > first_agg for i, n in enumerate(nodes) if "Window" in n)


def test_running_distinct_two_windows_no_join(spark):
    """The COUNT(DISTINCT) OVER emulation is two windows — (user,type)
    first-seen flag, then (user) running sum — with no join and no
    aggregate; the user filter reaches the scan as a pushed filter."""
    df = QUERIES["win_running_distinct"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Aggregate" in n) for n in nodes)
    assert sum(1 for n in nodes if "Window" in n) == 2
    assert shuffle_count(nodes) <= 3, f"two windows + output sort only: {nodes}"


def test_semi_anti_join_types_in_plan(spark):
    """The plan must carry genuine LeftSemi and LeftAnti joins (never a
    row-multiplying inner join + dedup), the 1995 order filter must
    reach the orders scan, and the ≤25-row nation/aggregate joins must
    broadcast."""
    df = QUERIES["join_semi_anti"](spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftSemi" in plan, "semi join must plan as LeftSemi"
    assert "LeftAnti" in plan, "anti join must plan as LeftAnti"
    assert "BroadcastHashJoin" in plan
    pushed = [s.splitlines()[0] for s in plan.split("PushedFilters:")[1:]]
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), f"1995 range not pushed: {pushed}"
    assert "CartesianProduct" not in plan


def test_grouping_id_is_one_pass_expand(spark):
    """GROUPING SETS compiles to ONE Expand + one partial/final agg
    pair over a single fact scan — not a UNION of per-level scans."""
    df = QUERIES["grouping_id_sets"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, f"per-level rescans: {nodes}"
    assert any(n == "Expand" for n in nodes)
    assert not any("Join" in n for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) == 2


def test_asof_forward_is_union_window_not_range_join(spark):
    """The forward as-of is the union-marker window: two pushed-filter
    scans union into ONE per-user window — no join node, so the
    quadratic per-user pair blowup the oracle's range join implies
    never materializes."""
    df = QUERIES["ev_asof_forward"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any(n == "Union" for n in nodes)
    assert not any("Join" in n for n in nodes), f"range join crept in: {nodes}"
    assert sum(1 for n in nodes if "Window" in n) == 1
    assert shuffle_count(nodes) <= 2, f"user window + output sort only: {nodes}"
    plan = plan_of(df)
    assert "event_type" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_histogram_serializes_count_relation(spark):
    """histogram() parity aggregates the fact ONCE into (flag, qty)
    counts (hash partial+final); only the domain-bounded count relation
    reaches the collect_list serialization aggregate."""
    df = QUERIES["agg_histogram"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2
    # the list-building agg exists and sits above the count agg
    obj_is = [i for i, n in enumerate(nodes) if "ObjectHashAggregate" in n or "SortAggregate" in n]
    hash_is = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    assert obj_is and min(obj_is) > min(hash_is)


# ---------------------------------------------------------------------------
# r5c wave: text3 + knn plan shapes
# ---------------------------------------------------------------------------


def test_lm_oov_join_runs_on_distinct_vocab(spark):
    """The train side must reduce to a DISTINCT (lang,w1,w2) aggregate
    BEFORE the join (vocab²-bounded build side), the bigram explode is
    a map-side Generate (no self-join), and nothing degenerates to a
    cartesian product."""
    df = QUERIES["lm_oov_rate"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "Generate" in n) >= 2  # explode per split
    join_is = [i for i, n in enumerate(nodes) if "Join" in n]
    agg_is = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    assert join_is and agg_is and min(agg_is) < min(join_is), (
        f"train DISTINCT must pre-aggregate below the join: {nodes}"
    )


def test_decontaminate_substring_broadcasts_probes(spark):
    """Substring containment has no equi-key: the plan must be a
    BroadcastNestedLoopJoin with the (tiny, eval-bounded) probe side
    broadcast — the corpus side streams with zero shuffle before the
    output sort."""
    df = QUERIES["decontaminate_substring"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    nodes = plan_nodes(df)
    assert shuffle_count(nodes) <= 1, f"corpus must not shuffle: {nodes}"


def test_dedup_doc_prefix_single_scan_partial_agg(spark):
    """Prefix dedup is ONE scan + one hash shuffle on the 32-hex key;
    text never crosses the exchange (only the md5 key does)."""
    df = QUERIES["dedup_doc_prefix"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    plan = plan_of(df)
    exchanges = [s for s in plan.split("\n\n") if s.startswith("(") and "Exchange" in s.splitlines()[0]]
    for ex in exchanges:
        assert "text" not in ex, f"full text shuffled: {ex}"


def test_shard_assign_is_single_scan_16_groups(spark):
    df = QUERIES["dataset_shard_assign"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2  # partial + final


def test_knn_graph_is_block_kernel_plus_bounded_window(spark):
    """k-NN graph (r6 skew-guarded shape): per-label Arrow kernel for
    healthy cells + tile×tile kernel for oversized cells. The n² pair
    set still never materializes as JOIN ROWS — the only joins are the
    broadcast oversized-label marker and the label-keyed TILE join
    (T rows per hot label, payloads collected); then ONE window over
    the K-bounded candidate union."""
    df = QUERIES["emb_knn_graph"](spark, SF_DIR)
    nodes = plan_nodes(df)
    # marker join duplicated into both branches → embeddings scanned ≤4×
    assert 1 <= sum(1 for n in nodes if n == "Scan parquet") <= 4
    # NO row-level pair join: every join is either the broadcast marker
    # or the collected-tile join; a pair-materializing self-join would
    # show as a join BELOW a pandas node with per-vector rows on both
    # sides — cheapest robust pin: no cartesian/BNLJ anywhere
    assert not any("CartesianProduct" in n or "BroadcastNestedLoop" in n for n in nodes), nodes
    assert any("FlatMapGroupsInPandas" in n for n in nodes)  # healthy kernel
    assert any("MapInPandas" in n for n in nodes)  # tile kernel branch
    assert sum(1 for n in nodes if n == "Window") == 1
    # Spark's rank-limit pushdown prunes to top-K per group BEFORE and
    # AFTER the window exchange — keep that optimization pinned
    assert any(n == "WindowGroupLimit" for n in nodes)


# ---------------------------------------------------------------------------
# r5c wave: olap7 plan shapes
# ---------------------------------------------------------------------------


def test_ignore_nulls_windows_share_one_shuffle(spark):
    """lag/lead IGNORE NULLS emulation: both frame windows partition on
    user_id, so ONE window exchange serves both directions."""
    df = QUERIES["win_ignore_nulls"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) <= 2, f"one user window + output sort only: {nodes}"


def test_regex_extract_all_is_map_only(spark):
    df = QUERIES["str_regex_extract_all"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) <= 1, f"output sort only: {nodes}"


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The LATERAL ... LIMIT 2 subquery must decorrelate into the
    two-phase WindowGroupLimit top-k + ONE customer shuffle + a
    broadcast nation join — never a per-outer-row re-execution or a
    cartesian product."""
    df = QUERIES["join_lateral_topn"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    nodes = plan_nodes(df)
    wgl = [n for n in nodes if n == "WindowGroupLimit"]
    assert len(wgl) >= 2, f"two-phase rank-limit pushdown missing: {nodes}"
    assert shuffle_count(nodes) <= 2, f"customer shuffle + output sort only: {nodes}"


# ---------------------------------------------------------------------------
# r5c wave: olap8 + sketch/outlier plan shapes
# ---------------------------------------------------------------------------


def test_exclude_current_single_window_pushed_filter(spark):
    """EXCLUDE CURRENT ROW emulation: one scan with the month range
    pushed, ONE window (sum and count share the frame), no join."""
    df = QUERIES["win_exclude_current"](spark, SF_DIR)
    plan = plan_of(df)
    assert "o_orderdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Aggregate" in n) for n in nodes)
    assert sum(1 for n in nodes if n == "Window") == 1
    assert shuffle_count(nodes) <= 2, f"window + output sort only: {nodes}"


def test_asof_nearest_is_union_two_windows_one_exchange(spark):
    """Nearest as-of: union-marker plan with BOTH direction windows on
    the same user_id partitioning — one data exchange (+ output sort),
    no join, so the oracle's per-user quadratic never appears."""
    df = QUERIES["ev_asof_nearest"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any(n == "Union" for n in nodes)
    assert not any("Join" in n for n in nodes), f"correlated join crept in: {nodes}"
    assert sum(1 for n in nodes if n == "Window") == 2
    assert shuffle_count(nodes) <= 2, f"one user exchange + output sort: {nodes}"


def test_heavy_hitters_never_shuffles_vocabulary(spark):
    """The MG candidate set and per-candidate counts are the ONLY
    shuffled relations: the candidate join must be a broadcast
    (LeftSemi), and no aggregation over the raw token stream may
    precede it except the per-lang totals (a ≤|langs|-row agg)."""
    df = QUERIES["sketch_heavy_hitters"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    nodes = plan_nodes(df)
    assert any("MapInPandas" in n for n in nodes), "MG sketch stage missing"
    assert "CartesianProduct" not in plan


def test_outlier_centroid_is_single_block_kernel(spark):
    df = QUERIES["emb_outlier_centroid"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) for n in nodes)
    assert any("FlatMapGroupsInPandas" in n for n in nodes)
    assert shuffle_count(nodes) <= 2, f"block shuffle + output sort only: {nodes}"


# ---------------------------------------------------------------------------
# r5c wave: olap9 + quantize plan shapes
# ---------------------------------------------------------------------------


def test_rolling_regression_all_sums_share_one_window(spark):
    """All five frame sums (n, sx, sy, sxx, sxy) plus the row_number
    must compile into window operators over ONE global sort — never a
    self-join or per-sum re-sorts."""
    df = QUERIES["win_rolling_regression"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Aggregate" in n) for n in nodes)
    assert sum(1 for n in nodes if n == "Window") <= 2  # row_number + frame sums
    plan = plan_of(df)
    assert "event_type" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_scd2_windows_share_user_partitioning(spark):
    """Change detection and interval close both partition on user_id:
    ONE data shuffle (+ output sort); the lead() runs on the pruned
    change relation above the filter."""
    df = QUERIES["ev_scd2_intervals"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Aggregate" in n) for n in nodes)
    assert sum(1 for n in nodes if n == "Window") == 2
    assert shuffle_count(nodes) <= 2, f"user shuffle + output sort only: {nodes}"


def test_rfm_windows_run_on_per_user_aggregate(spark):
    """The three ntile windows must sit ABOVE the per-user aggregate
    (leaf-first order) — quartiles are computed over |users| rows,
    never over the raw event stream — and the 1-row anchor joins as a
    broadcast nested loop, not a shuffle."""
    df = QUERIES["ev_rfm_scores"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    nodes = plan_nodes(df)
    first_agg = min(i for i, n in enumerate(nodes) if "HashAggregate" in n)
    assert all(i > first_agg for i, n in enumerate(nodes) if n == "Window")


def test_quantize_int8_is_map_only(spark):
    df = QUERIES["emb_quantize_int8"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any(("Join" in n) or ("Window" in n) or ("Aggregate" in n) for n in nodes)
    assert shuffle_count(nodes) <= 1, f"output sort only: {nodes}"


# ---------------------------------------------------------------------------
# r5c wave: olap10 plan shapes
# ---------------------------------------------------------------------------


def test_positional_join_runs_on_preaggregates(spark):
    """The positional zip joins two per-day AGGREGATES on the dense
    position key — both fact scans carry their pushed date filters and
    the join input is day-bounded, never fact-sized."""
    df = QUERIES["join_positional"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    pushed = [s.splitlines()[0] for s in plan.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in p for p in pushed)
    assert any("l_shipdate" in p for p in pushed)
    nodes = plan_nodes(df)
    join_is = [i for i, n in enumerate(nodes) if "Join" in n]
    agg_is = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    assert join_is and agg_is and min(agg_is) < min(join_is), (
        f"join must sit above the per-day aggregates: {nodes}"
    )


def test_union_by_name_pads_and_preaggregates(spark):
    df = QUERIES["setops_by_name"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any(n == "Union" for n in nodes)
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 4  # partial+final per side
    assert not any("Join" in n for n in nodes)


def test_quantile_multi_windows_run_on_counts(spark):
    """Same shape contract as agg_mode_quantile: one fact scan, windows
    above the first (domain-bounded) aggregate, no join."""
    df = QUERIES["agg_quantile_multi"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    first_agg = min(i for i, n in enumerate(nodes) if "HashAggregate" in n)
    assert all(i > first_agg for i, n in enumerate(nodes) if n == "Window")


def test_novelty_min_doc_agg_before_join(spark):
    """The shingle→first-doc attribution must partial-aggregate before
    the join back (the skew absorber), and nothing goes cartesian."""
    df = QUERIES["text_ngram_novelty"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    nodes = plan_nodes(df)
    join_is = [i for i, n in enumerate(nodes) if "Join" in n]
    agg_is = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    assert join_is and agg_is and min(agg_is) < min(join_is), (
        f"min-doc agg must pre-aggregate below the join: {nodes}"
    )


def test_dedup_cascade_is_semi_joins_plus_kernel(spark):
    """The waterfall: tiers prune via LeftSemi joins (never
    row-multiplying joins + dedup), the tier-3 pairing is the Arrow
    block kernel (no pair join), and the only cross joins are the
    1-row count combinations (BroadcastNestedLoop, sanctioned)."""
    df = QUERIES["pipeline_dedup_cascade"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    nodes = plan_nodes(df)
    assert any("FlatMapGroupsInPandas" in n for n in nodes)


def test_funnel_windowed_three_user_keyed_passes(spark):
    """Same posture as ev_funnel: three agg+join passes keyed on
    user_id, pushed event_type filters, no cartesian product — the
    window predicate rides the joins as an early filter."""
    df = QUERIES["ev_funnel_windowed"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    pushed = [s.splitlines()[0] for s in plan.split("PushedFilters:")[1:]]
    assert sum("event_type" in p for p in pushed) >= 3


def test_dedup_incremental_reads_index_not_recompute(spark):
    """r6 verdict item 7: the incremental entry's plan must scan the
    documents table exactly ONCE (the new shard) — corpus signatures
    come from the persisted index parquet, never recomputed (a
    recompute would require a second documents scan feeding the Arrow
    signature kernel)."""
    from duckdb_sudan__spark.operators.dedup import build_minhash_index

    build_minhash_index(spark, SF_DIR)  # ensure the standing index exists
    df = QUERIES["dedup_incremental"](spark, SF_DIR)
    txt = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert txt.count("documents.parquet") == 1, "corpus rescanned"
    assert "minhash_index" in txt, "persisted index not in the plan"
    assert "ArrowEvalPython" in txt  # the shard signature kernel


# ---------------------------------------------------------------------------
# r6 wave: DuckDB-ism parity plan shapes
# ---------------------------------------------------------------------------


def test_groupby_all_is_plain_partial_agg(spark):
    """GROUP BY ALL is sugar — Catalyst must plan it exactly like the
    explicit grouped agg: one pruned scan, partial+final HashAggregate,
    no join, no window."""
    df = QUERIES["groupby_all_sales"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2
    assert not any("Join" in n or "Window" in n for n in nodes)
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "o_orderpriority" not in read_schema  # projection pruned


def test_select_exclude_replace_is_map_only(spark):
    """Star EXCLUDE/REPLACE parity: pure projection — a single scan
    whose ReadSchema drops the excluded column, no shuffle except the
    output sort."""
    df = QUERIES["select_exclude_replace"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n or "HashAggregate" in n for n in nodes)
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "c_name" not in read_schema, "excluded column still read"
    assert shuffle_count(nodes) <= 1  # the ORDER BY range exchange only


def test_mad_robust_broadcasts_group_medians(spark):
    """MAD: the per-group median relation (5 rows) must broadcast back
    to the fact side — the events table never shuffles for the join."""
    df = QUERIES["agg_mad_robust"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n for n in nodes)


def test_asof_tolerance_is_single_window_no_join(spark):
    """Bounded as-of reduces to the union-marker window + gap CASE —
    no self-join, one shuffle for the window."""
    df = QUERIES["ev_asof_tolerance"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 1
    assert sum(1 for n in nodes if n == "Scan parquet") == 1


def test_pivot_multi_agg_is_one_scan_conditional_aggs(spark):
    """Explicit pivot values → no distinct-values pre-job: one scan,
    partial+final agg, no join/window/expand."""
    df = QUERIES["pivot_multi_agg"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2
    assert not any("Join" in n or "Window" in n or "Expand" in n for n in nodes)


def test_bpe_pair_counts_two_phase_topk(spark):
    """Tokenizer pair counts: count shuffle on (lang, pair) with partial
    agg, then the rank-limit-pruned window (WindowGroupLimit)."""
    df = QUERIES["bpe_pair_counts"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2
    assert any(n == "WindowGroupLimit" for n in nodes)
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" not in read_schema and "source" not in read_schema


def test_dup_rate_by_source_prunes_and_partial_aggs(spark):
    df = QUERIES["corpus_dedup_rate_by_source"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "n_chars" not in read_schema and "doc_id" not in read_schema


def test_mips_is_zero_shuffle_scorer_plus_topk(spark):
    """MIPS: corpus streams through the Arrow scorer with no join; the
    only shuffles serve the k-bounded top-k window and output sort."""
    df = QUERIES["ann_mips_dot"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert any("MapInPandas" in n for n in nodes)
    assert any(n == "WindowGroupLimit" for n in nodes)


def test_matryoshka_is_map_only(spark):
    df = QUERIES["emb_matryoshka_truncate"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n or "HashAggregate" in n or "Window" in n for n in nodes)
    assert shuffle_count(nodes) <= 1  # output sort only


def test_gopher_filters_two_shuffles_linear(spark):
    df = QUERIES["text_gopher_filters"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n or "Window" in n for n in nodes)
    assert shuffle_count(nodes) <= 3  # (doc,word) agg + per-doc agg + sort


def test_zscore_broadcasts_stats_and_never_shuffles_scan(spark):
    """The 5-row moment relation broadcasts back; the anomaly scan side
    is map-only (no exchange between its scan and the join)."""
    df = QUERIES["ev_anomaly_zscore"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("SortMergeJoin" in n for n in nodes)


def test_rollup_share_aggregates_fact_once(spark):
    """Both hierarchy levels derive from ONE fact aggregation: orders
    appears in the plan exactly once (base is persisted), parents are
    broadcast joins, and the grand total crossJoin is a broadcast
    nested loop of one row — not a cartesian."""
    df = QUERIES["rollup_share_of_parent"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("orders.parquet") <= 1
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes)


def test_gaps_islands_window_key_matches_group_key(spark):
    df = QUERIES["win_gaps_islands"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    assert sum(1 for n in nodes if n == "Window") == 1


def test_concurrency_curve_global_window_over_session_points(spark):
    """The global running sum runs over 2·|sessions| points, never raw
    events: the plan has the per-user session window + one global
    window, no join."""
    df = QUERIES["ev_concurrency_curve"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes)
    assert sum(1 for n in nodes if n == "Window") >= 2


def test_format_parity_is_map_only(spark):
    df = QUERIES["str_format_parity"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n or "HashAggregate" in n or "Window" in n for n in nodes)
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "c_acctbal" not in read_schema


def test_vocab_coverage_broadcasts_vocab(spark):
    """The K-row vocabulary must broadcast back to the token stream —
    the exploded tokens never shuffle for the coverage join — and the
    documented two-scan shape holds: one pruned scan per explode
    (vocab subtree + join side), deliberately NOT a persisted single
    explode (the token stream is the largest relation in the query;
    see the operator docstring)."""
    df = QUERIES["vocab_coverage_rate"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n for n in nodes)
    assert sum(1 for n in nodes if n == "Scan parquet") == 2, nodes


def test_scd2_lookup_is_window_not_range_join(spark):
    """Point-in-time lookup resolves via the union-marker window — no
    interval join anywhere in the plan."""
    df = QUERIES["join_scd2_lookup"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert any(n == "Window" for n in nodes)


def test_epoch_interleave_partitions_by_epoch(spark):
    df = QUERIES["dataset_epoch_interleave"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    read_schema = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema  # only doc_id scanned


def test_parquet_roundtrip_writes_hive_partitions(spark, tmp_path):
    """The partitioned write must produce lang=<value> directories —
    the hive layout both engines then read back identically."""
    import glob
    import os

    from duckdb_sudan__spark.sources.files import _RT_ROOT, sf_cache_key

    QUERIES["files_parquet_roundtrip"](spark, SF_DIR).collect()
    base = os.path.join(_RT_ROOT, sf_cache_key(SF_DIR), "parquet")
    dirs = sorted(os.path.basename(p) for p in glob.glob(os.path.join(base, "lang=*")))
    assert dirs and all(d.startswith("lang=") for d in dirs)


def test_corr_matrix_is_one_pass_one_row(spark):
    """All ten moments come from ONE lineitem aggregation: single scan,
    partial+final agg, no join except the union of three 1-row
    projections of the persisted moment row."""
    df = QUERIES["agg_corr_matrix"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") <= 1
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes)


def test_pareto_abc_windows_run_over_parts_not_lineitem(spark):
    """The global running sum consumes the per-part aggregate (one fact
    agg below the windows), and both windows share one sort."""
    df = QUERIES["win_pareto_abc"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert sum(1 for n in nodes if "HashAggregate" in n) >= 2  # partial+final below windows
    assert not any("Join" in n for n in nodes)


def test_funnel_rates_no_cartesian(spark):
    df = QUERIES["ev_funnel_rates"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes)


def test_gapfill_interpolate_scans_events_once(spark):
    """Same contract as ts_gapfill_days: bounds, the type list and the
    grid join all read the persisted day×type aggregate, so the fact
    table hits parquet exactly once; the neighbor windows run over
    grid-sized input."""
    df = QUERIES["ts_gapfill_interpolate"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    # both neighbor frames share (partition, order), so Spark fuses all
    # four window expressions into ONE Window node — one sort, one pass
    assert sum(1 for n in nodes if n == "Window") == 1, nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_decontaminate_embedding_is_zero_join_map_scorer(spark):
    """The eval matrix rides as a driver model, so the corpus streams
    through ONE Arrow kernel: no Join of any kind, one scan, and no
    aggregate (max/count happen inside the kernel row-wise)."""
    df = QUERIES["decontaminate_embedding"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("HashAggregate" in n for n in nodes), nodes
    assert any("MapInPandas" in n for n in nodes), nodes


def test_lttb_aggregates_before_kernel(spark):
    """The per-series kernel consumes the daily-mean aggregate (ONE
    partial-agg shuffle of the fact table), never raw events — the
    calendar-bounded-state posture."""
    df = QUERIES["ts_downsample_lttb"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    agg_idx = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    kernel_idx = [i for i, n in enumerate(nodes) if "FlatMapGroupsInPandas" in n]
    assert agg_idx and kernel_idx, nodes
    assert max(agg_idx) < min(kernel_idx), "kernel must run over the aggregate"


def test_sliding_median_windows_over_daily_aggregate(spark):
    """The percentile frame runs over the day×type aggregate (ONE
    partial-agg shuffle of the fact table), so the per-frame sort is
    calendar-bounded at any corpus size."""
    df = QUERIES["win_sliding_median"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    agg_idx = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert agg_idx and win_idx, nodes
    assert max(agg_idx) < min(win_idx), "window must consume the aggregate"


def test_interval_overlap_is_equi_join_not_cartesian(spark):
    """The interval×interval overlap must resolve through the grid-cell
    EQUI-join — never a BroadcastNestedLoopJoin/CartesianProduct range
    join (the naive shape with no shared key)."""
    df = QUERIES["join_interval_overlap"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes
    assert any("Join" in n for n in nodes), nodes


def test_top_paths_uses_take_ordered(spark):
    """The final top-K is sort+limit (TakeOrderedAndProject), not a
    global Sort of the path relation."""
    df = QUERIES["ev_top_paths"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_not_in_null_plans_anti_joins(spark):
    """The NOT IN variants must compile to (null-aware) LeftAnti joins
    with the dim-sized probe broadcast — never a cartesian."""
    df = QUERIES["setops_not_in_null_semantics"](spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftAnti" in plan, plan[:1500]
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_relational_division_joins_names_after_having(spark):
    """The customer name join consumes the HAVING survivors (explicitly
    broadcast), not the full per-customer aggregate."""
    df = QUERIES["join_relational_division"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_dpp_injects_dynamic_pruning(spark):
    """The busy-days dim is aggregation-derived (not statically
    pushable), so the partitioned fact scan must carry a
    dynamicpruningexpression — runtime partition pruning, the 100 TB
    event-store pattern."""
    df = QUERIES["files_dpp_partitioned_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "PartitionFilters" in plan


def test_bucketed_join_has_zero_exchange(spark):
    """Both sides are bucketed+sorted on the join key, so the
    SortMergeJoin consumes bucket files directly: NO shuffle Exchange
    anywhere in the plan."""
    df = QUERIES["files_bucketed_join"](spark, SF_DIR)
    nodes = plan_nodes(df)
    join_nodes = [n for n in nodes if "Join" in n]
    assert join_nodes, nodes
    # the only allowed Exchange is the final single-partition sort of
    # the 5-row aggregate; the JOIN itself must be shuffle-free — no
    # Exchange may appear before the join node in the plan walk
    first_join = min(i for i, n in enumerate(nodes) if "Join" in n)
    assert not any(
        n == "Exchange" for n in nodes[:first_join]
    ), nodes[: first_join + 1]


def test_repeated_spans_semi_join_no_pairs(spark):
    """dedup_repeated_spans must mark duplicated positions through a
    LEFT SEMI join against the min<max gram aggregate — never a pair-
    generating self-join (the quadratic shape the min/max trick
    replaces) and never a nested-loop/cartesian fallback. The gram
    aggregate must be partial (map-side combine): min/max, not
    count-distinct."""
    df = QUERIES["dedup_repeated_spans"](spark, SF_DIR)
    plan = plan_of(df)
    nodes = plan_nodes(df)
    assert "LeftSemi" in plan, plan[:1500]
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes
    assert "partial_min" in plan and "partial_max" in plan, plan[:2000]
    assert "distinct" not in plan.lower().replace("adaptivesparkplan", ""), plan[:2000]


def test_quality_classifier_is_jvm_map_only(spark):
    """text_quality_classifier must score inside JVM higher-order
    functions: no Python evaluation node (Arrow or row), no join, no
    aggregate shuffle before the per-doc output."""
    df = QUERIES["text_quality_classifier"](spark, SF_DIR)
    plan = plan_of(df)
    nodes = plan_nodes(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:1500]
    assert not any("Join" in n for n in nodes), nodes
    assert not any("HashAggregate" in n for n in nodes), nodes


def test_multitouch_attribution_rides_user_equi_join(spark):
    """The 24h window predicate must ride on the user_id equi-join —
    never a nested-loop time join."""
    df = QUERIES["ev_multitouch_attribution"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes


def test_yoy_growth_joins_month_aggregate_not_orders(spark):
    """The YoY self-join input is the month aggregate (calendar-
    bounded), so the join must be broadcast, with exactly one
    orders-side aggregate exchange feeding both join inputs."""
    df = QUERIES["ts_yoy_growth"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_quality_weighted_sampler_is_one_source_shuffle(spark):
    """Score map-side, ONE shuffle on source for both windows (rank and
    per-source count share the partition key), no joins, no Python."""
    df = QUERIES["sample_quality_weighted"](spark, SF_DIR)
    plan = plan_of(df)
    nodes = plan_nodes(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert not any("Join" in n for n in nodes), nodes
    import re
    shuffles = [n for n in nodes if "Exchange" in n and "Reused" not in n]
    assert len(shuffles) <= 2, nodes  # source hash + final sort range


def test_schema_evolution_read_merges_generations(spark):
    """mergeSchema read resolves the union schema: the scan's
    ReadSchema carries the late-added column while gen-1 files lack
    it — and the aggregate is a plain two-phase hash aggregate."""
    df = QUERIES["files_schema_evolution"](spark, SF_DIR)
    plan = plan_of(df)
    assert "n_chars" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_cte_reused_aggregate_materializes_once(spark):
    """The per-nation revenue aggregate feeds both the detail rows and
    the grand-total divisor — both consumers must read the CACHED
    aggregate (InMemoryTableScan), i.e. the fact-side join computes
    once (compile-time ReuseExchange does not fire across independent
    consumers under AQE — the cache is the materialized-CTE
    guarantee)."""
    df = QUERIES["cte_reused_aggregate"](spark, SF_DIR)
    plan = plan_of(df)
    nodes = plan_nodes(df)
    assert sum("InMemoryTableScan" in n for n in nodes) >= 2, nodes


def test_dau_wau_mau_dedups_before_fanout(spark):
    """The 7x/28x explode must fan out the (day, user) DISTINCT
    aggregate, never the raw events relation, and no join may
    degenerate to a nested loop."""
    df = QUERIES["ev_dau_wau_mau"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    gens = [n for n in nodes if "Generate" in n]
    assert gens, nodes  # the explode exists
    plan = plan_of(df)
    # distinct aggregate (partial_count-free HashAggregate pair on day/user)
    assert plan.count("Generate") >= 2, plan[:1500]


def test_compaction_collapses_file_count(spark):
    """files_compact_small_files must leave the fragmented input (64
    parts) intact and produce ceil(input_bytes / 1 MiB) output files —
    strictly fewer; the rewrite is content-preserving (the oracle gate
    asserts that side)."""
    import math
    import os

    from duckdb_sudan__spark.sources.files import (
        COMPACT_SMALL_PARTS,
        COMPACT_TARGET_BYTES,
        _compact_write,
    )

    path, n_small, n_out = _compact_write(spark, SF_DIR)
    assert n_small == COMPACT_SMALL_PARTS
    small_dir = os.path.join(os.path.dirname(path), "small")
    in_bytes = sum(
        os.path.getsize(os.path.join(small_dir, f))
        for f in os.listdir(small_dir)
        if f.endswith(".parquet")
    )
    assert n_out == max(1, math.ceil(in_bytes / COMPACT_TARGET_BYTES))
    assert n_out < n_small


def test_zorder_layout_bounds_both_dims(spark, tmp_path):
    """Files written clustered by zvalue must have footer min/max
    ranges narrow in BOTH interleaved dims — the data-skipping
    property a 1-D sort cannot give. Measured at sf0.01/16 files:
    z-order ~58% global cx range and ~25% global dy range per file;
    a cx-only sort leaves dy per-file ranges ~global."""
    import os

    import pyarrow.parquet as pq

    from duckdb_sudan__spark.sources.files import zorder_write
    from duckdb_sudan__spark.session import load_table
    from pyspark.sql import functions as F

    zpath = str(tmp_path / "zorder")
    zorder_write(spark, SF_DIR, zpath, n_files=16)

    def file_ranges(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if st is None or name not in ("cx", "dy"):
                        continue
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
            if mins:
                out.append({k: maxs[k] - mins[k] for k in mins})
        return out

    zranges = file_ranges(zpath)
    assert len(zranges) >= 8
    o = load_table(spark, SF_DIR, "orders")
    g = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("gcx"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("gdy"),
    ).collect()[0]
    gcx, gdy = g["gcx"], g["gdy"]
    avg_cx = sum(r["cx"] for r in zranges) / len(zranges)
    avg_dy = sum(r["dy"] for r in zranges) / len(zranges)
    # BOTH dims materially tighter than global — the z-order guarantee
    assert avg_cx < 0.7 * gcx, (avg_cx, gcx)
    assert avg_dy < 0.35 * gdy, (avg_dy, gdy)

    # baseline: same writer sorted by cx ONLY — cx gets razor-sharp but
    # dy per-file range stays ~global; z-order beats it on dy by >= 2x
    cpath = str(tmp_path / "cxsort")
    (
        o.select(
            "o_orderkey",
            (F.col("o_custkey") % (1 << 16)).cast("bigint").alias("cx"),
            F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast("bigint").alias("dy"),
        )
        .repartitionByRange(16, "cx")
        .sortWithinPartitions("cx")
        .write.mode("overwrite")
        .parquet(cpath)
    )
    cranges = file_ranges(cpath)
    avg_dy_base = sum(r["dy"] for r in cranges) / len(cranges)
    assert avg_dy_base > 0.8 * gdy, (avg_dy_base, gdy)
    assert avg_dy < 0.5 * avg_dy_base, (avg_dy, avg_dy_base)


def test_perplexity_proxy_stays_jvm_and_join_shaped(spark):
    """LM scoring must be pure JVM (no Python eval anywhere) and the
    score join must be a real equi-join — the only nested-loop
    allowed is the broadcast of the 1-row vocab scalar."""
    df = QUERIES["text_perplexity_proxy"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("ArrowEvalPython" in n or "BatchEvalPython" in n for n in nodes), nodes
    assert not any(n == "CartesianProduct" for n in nodes), nodes
    assert any("Join" in n for n in nodes), nodes


def test_ema_fuses_all_lags_into_one_window(spark):
    """All 8 lag() calls share one window spec, so the plan must carry
    exactly ONE Window node — 8 sorts would be the naive shape."""
    df = QUERIES["ts_ema_smoothing"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n.startswith("Window")) == 1, nodes


def test_cusum_broadcasts_type_stats(spark):
    """The per-type stats relation (5 rows) joins back by broadcast,
    never a shuffle join of the daily curve."""
    df = QUERIES["ts_changepoint_cusum"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes


def test_countmin_probe_join_is_broadcast(spark):
    """The d*w-bounded sketch table must be the broadcast build side of
    the probe join — the probe relation is 30 rows, the sketch 1024;
    neither may shuffle the token stream a second time."""
    df = QUERIES["sketch_countmin"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any(n == "CartesianProduct" for n in nodes), nodes


def test_zorder_scan_prunes_to_three_columns(spark):
    """The bucket aggregate needs only (o_custkey, o_orderdate);
    Catalyst must prune every other orders column from the scan —
    including o_orderkey, which the pre-aggregate projection carries
    but the aggregate never consumes."""
    df = QUERIES["files_zorder_cluster"](spark, SF_DIR)
    plan = plan_of(df)
    assert "o_custkey" in plan and "o_orderdate" in plan
    assert "o_totalprice" not in plan and "o_comment" not in plan


def test_bloom_runtime_filter_injected(spark):
    """In the pinned shuffle-join regime the optimizer must inject a
    Bloom runtime filter: might_contain(...) applied on the fact side
    BEFORE its shuffle (the map-side semi-join reduction that matters
    when the dim is too big to broadcast)."""
    df = QUERIES["join_bloom_runtime_filter"](spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "might_contain" in opt or "bloom" in opt, opt[:2000]


def test_containment_caches_shingle_relation(spark):
    """The df-capped shingle relation feeds four consumers; each must
    read the CACHE (InMemoryTableScan), not recompile the
    explode+distinct subtree."""
    df = QUERIES["dedup_containment"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3, plan[:1500]


def test_stl_broadcasts_seasonal_and_reuses_daily_aggregate(spark):
    """The ≤|types|·7-row seasonal relation joins back broadcast, and
    the seasonal branch's recompiled daily-aggregate subtree must be
    deduplicated at runtime (ReusedExchange) — the events fact is
    SCANNED AND AGGREGATED ONCE; only the cheap Window over the tiny
    day×type relation runs per branch."""
    df = QUERIES["ts_stl_decompose"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:1500]


def test_winsorized_joins_cuts_broadcast(spark):
    """The 5-row cutpoint relation must be the broadcast build side;
    the fact reaches the counts aggregate through a partial
    (map-side-combining) HashAggregate pair and is never shuffled
    raw."""
    df = QUERIES["agg_winsorized_trimmed"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any(n == "CartesianProduct" for n in nodes), nodes
    assert sum(1 for n in nodes if n.startswith("HashAggregate")) >= 2, nodes


def test_reservoir_sample_is_two_phase_not_window(spark):
    """The fixed-k sample must use the two-phase top-k merge — NO
    Window node (a per-lang window sort concentrates the corpus on
    |langs| reducers)."""
    df = QUERIES["sample_reservoir_per_group"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n.startswith("Window") for n in nodes), nodes
    assert sum(1 for n in nodes if "Aggregate" in n) >= 2, nodes


def test_kmv_sketch_is_two_phase_not_window(spark):
    """All three k-minimum sketches merge via the two-phase pattern in
    ONE pass over the distinct-user relation — no Window sort, no
    cartesian."""
    df = QUERIES["sketch_kmv_set_ops"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n.startswith("Window") for n in nodes), nodes
    assert not any(n == "CartesianProduct" for n in nodes), nodes


def test_list_parity_is_map_only_jvm(spark):
    """Every array accessor is a JVM collection expression: no Python
    eval, no Join; the only Exchange is the presentation sort's range
    partitioning."""
    df = QUERIES["list_funcs_parity"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("EvalPython" in n for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes


def test_holt_kernel_is_one_arrow_stage_on_aggregate(spark):
    """The Holt recursion runs as ONE ArrowEvalPython/FlatMapGroups
    stage over the day×type aggregate — the fact reaches it through a
    partial HashAggregate pair, never raw."""
    df = QUERIES["ts_holt_linear"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "FlatMapGroupsInPandas" in n) == 1, nodes
    assert sum(1 for n in nodes if n.startswith("HashAggregate")) >= 2, nodes


def test_semantic_dedup_pairs_only_inside_clusters(spark):
    """The SemDeDup tractability bound in the plan: after the Arrow
    assignment stage there is exactly ONE data shuffle (on the
    (cluster, sub) id) feeding one FlatMapGroupsInPandas, and the only
    join is the BROADCAST of the oversized-cluster relation (empty on
    healthy data) — pairwise cosine work can only happen inside a
    cluster sub-block's task, and the big relation never sort-merges."""
    from duckdb_sudan__spark.operators.similarity import kmeans_lloyd_history, semantic_dedup

    _, _, cent = kmeans_lloyd_history(spark, SF_DIR)
    df = semantic_dedup(spark, SF_DIR, cent=cent)
    nodes = plan_nodes(df)
    assert not any("SortMergeJoin" in n or "CartesianProduct" in n for n in nodes), nodes
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) == 1, nodes
    assert any("FlatMapGroupsInPandas" in n for n in nodes)
    shuffles = [
        n for n in nodes if "Exchange" in n and "Sort" not in n and "Broadcast" not in n
    ]
    # hashpartitioning(cluster, sub) for the decide + the cluster-grain
    # counts aggregate (K-row relation, feeds the broadcast) + output
    # rangepartitioning — the big relation shuffles exactly once
    assert len(shuffles) <= 3, shuffles
    plan = plan_of(df)
    assert plan.count("hashpartitioning(cluster") == 2, plan
    assert "sub#" in plan.split("FlatMapGroupsInPandas")[0] or ", sub" in plan
    assert "InMemoryTableScan" in plan  # one Arrow assignment, two consumers


# ---------------------------------------------------------------------------
# r8 wave plan pins
# ---------------------------------------------------------------------------


def test_cohort_ltv_single_scan_window_on_aggregate(spark):
    """The fact table is scanned ONCE into the cached (user, week)
    grain (InMemoryTableScan feeds the other consumers); the
    cumulative window consumes the (cohort, age) aggregate (aggs sit
    below the Window in execution order) and the cohort-size join
    broadcasts."""
    df = QUERIES["ev_cohort_ltv"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("events.parquet") <= 1, plan[:3000]
    assert "InMemoryTableScan" in plan
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    widx = max(i for i, n in enumerate(nodes) if n == "Window")
    assert any("HashAggregate" in n for n in nodes[:widx]), nodes


def test_drawdown_stacked_windows_share_one_sort(spark):
    """peak consumes cum, so the two Window nodes cannot fuse — but
    they must compile BACK-TO-BACK (same partition+order: no Exchange
    or Sort between them), over the daily aggregate, one scan."""
    df = QUERIES["ts_drawdown"](spark, SF_DIR)
    nodes = plan_nodes(df)
    widx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert len(widx) == 2, nodes
    assert widx[1] == widx[0] + 1, nodes  # nothing between the two
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)


def test_pattern_match_single_shuffle_no_join(spark):
    """The journey-cap window (row_number DESC <= cap) and the
    collect_list aggregate share the user_id partitioning, so the cap
    costs NO extra exchange: one hashpartitioning(user_id) total."""
    df = QUERIES["ev_pattern_match_regex"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert plan_of(df).count("hashpartitioning(user_id") == 1


def test_outlier_iqr_scans_events_once_and_broadcasts_quantiles(spark):
    """One fact scan: the cached counts relation feeds both the
    quantile derivation and the fence test (InMemoryTableScan), and
    the per-type quantile row broadcasts."""
    df = QUERIES["ts_outlier_iqr"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("events.parquet") <= 1, plan[:2000]
    assert "InMemoryTableScan" in plan
    nodes = plan_nodes(df)
    assert any("BroadcastHashJoin" in n for n in nodes)


def test_pit_features_one_window_one_shuffle(spark):
    """All four point-in-time features share the strictly-before RANGE
    frame: one Window node, one shuffle, no join, no second scan."""
    df = QUERIES["ml_pointintime_features"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Window") == 1, nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)
    assert shuffle_count(nodes) <= 2  # user partition + output range sort


def test_chunk_exact_no_pair_stage(spark):
    """Cross-doc test is the min<max aggregate + mark-back join — no
    self-join of the chunk relation at instance grain (no pair
    blow-up on a hot boilerplate chunk)."""
    df = QUERIES["dedup_chunk_exact"](spark, SF_DIR)
    nodes = plan_nodes(df)
    joins = [n for n in nodes if "Join" in n]
    assert len(joins) <= 1, nodes  # only the mark-back
    assert not any("CartesianProduct" in n for n in nodes)


def test_zipf_fit_single_scan_window_on_vocab(spark):
    df = QUERIES["corpus_zipf_fit"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1
    assert not any("Join" in n for n in nodes)


def test_pivot_dynamic_two_job_single_main_shuffle(spark):
    """The dynamic form is TWO jobs by design: building the plan
    already ran the distinct pre-job (pivot values are baked into the
    analyzed schema — asserting the columns exist proves it), and the
    MAIN job is one partial-agg shuffle on cohort plus the output
    sort; no join anywhere."""
    df = QUERIES["pivot_dynamic"](spark, SF_DIR)
    assert set(df.columns) >= {"cohort", "view", "click", "purchase"}, df.columns
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    # Spark's pivot lowers to a (cohort, event_type) count -> a
    # pivotfirst agg on cohort -> output sort: three exchanges, every
    # one fed by a partial aggregate (map-side combine throughout)
    assert shuffle_count(nodes) <= 3, nodes
    plan = plan_of(df)
    assert "partial_pivotfirst" in plan and "partial_count" in plan, plan[:2500]


def test_pq_adc_broadcast_rerank_no_big_shuffle(spark):
    """The PQ scan's scale shape: the corpus is read exactly twice
    (encode pass + rerank probe), both joins BROADCAST the small side
    (candidates / query vectors) so the embedding relation never
    shuffles or sort-merges, and the only exchanges carry the
    R·|Q|-row scored/reranked relations."""
    df = QUERIES["ann_pq_adc"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 2, nodes
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) == 2, nodes
    assert not any("SortMergeJoin" in n or "CartesianProduct" in n for n in nodes), nodes
    plan = plan_of(df)
    # every data exchange is keyed on query_id (small relations only)
    assert plan.count("hashpartitioning(") == plan.count("hashpartitioning(query_id"), plan[:3000]


def test_exact_stratified_distributed_rank_no_lang_window(spark):
    """The scale pin for the r8 verdict's one `weak`: NO window over
    the raw documents table may partition by lang alone (that funnels
    a whole stratum to one reducer at 100 TB). The big-table rank must
    run per (slice, lang) — hashpartitioning carrying the slice id —
    with lang-only windows allowed solely on the slices×langs counts
    relation, and the offset join must broadcast."""
    df = QUERIES["sample_exact_stratified"](spark, SF_DIR)
    plan = plan_of(df)
    # r10: slices are content-derived (md5 prefix), so the two
    # consumers recompute them independently — NO cache pin left
    # (the r9 InMemoryTableScan is gone by design), two column-pruned
    # scans instead
    assert "InMemoryTableScan" not in plan
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 2, nodes
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n for n in nodes), nodes
    # the big-side window partitions by (slice, lang), not lang alone
    assert "hashpartitioning(slice" in plan, plan[:4000]
    # lang-only partitionings: only the counts-relation windows (<=1)
    lang_only = plan.count("hashpartitioning(lang")
    assert lang_only <= 1, plan[:4000]


# ---------------------------------------------------------------------------
# r9 wave plan pins
# ---------------------------------------------------------------------------


def test_unpivot_dynamic_expand_no_extra_shuffle(spark):
    """The melt is a zero-shuffle Expand over the pivot's output; the
    exchanges are the pivot's own partial-agg pair plus the output
    sort."""
    df = QUERIES["unpivot_dynamic"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any(n == "Expand" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert shuffle_count(nodes) <= 3, nodes


def test_basket_pairs_bounded_self_join(spark):
    """The pair self-join keys on l_orderkey (per-order groups are
    line-count bounded, so output is linear) and never degenerates to
    a cartesian; the two-column distinct and the pair join are the
    only wide stages before the 20-row ordered limit."""
    df = QUERIES["orders_basket_pairs"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n or "BroadcastNestedLoop" in n for n in nodes), nodes
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_user_overlap_totals_broadcast(spark):
    """The per-type totals (|event_types| rows) broadcast back onto
    the pair counts; the only non-broadcast join is the user-keyed
    self-join whose per-user output is C(|types|, 2)-bounded."""
    df = QUERIES["ev_user_overlap_jaccard"](spark, SF_DIR)
    nodes = plan_nodes(df)
    # 2 totals broadcasts; AQE may additionally broadcast the user
    # self-join at toy SF (at scale it reverts to a shuffle join on
    # user_id — both sides are fact-sized)
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) >= 2, nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_cumulative_users_window_on_day_grain(spark):
    """The global-order running sum consumes the DAILY aggregate
    (calendar-bounded), never the raw events: the Window node sits
    above both HashAggregates, and the fact table is scanned once."""
    df = QUERIES["ts_cumulative_distinct_users"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    widx = max(i for i, n in enumerate(nodes) if n == "Window")
    # plan_nodes lists upstream-first: both aggregates must sit at
    # lower indices than the window (user-grain min + day-grain count)
    aggs_upstream = sum(1 for n in nodes[:widx] if "HashAggregate" in n)
    assert aggs_upstream >= 2, nodes


def test_inter_event_gaps_single_exchange(spark):
    """The lag window and nothing else shuffles the fact table: one
    hashpartitioning on (user_id, event_type), then the type rollup
    partial-aggregates."""
    df = QUERIES["ev_inter_event_gaps"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan[:3000]
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes


def test_business_days_codegen_join_no_forced_broadcast(spark):
    """The weekday arithmetic stays in codegen (no Python stage) and
    the orders⋈lineitem join is AQE's choice — the plan must not
    contain a Python/Arrow eval node, and the final rollup is one
    partial aggregate on priority."""
    df = QUERIES["dt_business_days"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Arrow" in n or "Python" in n or "FlatMap" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 2, nodes
    plan = plan_of(df)
    assert "partial_count" in plan or "partial_sum" in plan or "HashAggregate" in plan


def test_session_depth_windows_share_user_exchange(spark):
    """The gap lag and the running session-id sum share the user_id
    partitioning: exactly ONE hashpartitioning(user_id) for the
    window pair, with the (user, sess) depth aggregate riding it."""
    df = QUERIES["ev_session_depth_histogram"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan[:3000]
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes


def test_target_encoding_broadcast_aggregate_back(spark):
    """LOO encoding is ONE category aggregate (5 rows at any SF)
    broadcast back onto the fact scan — no window over the fact
    table, no self-join, no second scan... except the aggregate's own
    branch; the category relation is genuinely broadcast-able at
    100 TB (cardinality = |priorities|, not |orders|)."""
    df = QUERIES["ml_target_encoding_loo"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) == 1, nodes
    assert not any("SortMergeJoin" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_feature_crosses_map_side_bucket(spark):
    """The bucket id is map-side md5 arithmetic: a single scan, no
    join, and the only exchanges belong to the bucket aggregate (the
    distinct-cross count adds its expand pass)."""
    df = QUERIES["ml_feature_crosses_hashed"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_top_movers_windows_on_weekly_grain(spark):
    """Both windows (WoW lag, per-week rank) consume the weeks×types
    aggregate: the Window nodes sit above the HashAggregate pair, and
    the fact table pays exactly one partial-agg shuffle."""
    df = QUERIES["win_top_movers_wow"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    widx = min(i for i, n in enumerate(nodes) if n == "Window")
    assert any("HashAggregate" in n for n in nodes[:widx]), nodes


def test_bigram_entropy_single_scan_two_rollups(spark):
    """One fact scan feeds the (lang, bigram) count and the lang
    rollup; no join, no window, every exchange fed by a partial
    aggregate."""
    df = QUERIES["corpus_bigram_entropy_bits"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    plan = plan_of(df)
    assert "partial_count" in plan, plan[:2000]


def test_ivfpq_broadcast_probes_no_big_shuffle(spark):
    """IVFADC's scale shape: probes (|Q|·nprobe rows) BROADCAST onto
    the encoded corpus (cell equi-join — partition pruning at scale),
    candidates and query vectors broadcast into the rerank; the
    embedding relation never sort-merges, and all data exchanges are
    query_id-keyed small relations."""
    df = QUERIES["ann_ivfpq"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("SortMergeJoin" in n or "CartesianProduct" in n for n in nodes), nodes
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) == 3, nodes
    plan = plan_of(df)
    assert plan.count("hashpartitioning(") == plan.count("hashpartitioning(query_id"), plan[:3000]


def test_auc_window_on_score_grain(spark):
    """The rank-sum AUC never ranks the raw table: the global-order
    cumulative window consumes the score-grain aggregate (bounded
    cents domain) — HashAggregate upstream of the Window — and the
    fact table pays exactly one partial-agg shuffle. No join."""
    df = QUERIES["ml_auc_exact"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes
    widx = min(i for i, n in enumerate(nodes) if n == "Window")
    assert any("HashAggregate" in n for n in nodes[:widx]), nodes


def test_temporal_split_scalar_broadcast(spark):
    """The horizon is a 1-row broadcast (BroadcastNestedLoopJoin on a
    scalar is the accepted shape); the split expression is map-side
    and the rollup partial-aggregates."""
    df = QUERIES["ml_temporal_split"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastNestedLoop" in n or "BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n or n == "CartesianProduct" for n in nodes), nodes


def test_trade_balance_broadcast_dims_two_rollups(spark):
    """The constant-size nation dim is force-broadcast into both
    rollups; supplier/customer scale with SF so their join strategy is
    AQE's (broadcast at toy SF — the pin must NOT force it, per the
    orders_basket_pairs rule); each fact is scanned once and
    partial-aggregates before its exchange."""
    df = QUERIES["q_nation_trade_balance"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) >= 2, nodes  # the 2 nation joins
    assert not any("CartesianProduct" in n for n in nodes), nodes
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 1 and plan.count("orders.parquet") == 1


def test_entry_exit_no_window_two_aggs(spark):
    """First/last touch via min/max over struct — map-combinable
    aggregates, NO window, no join: one shuffle on user, one on the
    matrix cells."""
    df = QUERIES["ev_entry_exit_matrix"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Scan parquet") == 1, nodes


def test_bot_heuristic_double_threshold_broadcast(spark):
    """The data-derived threshold is a 1-row broadcast compared in a
    cross-multiplied DOUBLE form (n_events * total_users >
    1.25 * total_events): division-free for cross-engine rounding
    parity, and deliberately NOT bigint multiply — at 100 TB
    n_events * total_users overflows int64, while the double product
    is exact far past any per-user event count and only gates a >
    comparison (olap17.py ev_bot_users_heuristic). Do not "optimize"
    this back to integer arithmetic. The per-user aggregate is the
    only fact shuffle."""
    df = QUERIES["ev_bot_users_heuristic"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastNestedLoop" in n or "BroadcastHashJoin" in n for n in nodes), nodes
    plan = plan_of(df)
    assert plan.count("events.parquet") <= 1, plan[:2000]
    assert "InMemoryTableScan" in plan  # cached user-grain counts, two consumers


@pytest.mark.parametrize("key", ["ml_lift_gain_curve", "ml_roc_curve_binned"])
def test_r11_curves_window_only_over_binned_grid(spark, key):
    """Gains/ROC curves cumulate over the ≤1000-row score-bin
    aggregate, never the raw events: the Window sits downstream of the
    first HashAggregate pair (upstream-first node order)."""
    df = QUERIES[key](spark, SF_DIR)
    nodes = plan_nodes(df)
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    assert wins and aggs, nodes
    assert min(wins) > min(aggs), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_ece_single_pass_no_window(spark):
    """ECE telescopes to integer sums over the bin aggregate — two
    HashAggregate pairs, no window, no join."""
    df = QUERIES["ml_calibration_ece"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 4, nodes


def test_psi_windows_bounded_and_scalar_broadcast(spark):
    """PSI: the week anchor is a 1-row broadcast onto the scan; the
    totals window runs over the ≤10-row bin aggregate (downstream of
    the first HashAggregate); no sort-merge join anywhere."""
    df = QUERIES["ml_psi_drift_bits"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastNestedLoop" in n for n in nodes), nodes
    assert not any("SortMergeJoin" in n for n in nodes), nodes
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    assert wins and aggs and min(wins) > min(aggs), nodes


def test_hhi_aggregates_fact_before_dim_join(spark):
    """HHI: orders aggregate to customer grain BEFORE the broadcast
    dim join (the join moves |customers| rows, not |orders|) — the
    BroadcastHashJoin sits downstream of the first HashAggregate."""
    df = QUERIES["agg_hhi_concentration"](spark, SF_DIR)
    nodes = plan_nodes(df)
    joins = [i for i, n in enumerate(nodes) if "BroadcastHashJoin" in n]
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert joins and aggs, nodes
    assert min(joins) > min(aggs), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_intersect_area_single_stage_no_shuffle_before_sort(spark):
    """The clip is one Arrow map over the 18-row boundary relation —
    no Exchange other than the final orderBy's range partitioning."""
    df = QUERIES["sudan_state_intersect_area"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert shuffle_count(nodes) <= 1, nodes


@pytest.mark.parametrize("key", [
    "ml_best_f1_threshold", "q_topn_with_other", "q_rank_stability_spearman",
    "ts_intervention_did",
])
def test_r11_late_wave_windows_above_first_aggregate(spark, key):
    """Wave 6-9 entries with rank/cell windows: every Window sits
    downstream of the first HashAggregate (bounded relations only —
    bin grids, (nation × brand) aggregates, 4-row DiD cells), and no
    plan contains a cartesian product."""
    df = QUERIES[key](spark, SF_DIR)
    nodes = plan_nodes(df)
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert wins and aggs and min(wins) > min(aggs), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


@pytest.mark.parametrize("key", [
    "ml_kfold_balance", "ev_dose_response_conversion", "emb_norm_histogram",
    "ml_calibration_ece",
])
def test_r11_map_side_rollups_no_window_no_join(spark, key):
    """Pure map-assign + bounded-rollup entries: no Window, no join of
    any kind — the whole plan is scan → project → partial/final
    HashAggregate pairs."""
    df = QUERIES[key](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


def test_xcorr_joins_only_after_daily_aggregate(spark):
    """Cross-correlation joins the day grid to itself and to the
    broadcast lag table ONLY after the daily aggregate — the raw fact
    table is scanned once and never joined."""
    df = QUERIES["ts_cross_correlation_lags"](spark, SF_DIR)
    nodes = plan_nodes(df)
    joins = [i for i, n in enumerate(nodes) if "Join" in n]
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert joins and aggs and min(joins) > min(aggs), nodes
    plan = plan_of(df)
    assert plan.count("events.parquet") <= 2, plan[:1500]


# ---------------------------------------------------------------------------
# r11 wave 12 pins
# ---------------------------------------------------------------------------

def test_mcc_map_side_cells(spark):
    """MCC collapses the fact table to ONE 4-cell row map-side: no
    window, no join, partial+final HashAggregate pair."""
    df = QUERIES["ml_mcc_binary"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


def test_mann_kendall_cached_grid_broadcast_pairs(spark):
    """The day grid is cached (four consumers, ONE fact scan — AQE
    doesn't reuse exchanges across independent consumers) and the
    non-equi pair join broadcasts, never a CartesianProduct."""
    df = QUERIES["ts_mann_kendall"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "InMemoryTableScan" in n) >= 3, nodes
    assert any("BroadcastNestedLoopJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_time_to_nth_window_exchange_reused_by_groupby(spark):
    """The rn<=3 window and the per-user conditional-MIN groupBy share
    the user_id partitioning — one hash exchange total (plus the final
    single-partition rollup), no join."""
    df = QUERIES["ev_time_to_nth_event"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 1, nodes
    assert shuffle_count(nodes) <= 2, nodes


def test_ntile_window_then_bounded_rollup(spark):
    """NTILE runs over customers per segment; the quartile rollup and
    final sort touch only the 20-cell aggregate. No join anywhere."""
    df = QUERIES["win_ntile_parity"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 1, nodes


def test_simpson_vocab_grain_no_join(spark):
    """Simpson's lambda aggregates at vocabulary grain then language
    grain — two HashAggregate pairs, no window, no join: the token
    stream never leaves the map side un-combined past (lang, token)."""
    df = QUERIES["text_simpson_diversity"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 3, nodes


def test_ndcg_takeordered_and_broadcast_scalars(spark):
    """Top-k is TakeOrderedAndProject (per-partition heap + driver
    merge of k rows — scale-safe); the discount table and the scalar
    joins broadcast; no CartesianProduct."""
    df = QUERIES["ml_ndcg_at_k"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("TakeOrderedAndProject" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("Broadcast" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 13 pins
# ---------------------------------------------------------------------------

def test_kappa_map_side_cells(spark):
    """Kappa is the same one-scan 4-cell map-side aggregate as MCC."""
    df = QUERIES["ml_cohens_kappa"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


def test_bollinger_window_on_day_grid_only(spark):
    """The 7-row band frame runs over the calendar-bounded (type, day)
    grid — every Window sits above the first HashAggregate; no join."""
    df = QUERIES["ts_bollinger_breaches"](spark, SF_DIR)
    nodes = plan_nodes(df)
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert wins and aggs and min(wins) > min(aggs), nodes
    assert not any("Join" in n for n in nodes), nodes


def test_signup_purchase_user_grain_join(spark):
    """Signups collapse to one row per user BEFORE the purchase join
    (the first HashAggregate precedes the join), and the equi-join
    never degenerates to a cartesian."""
    df = QUERIES["ev_signup_to_first_purchase"](spark, SF_DIR)
    nodes = plan_nodes(df)
    joins = [i for i, n in enumerate(nodes) if "Join" in n]
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert joins and aggs and min(aggs) < min(joins), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_shared_borders_edge_equi_join(spark):
    """Adjacency is an EQUI-join on the canonical edge key — never a
    pairwise polygon-x-polygon test (no nested-loop, no cartesian)."""
    df = QUERIES["sudan_states_shared_borders"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any(n.endswith("HashJoin") or "SortMergeJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 14 pins
# ---------------------------------------------------------------------------

def test_mrr_user_grain_window_then_rollup(spark):
    """MRR's window runs per user and the groupBy reuses the user_id
    partitioning — no join, one Window, at most the final rollup
    exchange on top of the user hash exchange."""
    df = QUERIES["ml_mrr_per_user"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 1, nodes
    assert shuffle_count(nodes) <= 2, nodes


def test_session_cooc_cached_distinct_and_broadcast_dims(spark):
    """The distinct (user, session, type) relation is cached (three
    consumers, one stream scan) and the per-type/totals sides join by
    broadcast; no cartesian (the 1-row totals crossJoin plans as
    BroadcastNestedLoopJoin)."""
    df = QUERIES["ev_session_type_cooccurrence"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "InMemoryTableScan" in n) >= 3, nodes
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_iso_week_map_assign_rollup(spark):
    """ISO week assignment is a pure projection: scan -> project ->
    partial/final HashAggregate, no window, no join."""
    df = QUERIES["ts_iso_week_revenue"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


# ---------------------------------------------------------------------------
# r11 wave 15 pins
# ---------------------------------------------------------------------------

def test_survival_user_grain_then_bounded_grid(spark):
    """The stream reduces at USER grain in one partial agg; the horizon
    scalar broadcasts; both cumulative windows run on the bounded
    days-since-first grid (no window touches the raw stream: exactly
    one pre-window aggregate exchange on user_id)."""
    df = QUERIES["ev_survival_km_censored"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("BroadcastNestedLoopJoin" in n or "BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 2, nodes


def test_regression_metrics_broadcast_predictors(spark):
    """The 5-row segment predictor and the 1-row global baseline join
    back as broadcasts; the only wide exchanges are the orders⋈customer
    hash join and the bounded rollups. No window, no cartesian blowup
    (the 1-row baseline crossJoin is a broadcast nested loop)."""
    df = QUERIES["ml_regression_metrics"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if "BroadcastHashJoin" in n) >= 1, nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_benford_map_side_digit_histogram(spark):
    """Digit extraction is a map-side project pushed onto the scan; the
    ≤9-group histogram hash-aggregates with partial combine; the Benford
    table and total join as broadcasts. Filter is pushed to parquet."""
    df = QUERIES["agg_benford_digits"](spark, SF_DIR)
    nodes = plan_nodes(df)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan, plan
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_welch_two_group_map_side_moments(spark):
    """Both groups reduce to (n, S, Q) map-side in ONE scan (the IN
    filter is pushed); the pivot + final math is a 1-row select — no
    join, no window, two HashAggregate pairs."""
    df = QUERIES["stats_welch_ttest"](spark, SF_DIR)
    nodes = plan_nodes(df)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "In(event_type" in plan, plan
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 4, nodes


# ---------------------------------------------------------------------------
# r11 wave 16 pins
# ---------------------------------------------------------------------------

def test_price_index_part_year_grain_single_base_join(spark):
    """Lineitem reduces at (part, year) grain once (cached for base
    slice + year slices); the base-year basket joins part-to-part —
    no year×year pair stage, no cartesian; the MIN(y) scalar
    broadcasts."""
    df = QUERIES["q_price_index_laspeyres"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("InMemoryTableScan" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_growth_accounting_one_user_window_then_week_grid(spark):
    """Exactly two windows: the user-grain lag over the distinct
    (user, week) relation and the week-grid churn lag; no join; the
    distinct collapses map-side before the window exchange."""
    df = QUERIES["ev_growth_accounting"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 2, nodes


def test_duplicate_suspects_blocked_equi_join(spark):
    """The pair stage is a hash equi-join on (custkey, bucket) — the
    date window and canonical order are post-join filters inside tiny
    groups; never a cartesian or broadcast of the full fact."""
    df = QUERIES["q_duplicate_order_suspects"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n or "BroadcastHashJoin" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 17 pins
# ---------------------------------------------------------------------------

def test_tz_localize_map_only_rollup(spark):
    """from_utc_timestamp folds into the scan projection — no join, no
    window, one bounded (year, hour) hash aggregate."""
    df = QUERIES["dt_tz_localize_ny"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


def test_two_hop_degree_capped_joins(spark):
    """The hop join and the direct-edge anti-join run over the cached
    k-NN edge list (degree ≤ k, so fan-out is bounded); no cartesian
    product anywhere."""
    df = QUERIES["graph_two_hop_neighborhood"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("InMemoryTableScan" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 18 pins
# ---------------------------------------------------------------------------

def test_concordance_pairs_on_cached_grid_only(spark):
    """The pair stage joins the cached (t, ev, score) grid to itself —
    user-grain rows never reach a join; the horizon scalar broadcasts;
    the range condition rides a broadcast nested-loop over the bounded
    grid, never over users."""
    df = QUERIES["ml_concordance_index"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("InMemoryTableScan" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_xyz_part_grain_integer_classification(spark):
    """Two aggregate rungs (part-year, then part) plus the broadcast
    period-count scalar; classification is a map-side integer compare —
    no window, no sort before the 3-row rollup's own."""
    df = QUERIES["q_demand_variability_xyz"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 4, nodes


def test_ate_ntile_on_reduced_user_relation(spark):
    """The NTILE window runs on the user-grain REDUCED relation (one
    pre-window aggregate), and the stratum rollup is bounded — no join
    anywhere in the plan."""
    df = QUERIES["ml_stratified_ate"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 2, nodes


# ---------------------------------------------------------------------------
# r11 wave 19 pins
# ---------------------------------------------------------------------------

def test_footer_stats_map_in_pandas_over_file_list(spark):
    """The footer audit is a MapInPandas over the parallelized file
    list — no parquet data-page scan of any test table appears in the
    plan (footers only), no join, no window."""
    df = QUERIES["files_parquet_footer_stats"](spark, SF_DIR)
    plan = plan_of(df)
    nodes = plan_nodes(df)
    assert any("MapInPandas" in n for n in nodes), nodes
    assert "FileScan parquet" not in plan, plan
    assert not any("Join" in n for n in nodes), nodes


def test_gini_single_global_rank_then_two_accumulators(spark):
    """One global rank window over documents, then a 1-row aggregate —
    no join; the post-window reduce is map-combined."""
    df = QUERIES["corpus_doc_length_gini"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Window") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 20 pins
# ---------------------------------------------------------------------------

def test_url_parse_map_only_grid(spark):
    """parse_url is a pure projection over the constant grid — no
    join, no window, no aggregate."""
    df = QUERIES["str_url_parse_parity"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n in ("Window", "HashAggregate") for n in nodes), nodes


def test_revenue_bridge_consecutive_year_self_join(spark):
    """The bridge self-joins the cached (part, year) aggregate on
    partkey with the year+1 equi-condition — a hash join, never a
    cartesian year×year stage."""
    df = QUERIES["q_revenue_bridge_pvm"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("InMemoryTableScan" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes), nodes


def test_jackknife_nation_grain_broadcast_total(spark):
    """One fact join (orders⋈customer), one nation-grain rollup, the
    global-moments scalar broadcast back — no window over the fact."""
    df = QUERIES["ml_jackknife_ci"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert any("Broadcast" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 21 pins
# ---------------------------------------------------------------------------

def test_cost_curve_windows_on_bin_grid(spark):
    """Cost and argmin windows run on the ≤1000-bin aggregate only —
    one pre-window HashAggregate pair, no join."""
    df = QUERIES["ml_threshold_cost_curve"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    # leaf-first listing: the bin aggregate must come before any window
    assert win_idx and agg_idx and max(agg_idx) < min(win_idx), nodes


def test_srm_distinct_then_ten_cells(spark):
    """Exposure dedups map-side, then a 5×2-cell aggregate — no window,
    no join."""
    df = QUERIES["ev_ab_srm_check"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_compression_partials_in_kernel(spark):
    """The deflate kernel emits (lang, decile) PARTIAL cells, so the
    shuffle after MapInPandas carries cell rows, not doc rows."""
    df = QUERIES["text_compression_ratio"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("MapInPandas" in n for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 22 pins
# ---------------------------------------------------------------------------

def test_ztest_user_day_grain_then_four_cells(spark):
    """One (user, day) reduce, then the 2×2 cell aggregate and a 1-row
    select — no join, no window."""
    df = QUERIES["ml_two_proportion_ztest"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_neyman_windows_only_on_strata_relation(spark):
    """The fact join reduces to 5 strata cells; every window (total
    weight, rank, top-up) runs on that bounded relation — aggregates
    strictly before windows in the leaf-first plan."""
    df = QUERIES["sample_stratified_neyman"](spark, SF_DIR)
    nodes = plan_nodes(df)
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert win_idx and agg_idx and max(agg_idx) < min(win_idx), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_interval_union_single_user_partitioning(spark):
    """The sweep's two windows and the island reduce all share the
    user_id partitioning — the raw stream is exchanged once for the
    window, and no join appears."""
    df = QUERIES["ev_interval_union_coverage"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 2, nodes
    assert shuffle_count(nodes) <= 3, nodes


# ---------------------------------------------------------------------------
# r11 wave 23 pins
# ---------------------------------------------------------------------------

def test_cuped_one_conditional_pass(spark):
    """Pre/experiment split is ONE conditional aggregation over the
    stream (broadcast cutoff scalar), then a 1-row cell select — no
    second scan-side join, no window."""
    df = QUERIES["ev_cuped_adjustment"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any(n == "Window" for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert sum(1 for n in nodes if "Scan parquet" in n) <= 2, nodes


def test_auc_by_group_rank_within_quartile(spark):
    """Quartiles come from the user-grain reduce; the rank window
    partitions by quartile (4 partitions after the broadcast-able
    user→quartile join); each group collapses to 3 integers."""
    df = QUERIES["ml_auc_by_group"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert sum(1 for n in nodes if n == "Window") == 3, nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_fiscal_rollup_map_assign_only(spark):
    """FY/FQ are pure integer projections on the scan — one bounded
    hash aggregate, no join, no window."""
    df = QUERIES["dt_fiscal_calendar_rollup"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


# ---------------------------------------------------------------------------
# r11 wave 24 pins
# ---------------------------------------------------------------------------

def test_parity_grids_constant_relations(spark):
    """The two engine-parity grids never touch a parquet scan — pure
    constant relations with map-only projections (plus the ranking
    windows in the NULLS grid)."""
    for key in ("num_round_even_parity", "win_nulls_ordering_parity"):
        plan = plan_of(QUERIES[key](spark, SF_DIR))
        assert "FileScan parquet" not in plan, (key, plan)


def test_convex_hull_single_arrow_stage(spark):
    """The hull runs in one Arrow map stage over the 18-row boundary
    relation — no join, no window, no shuffle beyond the final sort."""
    df = QUERIES["sudan_state_convex_hull"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert any("ArrowEvalPython" in n or "Project" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 25 pins
# ---------------------------------------------------------------------------

def test_weighted_median_windows_on_price_cells(spark):
    """Lineitem pre-aggregates to (flag, price) cells map-side; the
    running-weight windows and the selection rank run on that reduced
    relation — aggregates strictly before windows, no join."""
    df = QUERIES["agg_weighted_median"](spark, SF_DIR)
    nodes = plan_nodes(df)
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert win_idx and agg_idx and max(agg_idx) < min(win_idx), nodes
    assert not any("Join" in n for n in nodes), nodes


def test_semantics_grids_constant_relations(spark):
    """The month-arithmetic and NULL-semantics grids never scan
    parquet."""
    for key in ("dt_month_arith_edges", "agg_empty_null_semantics"):
        plan = plan_of(QUERIES[key](spark, SF_DIR))
        assert "FileScan parquet" not in plan, (key, plan)


# ---------------------------------------------------------------------------
# r11 wave 26 pins
# ---------------------------------------------------------------------------

def test_tier_migration_ntile_on_customer_year_cells(spark):
    """Orders reduce to (customer, year) cells before the per-year
    NTILE; the adjacent-year pairing joins the cached tier relation on
    custkey — no cartesian, aggregates before windows."""
    df = QUERIES["q_tier_migration_matrix"](spark, SF_DIR)
    nodes = plan_nodes(df)
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert win_idx and agg_idx and min(agg_idx) < min(win_idx), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("InMemoryTableScan" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 27 pins
# ---------------------------------------------------------------------------

def test_pettitt_pairs_on_cached_day_grid(spark):
    """The sign-pair join runs over the cached calendar-bounded daily
    aggregate (quadratic in days, never rows); U_t and the argmax are
    windows on that grid."""
    df = QUERIES["ts_pettitt_changepoint"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert any("InMemoryTableScan" in n for n in nodes), nodes
    assert not any("CartesianProduct" in n for n in nodes), nodes


def test_ap_windows_on_bin_grid(spark):
    """AP shares the binned family's shape: one bin aggregate, then
    windows and the final 1-row reduce on the grid only."""
    df = QUERIES["ml_average_precision_binned"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert win_idx and agg_idx and min(agg_idx) < min(win_idx), nodes


# ---------------------------------------------------------------------------
# r11 wave 28 pins
# ---------------------------------------------------------------------------

def test_streaks_single_user_exchange(spark):
    """Distinct (user, purchase-day) collapses map-side; the island
    window and both per-user reduces share the user partitioning —
    no join."""
    df = QUERIES["ev_purchase_streaks"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n == "Window") == 1, nodes


def test_adoption_windows_on_quarter_grid(spark):
    """First-ship reduces at part grain; cumulative windows ride the
    bounded quarter grid only (aggregates strictly before windows)."""
    df = QUERIES["q_part_adoption_curve"](spark, SF_DIR)
    nodes = plan_nodes(df)
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    win_idx = [i for i, n in enumerate(nodes) if n == "Window"]
    assert win_idx and agg_idx and max(agg_idx) < min(win_idx), nodes
    assert not any("Join" in n for n in nodes), nodes


# ---------------------------------------------------------------------------
# r11 wave 29 pins
# ---------------------------------------------------------------------------

def test_calibration_slope_one_row_moments(spark):
    """Row-grain OLS moments reduce map-side to one row — no window,
    no join."""
    df = QUERIES["ml_calibration_slope"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes


def test_readability_map_only_rollup(spark):
    """The three regex counters are scan-side projections into a
    ≤|langs| rollup — no window, no join."""
    df = QUERIES["text_readability_fk"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert not any(n == "Window" for n in nodes), nodes
    assert sum(1 for n in nodes if n == "HashAggregate") >= 2, nodes


def test_abc_xyz_part_grain_join(spark):
    """Both class relations reduce at part grain from the cached scan;
    the cross joins part-to-part (hash join, no cartesian) before the
    9-cell rollup."""
    df = QUERIES["q_abc_xyz_cross"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("InMemoryTableScan" in n for n in nodes), nodes


def test_geom_clip_geojson_single_stage_no_shuffle_before_sort(spark):
    """The generic convex-polygon clip keeps the box entry's shape: one
    Arrow map over the 18-row boundary relation with the query polygon
    as a closure literal — no Join, and no Exchange other than the
    final orderBy's range partitioning."""
    df = QUERIES["sudan_geom_clip_geojson"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert shuffle_count(nodes) <= 1, nodes


def test_r12_wave_plans(spark):
    """r12 wave shapes: the cohort triangle broadcasts its calendar-
    bounded cohort-size side; the basket pair stage joins co-partitioned
    on orderkey with brand/total sides broadcast; the exact-AUC window
    runs on the per-mille grid AFTER the first aggregate; the entropy
    rollup re-aggregates the count table. No plan holds a cartesian
    product or row-wise Python."""
    for key in [
        "q_cohort_retention_triangle", "q_market_basket_pairs",
        "ml_auc_exact_rank", "text_bigram_cond_entropy",
    ]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        assert not any("CartesianProduct" in n for n in nodes), (key, nodes)
        assert not any("BatchEvalPython" in n for n in nodes), (key, nodes)
    nodes = plan_nodes(QUERIES["ml_auc_exact_rank"](spark, SF_DIR))
    aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    wins = [i for i, n in enumerate(nodes) if n == "Window"]
    # leaf-first: the grid aggregate precedes the window (the final
    # U-statistic aggregate legitimately sits above the window again)
    assert wins and aggs and min(aggs) < min(wins), nodes


def test_bucketed_join_has_no_exchange_before_smj(spark):
    """files_bucketed_colocated_join's whole point: the fact⋈dim join
    runs as SortMergeJoin directly over the two BUCKETED scans — zero
    shuffle Exchange upstream of the join (the only Exchanges are the
    post-join aggregate's hash partitioning and the final orderBy's
    range partitioning), and no broadcast on the probed path."""
    df = QUERIES["files_bucketed_colocated_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    smj = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
    assert smj, plan
    assert not any("BroadcastHashJoin" in l for l in lines), plan
    # every Exchange sits ABOVE (before, in printed order) the join line
    for i, l in enumerate(lines):
        if "Exchange" in l and "reuse" not in l.lower():
            assert i < smj[0], (i, l, plan)
    assert sum(1 for l in lines if "Bucketed: true" in l) == 2, plan


def test_geom_clip_concave_single_stage_no_shuffle_before_sort(spark):
    """The concave tier keeps the convex entry's plan EXACTLY: the
    ear-clipped triangle set is a driver-side closure literal over the
    same one-Arrow-map 18-row boundary relation — no Join, and no
    Exchange other than the final orderBy's range partitioning. The
    decomposition adds per-row work (T small S-H clips), never plan
    nodes."""
    df = QUERIES["sudan_geom_clip_concave"](spark, SF_DIR)
    nodes = plan_nodes(df)
    assert not any("Join" in n for n in nodes), nodes
    assert shuffle_count(nodes) <= 1, nodes


def test_r13_wave_plans(spark):
    """r13 wave shapes: retention joins stay keyed (the only nested-loop
    joins are the broadcast 1-row horizon / 3-row offset literals);
    Lorenz, updown and weekly-streak windows consume BOUNDED aggregates
    (band grid / calendar days / per-user weeks) — leaf-first, the
    aggregate precedes every window; no plan holds a cartesian product
    or row-wise Python."""
    for key in [
        "ev_rolling_retention", "q_revenue_lorenz_bands",
        "q_brand_repeat_rate", "ts_updown_streaks",
        "ev_weekly_active_streaks",
    ]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        assert not any("CartesianProduct" in n for n in nodes), (key, nodes)
        assert not any("BatchEvalPython" in n for n in nodes), (key, nodes)
    # window-input-is-the-aggregate: the band/day aggregates run BELOW
    # the cumulative windows (plan_nodes lists leaf-first)
    for key in ["q_revenue_lorenz_bands", "ts_updown_streaks"]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
        wins = [i for i, n in enumerate(nodes) if n == "Window"]
        assert aggs and wins and min(aggs) < min(wins), (key, nodes)


def test_r14_wave_plans(spark):
    """r14 wave shapes: every window consumes a BOUNDED relation (the
    price-grid best points, the cents-grid histogram, the day grid,
    the ≤10-row Qini buckets) — leaf-first, an aggregate precedes
    every window; the stats/power/logrank entries finish in 1-row or
    literal-grid selects; no plan holds a cartesian product (the only
    cross joins are broadcast 1-row scalar aggregates) or row-wise
    Python."""
    for key in [
        "q_pareto_frontier_parts", "stats_kruskal_wallis",
        "stats_levene_bf", "ev_power_mde", "ml_logrank_test",
        "ev_uplift_qini_buckets", "dt_iso_week_parity",
    ]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        assert not any("CartesianProduct" in n for n in nodes), (key, nodes)
        assert not any("BatchEvalPython" in n for n in nodes), (key, nodes)
    # window-input-is-the-aggregate for every windowed r14 entry
    for key in [
        "q_pareto_frontier_parts", "stats_kruskal_wallis",
        "stats_levene_bf", "ml_logrank_test", "ev_uplift_qini_buckets",
    ]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        aggs = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
        wins = [i for i, n in enumerate(nodes) if n == "Window"]
        assert aggs and wins and min(aggs) < min(wins), (key, nodes)
    # the levene median dim and the power baseline join back by
    # broadcast (5-row / 1-row builds)
    for key in ["stats_levene_bf", "ev_power_mde"]:
        nodes = plan_nodes(QUERIES[key](spark, SF_DIR))
        assert any("BroadcastHashJoin" in n or "BroadcastNestedLoopJoin" in n for n in nodes), (
            key,
            nodes,
        )


def test_r15_single_pass_rewrites_materialize_the_fanout(spark):
    """r15 optimization pins: the three finished single-pass rewrites
    decide everything on an eagerly-materialized (localCheckpoint)
    relation, so the returned plan must NOT re-embed the heavy source
    pipeline per consumer.

    - q_market_basket_pairs: the count-grain table is checkpointed —
      zero parquet scans and zero aggregates above it in the returned
      plan (the order-grain collect_set pipeline runs exactly once, in
      the eager construction job).
    - q_cohort_retention_triangle: same for the tri relation.
    - text_perplexity_proxy: c12 is checkpointed — the returned plan
      keeps exactly ONE token-grain scan (bg feeding the score join);
      the count-table consumers read the checkpoint."""
    plan = plan_of(QUERIES["q_market_basket_pairs"](spark, SF_DIR))
    assert "Scan parquet" not in plan, "counts fan-out recompiles the source pipeline"
    assert "ObjectHashAggregate" not in plan
    plan = plan_of(QUERIES["q_cohort_retention_triangle"](spark, SF_DIR))
    assert "Scan parquet" not in plan, "tri fan-out recompiles the source pipeline"
    plan = plan_of(QUERIES["text_perplexity_proxy"](spark, SF_DIR))
    # unique scan node ids (formatted output lists each node in the
    # tree AND in the details section)
    import re

    scan_ids = set(re.findall(r"Scan parquet[^(]*\((\d+)\)", plan))
    assert len(scan_ids) == 1, f"c12 consumers must read the checkpoint, scans={scan_ids}"
