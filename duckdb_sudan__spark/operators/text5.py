"""Fifth wave of LLM-data-pipeline operators (r7): real-tokenizer
accounting (iterated BPE train + greedy encode) and learned-quality
classifier scoring.

Same determinism posture as text2-text4 (DETERMINISM.md): integer
counts first, exactly-rounded double ops only in hashed output, no
transcendentals. The BPE pair (train, encode) extends bpe_pair_counts
(text4.py:46 — the FIRST merge decision) to the full loop a tokenizer
trainer runs, which is what turns dataset_token_budget/pack_sequences'
whitespace-token approximations into real-tokenizer numbers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# bpe_train_merges — iterated BPE merge-table training on the corpus.
#
# The scalable-trainer decomposition every production tokenizer uses
# (HuggingFace tokenizers, SentencePiece): BPE training only reads the
# DISTINCT-WORD frequency table, never the raw corpus — so the cluster
# does ONE map-side-combinable groupBy(word).count() over 100 TB, and
# the merge iteration runs driver-side over that bounded aggregate
# (capped at BPE_WORDS_CAP rows by (count desc, word) — top-50k words
# carry essentially all pair mass in a Zipfian corpus; the cap is the
# same boundedness argument as vocab_coverage_rate's broadcast).
#
# Rows-only BY DESIGN: the merge table is data-dependent and the loop
# is inherently iterative (each merge re-counts pairs under the
# previous merge), which recursive SQL cannot express with engine
# parity — and a VALUES oracle cannot adapt across SFs (the sf0.01 and
# sf0.1 corpora share zero documents, verified r7). Equivalence is
# pinned in pytest instead: DuckDB independently computes the word
# counts and a pure-Python reference trainer must produce the
# IDENTICAL merge table (tests/test_llm_ops.py).
# ---------------------------------------------------------------------------

BPE_WORDS_CAP = 50_000
BPE_N_MERGES = 30
BPE_MIN_PAIR = 2  # stop when the best pair occurs fewer than 2 times


def _train_merges_on_counts(word_counts: list[tuple[str, int]], n_merges: int) -> list[tuple]:
    """The driver-side merge loop: greedy argmax over corpus-weighted
    adjacent symbol pairs, ties broken (left, right) lexicographic
    ascending — fully deterministic. Returns
    (merge_rank, left, right, merged, pair_count) rows."""
    words = [(list(w), int(n)) for w, n in word_counts if len(w) >= 2]
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pair_n: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for a, b in zip(syms, syms[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + n
        if not pair_n:
            break
        best = min(pair_n.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n_best = best
        if n_best < BPE_MIN_PAIR:
            break
        merged = left + right
        merges.append((rank, left, right, merged, n_best))
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [merged]
                else:
                    i += 1
    return merges


def _corpus_word_counts(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """(word, corpus_count) for the top BPE_WORDS_CAP distinct words —
    the one cluster-side stage of BPE training. Same whitespace token
    definition as bpe_pair_counts (split on ' ', len >= 1)."""
    d = load_table(spark, sf_dir, "documents")
    rows = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(BPE_WORDS_CAP)
        .collect()
    )
    return [(r.w, r.n) for r in rows]


@register("bpe_train_merges")  # rows-only: iterative, not SQL-expressible
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table: (merge_rank, left, right, merged,
    pair_count), rank ascending — merge 1 is exactly bpe_pair_counts'
    global top pair (pinned in tests). Plan: one distinct-word count
    shuffle (partial agg absorbs the Zipf head map-side) + a
    TakeOrderedAndProject cap; the iteration is driver-side over the
    bounded word table, O(cap * n_merges) — constant in corpus size."""
    merges = _train_merges_on_counts(_corpus_word_counts(spark, sf_dir), BPE_N_MERGES)
    schema = (
        "merge_rank int, left string, right string, merged string, pair_count bigint"
    )
    return local_frame(spark, merges, schema).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# bpe_encode — greedy-encode every document under the learned merges
# ---------------------------------------------------------------------------


def bpe_apply_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE apply: repeatedly merge the present pair with the
    LOWEST training rank (all leftmost-nonoverlapping occurrences per
    step) until no trained pair remains. Deterministic; identical for
    train-corpus and unseen words."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        left, right = syms[best_i], syms[best_i + 1]
        merged = left + right
        i = 0
        while i < len(syms) - 1:
            if syms[i] == left and syms[i + 1] == right:
                syms[i : i + 2] = [merged]
            else:
                i += 1
    return syms


@register("bpe_encode")  # rows-only: the learned vocab is not SQL-expressible
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting under the LEARNED tokenizer:
    (doc_id, n_ws_tokens, n_bpe_tokens, n_word_chars) — the numbers a
    training-mix/packing decision actually uses (dataset_token_budget
    and pack_sequences approximate these with whitespace tokens; this
    entry is the real-tokenizer re-base). Plan: the merge table is
    trained once (driver-side over the bounded word-count aggregate)
    and closed over by ONE Arrow-batched map stage — zero joins, zero
    shuffles on the document scan; invariants n_ws_tokens <=
    n_bpe_tokens <= n_word_chars are property-tested."""
    ranks = {
        (left, right): rank
        for rank, left, right, _, _ in _train_merges_on_counts(
            _corpus_word_counts(spark, sf_dir), BPE_N_MERGES
        )
    }

    @F.pandas_udf(T.LongType())
    def n_bpe(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            total = 0
            for w in (t or "").split(" "):
                if w:
                    total += len(bpe_apply_word(w, ranks))
            out.append(total)
        return pd.Series(out, dtype="int64")

    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    return (
        d.select(
            "doc_id",
            F.size(words).cast("bigint").alias("n_ws_tokens"),
            n_bpe(F.col("text")).alias("n_bpe_tokens"),
            F.aggregate(
                words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
            ).alias("n_word_chars"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# text_quality_classifier — learned-quality gate: fixed linear
# classifier over hashed word-bigram features (the fasttext-style tier
# production pipelines stack AFTER the rule gate — text_gopher_filters
# decides "is it parseable text", this decides "is it GOOD text").
#
# Features: hashed bigrams h(w1 + ' ' + w2) into QC_DIM buckets
# (collisions intended — that IS the hashing trick). Weights: a fixed
# deterministic integer formula w(f) = (f * 2654435761) % 1001 - 500
# (Knuth multiplicative spread, mean-zero over the bucket range) — a
# stand-in for shipped classifier weights that both engines derive
# exactly, so the entry is hash-oracled end-to-end. score_sum =
# Σ_bigrams w(h(bg)) is algebraically the dot product of the hashed
# count vector with the weight vector (the list_inner_product view),
# computed WITHOUT materializing either vector: per-bigram lookup +
# integer sum inside JVM higher-order functions — no Pandas UDF, no
# joins, no shuffle, whole-stage codegen keeps the scan linear. The
# only double op is the final exactly-rounded normalization.
#
# Cross-engine hash: md5-hex first 4 chars -> int (the
# dataset_shard_assign idiom, text3.py:250 — Spark hash() and DuckDB
# hash() disagree; md5 is the deterministic common ground).
# ---------------------------------------------------------------------------

QC_DIM = 2048  # hashed feature space
QC_A = 2654435761  # Knuth multiplicative constant
QC_MOD = 1001  # weight range [-500, 500], mean zero

_QC_SQL_TOKENS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"
_QC_SQL_SCORE = f"""
list_sum(list_transform(
  list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                 i -> toks[i] || ' ' || toks[i + 1]),
  bg -> (CAST(CAST('0x' || substring(md5(bg), 1, 4) AS INTEGER) % {QC_DIM} AS BIGINT)
         * {QC_A}) % {QC_MOD} - 500))
"""

QUALITY_CLASSIFIER_ORACLE = f"""
SELECT doc_id, lang,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(score_sum AS BIGINT) AS score_sum,
       score_sum >= 0 AS keep
FROM (
  SELECT doc_id, lang,
         greatest(len(toks) - 1, 0) AS n_bigrams,
         coalesce({_QC_SQL_SCORE}, 0) AS score_sum
  FROM (SELECT doc_id, lang, {_QC_SQL_TOKENS} AS toks FROM documents)
)
ORDER BY doc_id
"""


def _qc_score_sum_expr():
    """score_sum as a Spark Column over a `toks` array column —
    zip_with adjacent pairs, md5-hash each into QC_DIM, weight by the
    integer formula, integer-fold. Empty/1-token docs score 0."""
    bigrams = (
        f"zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
        f"slice(toks, 2, greatest(size(toks) - 1, 0)), "
        f"(a, b) -> concat(a, ' ', b))"
    )
    weight = (
        f"bg -> (CAST(conv(substring(md5(bg), 1, 4), 16, 10) AS BIGINT) % {QC_DIM}"
        f" * {QC_A}) % {QC_MOD} - 500"
    )
    return F.expr(
        f"aggregate(transform({bigrams}, {weight}), CAST(0 AS BIGINT), (acc, w) -> acc + w)"
    )


@register("text_quality_classifier", QUALITY_CLASSIFIER_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc classifier score + keep/drop decision:
    (doc_id, lang, n_bigrams, score_sum, keep). keep is
    score_sum >= 0 — with mean-zero weights the threshold sits at the
    score median by construction. The output stays INTEGER on purpose:
    a ROUND(score_sum / (500*n_bigrams), 6) normalization ties at the
    6th decimal for power-of-two bigram counts (e.g. -2078/32000 =
    -0.0649375) where Spark rounds half-up and DuckDB half-even —
    consumers normalize from (score_sum, n_bigrams) losslessly.
    Composes with text_gopher_filters the way production pipelines
    stack gates (rule gate -> classifier gate);
    quality_keep_rates_by_lang aggregates this relation."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    scored = d.select(
        "doc_id",
        "lang",
        F.greatest(F.size(toks) - 1, F.lit(0)).cast("bigint").alias("n_bigrams"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "n_bigrams",
        _qc_score_sum_expr().alias("score_sum"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "score_sum",
        (F.col("score_sum") >= 0).alias("keep"),
    ).orderBy("doc_id")


QUALITY_RATES_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS keep_rate
FROM (
  SELECT lang, coalesce({_QC_SQL_SCORE}, 0) AS score_sum
  FROM (SELECT lang, {_QC_SQL_TOKENS} AS toks FROM documents)
)
GROUP BY lang
ORDER BY lang
"""


@register("quality_keep_rates_by_lang", QUALITY_RATES_ORACLE)
def quality_keep_rates_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep rates under the classifier gate — the
    governance readout a data-mix owner checks before shipping a
    filter (a gate whose keep_rate craters for one language is biased,
    not strict). One map-side score + one partial-agg shuffle on lang."""
    scored = text_quality_classifier(spark, sf_dir)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_keep"),
        )
        .select(
            "lang",
            "n_docs",
            "n_keep",
            F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# sample_quality_weighted — keep the best-scoring half per source
# ---------------------------------------------------------------------------

QW_KEEP_FRACTION = 0.5

QUALITY_SAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, coalesce({_QC_SQL_SCORE}, 0) AS score_sum
  FROM (SELECT doc_id, source, {_QC_SQL_TOKENS} AS toks FROM documents)
),
ranked AS (
  SELECT doc_id, source, CAST(score_sum AS BIGINT) AS score_sum,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score_sum DESC, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM scored
)
SELECT doc_id, source, score_sum,
       CAST(rnk AS BIGINT) AS quality_rank,
       rnk <= CAST(ceil(n_src * {QW_KEEP_FRACTION}) AS BIGINT) AS selected
FROM ranked
ORDER BY doc_id
"""


@register("sample_quality_weighted", QUALITY_SAMPLE_ORACLE)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection: keep the top QW_KEEP_FRACTION of each
    source by classifier score (ties broken on doc_id — fully
    deterministic, re-runnable). This is the budgeted version of the
    classifier gate: instead of a global threshold (which can empty a
    weak source entirely), every source contributes its best half —
    the per-source fairness rule real training mixes use. Plan: the
    map-side score, ONE shuffle on source for the rank window
    (per-source partitions), no joins."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    scored = d.select("doc_id", "source", toks.alias("toks")).select(
        "doc_id", "source", _qc_score_sum_expr().alias("score_sum")
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_sum"), "doc_id")
    wn = Window.partitionBy("source")
    return (
        scored.withColumn("quality_rank", F.row_number().over(w).cast("bigint"))
        .withColumn("n_src", F.count(F.lit(1)).over(wn))
        .select(
            "doc_id",
            "source",
            "score_sum",
            "quality_rank",
            (
                F.col("quality_rank")
                <= F.ceil(F.col("n_src") * QW_KEEP_FRACTION).cast("bigint")
            ).alias("selected"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dataset_token_budget_bpe — per-source budget under the REAL tokenizer
# ---------------------------------------------------------------------------


@register("dataset_token_budget_bpe")  # rows-only: learned vocab isn't SQL
def dataset_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 verdict's re-base: dataset_token_budget accounts in
    whitespace tokens; THIS relation accounts in learned-BPE tokens —
    the unit training budgets are actually written in. Per source:
    docs, ws tokens, bpe tokens, and the bpe/ws inflation ratio a
    budget owner uses to convert legacy whitespace budgets. Plan: the
    bpe_encode map stage + ONE partial-agg shuffle on source; the
    ratio is one exactly-rounded double division (ties excluded for
    the same bounded-denominator reason as span_dedup_cut_rate —
    and both integer columns carry the exact values regardless)."""
    enc = bpe_encode(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        enc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws_tokens").alias("ws_tokens"),
            F.sum("n_bpe_tokens").alias("bpe_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 6).alias("bpe_per_ws"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipeline_quality_report — the stacked rule+classifier gate, per source
# ---------------------------------------------------------------------------


def _quality_report_oracle() -> str:
    from duckdb_sudan__spark.operators.text4 import GOPHER_ORACLE

    return f"""
WITH gopher AS (SELECT doc_id, passes FROM ({GOPHER_ORACLE})),
clf AS (
  SELECT doc_id, coalesce({_QC_SQL_SCORE}, 0) >= 0 AS keep
  FROM (SELECT doc_id, {_QC_SQL_TOKENS} AS toks FROM documents)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_pass,
       CAST(SUM(CASE WHEN c.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_keep,
       CAST(SUM(CASE WHEN g.passes AND c.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       ROUND(CAST(SUM(CASE WHEN g.passes AND c.keep THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS final_rate
FROM documents d
JOIN gopher g USING (doc_id)
JOIN clf c USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


def _register_quality_report() -> None:
    @register("pipeline_quality_report", _quality_report_oracle())
    def pipeline_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The stacked quality funnel as one relation: per source, how
        many docs pass the RULE gate (text_gopher_filters), the
        LEARNED gate (text_quality_classifier), and BOTH — the
        rule-then-classifier stacking production pipelines run, with
        the per-source final keep rate a mix owner signs off on.
        Composes the two r7 gates through their own relations (the
        report can never disagree with the gates). Plan: both gates
        are map/agg over documents; the doc_id joins are one shuffle
        each; the final aggregate is source-bounded."""
        from duckdb_sudan__spark.operators.text4 import text_gopher_filters

        d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        gopher = text_gopher_filters(spark, sf_dir).select("doc_id", "passes")
        clf = text_quality_classifier(spark, sf_dir).select("doc_id", "keep")
        return (
            d.join(gopher, "doc_id")
            .join(clf, "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("passes").cast("int")).cast("bigint").alias("n_rule_pass"),
                F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_clf_keep"),
                F.sum((F.col("passes") & F.col("keep")).cast("int"))
                .cast("bigint")
                .alias("n_final"),
            )
            .select(
                "source",
                "n_docs",
                "n_rule_pass",
                "n_clf_keep",
                "n_final",
                F.round(F.col("n_final") / F.col("n_docs"), 6).alias("final_rate"),
            )
            .orderBy("source")
        )


_register_quality_report()
