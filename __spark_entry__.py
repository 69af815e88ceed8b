"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship query (TPC-H Q1 shape) on sf0.001.
queries()       — every implemented operator from SURVEY.md §2:
                  the reference's sudan surface (providers, data
                  functions, discovery, geo), the relational/OLAP
                  layer, the LLM-data-pipeline operators, and the
                  streaming twins.
oracle_sql()    — exact DuckDB SQL for every SQL-expressible entry;
                  rows-only ops (minhash/simhash/LSH-ANN/multimodal/
                  streaming) are intentionally omitted.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from duckdb_sudan__spark import operators
from duckdb_sudan__spark.geo import states as geo_states
from duckdb_sudan__spark.operators import ORACLES, QUERIES
from duckdb_sudan__spark.oracle import values_sql
from duckdb_sudan__spark.providers import api
from duckdb_sudan__spark.session import local_frame

operators.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: pricing summary (scan→filter→agg→sort) at sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# -- sudan-surface entries (reference §2.A), closed over no state ------------


def _geocode_probe_rows() -> list[tuple]:
    """Geocode exercised over every state name (EN, AR, lowercased EN)
    plus an unknown — result computed by the same semantic the
    reference implements (geo_functions.cpp:330-352)."""
    probes: list[str] = []
    for iso, name, name_ar, _, _ in geo_states.SUDAN_STATES:
        probes += [name, name_ar, name.lower()]
    probes.append("Atlantis")
    return [(p, geo_states.sudan_geocode(None, p)) for p in probes]


def _sudan_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def geocode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        names = [(p,) for p, _ in _geocode_probe_rows()]
        df = local_frame(spark, names, "name string")
        return df.select("name", geo_states.geocode_expr(F.col("name")).alias("iso_code")).orderBy("name")

    return {
        "sudan_providers": lambda spark, sf: api.sudan_providers(spark),
        "sudan_worldbank": lambda spark, sf: api.sudan_worldbank(spark, "SP.POP.TOTL", ["SDN", "EGY", "ETH"]),
        "sudan_who": lambda spark, sf: api.sudan_who(spark, "MDG_0000000026"),
        "sudan_fao": lambda spark, sf: api.sudan_fao(spark, "QCL", "production", ["SDN", "EGY"]),
        "sudan_unhcr": lambda spark, sf: api.sudan_unhcr(spark, "refugees"),
        "sudan_ilo": lambda spark, sf: api.sudan_ilo(spark, "UNE_DEAP_SEX_AGE_RT"),
        "sudan_wb_indicators": lambda spark, sf: api.sudan_wb_indicators(spark, "GDP"),
        "sudan_who_indicators": lambda spark, sf: api.sudan_who_indicators(spark, "mortality"),
        "sudan_search": lambda spark, sf: api.sudan_search(spark, "population"),
        "sudan_states": lambda spark, sf: geo_states.sudan_states(spark),
        "sudan_boundaries_state": lambda spark, sf: geo_states.sudan_boundaries(spark, "state"),
        "sudan_geocode": geocode_query,
        "sudan_ds_worldbank": ds_worldbank_query,
    }


def ds_worldbank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource path end-to-end: format("sudan") with a
    WHERE-clause year predicate absorbed by SudanReader.pushFilters
    (filter_pushdown.cpp analogue) — driver-checked against the same
    embedded-sample oracle the api-function entry uses, restricted to
    the pushed year range."""
    from duckdb_sudan__spark.sources.datasource import register_sudan_datasource

    register_sudan_datasource(spark)
    return (
        spark.read.format("sudan")
        .option("provider", "worldbank")
        .option("indicator", "SP.POP.TOTL")
        .option("countries", "SDN,EGY,ETH")
        .load()
        .filter("year >= 2015")
        .orderBy("country", "year")
    )


def _sudan_oracles() -> dict[str, str]:
    geocode_oracle = (
        values_sql(_geocode_probe_rows(), ["name", "iso_code"], ["VARCHAR", "VARCHAR"]) + " ORDER BY name"
    )
    return {
        "sudan_providers": api.providers_oracle(),
        "sudan_worldbank": api.worldbank_oracle("SP.POP.TOTL", ["SDN", "EGY", "ETH"]),
        "sudan_who": api.who_oracle("MDG_0000000026"),
        "sudan_fao": api.fao_oracle("QCL", "production", ["SDN", "EGY"]),
        "sudan_unhcr": api.unhcr_oracle("refugees"),
        "sudan_ilo": api.ilo_oracle("UNE_DEAP_SEX_AGE_RT"),
        "sudan_wb_indicators": api.wb_indicators_oracle("GDP"),
        "sudan_who_indicators": api.who_indicators_oracle("mortality"),
        "sudan_search": api.search_oracle("population"),
        "sudan_states": geo_states.states_oracle(),
        "sudan_boundaries_state": geo_states.boundaries_oracle("state"),
        "sudan_geocode": geocode_oracle,
        "sudan_ds_worldbank": (
            "SELECT * FROM ("
            + api.worldbank_oracle("SP.POP.TOTL", ["SDN", "EGY", "ETH"])
            + ") WHERE year >= 2015 ORDER BY country, year"
        ),
    }


# The driver's correctness gate hashes only the first 50 queries() keys.
_WINDOW = 50

# Oracled entries rewritten after their last green driver row:
# {name: round of the rewrite}. A driver row counts for them only from
# that round on.
_REWRITTEN = {
    "dedup_components": 14,
    "graph_common_neighbors": 15,
    "graph_triangle_count": 15,
    "graph_two_hop_neighborhood": 15,
    "q_cohort_retention_triangle": 15,
    "q_market_basket_pairs": 15,
    "text_perplexity_proxy": 15,
}


def _driver_rounds() -> dict[int, dict[str, dict]]:
    """The committed driver results, {round: CORRECTNESS_r<round>.json}."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[int, dict[str, dict]] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            rounds[int(path.rsplit("_r", 1)[1].removesuffix(".json"))] = json.load(fh)
    return rounds


def _last_green(
    oracled: Iterable[str], rounds: dict[int, dict[str, dict]], rewritten: dict[str, int] = _REWRITTEN
) -> dict[str, int]:
    """Round of each entry's last green driver row, 0 when it is
    unchecked: never hashed, red in its latest row, or rewritten since."""
    green: dict[str, int] = {}
    for rnd in sorted(rounds):
        for key, row in rounds[rnd].items():
            ok = row["rows_match"] and row["hash_match"] and rnd >= rewritten.get(key, 0)
            green[key] = rnd if ok else 0
    return {k: green.get(k, 0) for k in oracled}


def _driver_window(
    oracled: Iterable[str], rounds: dict[int, dict[str, dict]], rewritten: dict[str, int] = _REWRITTEN
) -> list[str]:
    """The oracled entries the driver hashes next: least recently
    checked first, ties alphabetical."""
    green = _last_green(oracled, rounds, rewritten)
    return sorted(green, key=lambda k: (green[k], k))[:_WINDOW]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    every: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    every.update(_sudan_queries())
    every.update(QUERIES)
    oracles = oracle_sql()
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for key in _driver_window(oracles, _driver_rounds()):  # the ones the driver hashes
        out[key] = every[key]
    for key, fn in every.items():  # remaining oracled (rotated out this round)
        if key not in out and key in oracles:
            out[key] = fn
    for key, fn in every.items():  # rows-only last
        if key not in out:
            out[key] = fn
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(_sudan_oracles())
    out.update(ORACLES)
    return out
