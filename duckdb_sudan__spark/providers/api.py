"""Provider "table functions" as DataFrame builders.

Each reference table function (SUDAN_WorldBank, SUDAN_WHO, SUDAN_FAO,
SUDAN_UNHCR, SUDAN_ILO, discovery functions — reference
src/sudan/{worldbank,who,fao,unhcr,ilo,info}/) becomes a Python
function returning a DataFrame with the reference's exact schema.

The five data providers are declared once, in TABLE_FUNCTIONS: schema,
parameters, one-country live fetch and sample builder. `bind` (the
reference's Bind phase: validate the parameters and country codes,
with the same error messages) and `rows` (its Init phase for one
country) read that table; the `sudan_*` functions below, the sudan
DataSource and its stream reader (sources/datasource.py) all go
through them. Bind errors are raised eagerly, before any plan is built.

Offline mode (default here: the container has no network) uses the
deterministic embedded samples so results are reproducible and
oracle-checkable. `offline=False` drives the reference's Init-phase
fetch loops (providers/http.py) and falls back to the samples
per-country when the fetch yields nothing — so a flaky network
degrades to the embedded data, never to an error. The api functions
read their HTTP settings from the session's ``spark.sudan.http.*``
conf unless `settings` is given.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from duckdb_sudan__spark.oracle import values_sql
from duckdb_sudan__spark.providers import http, samples
from duckdb_sudan__spark.providers.pushdown import YearFilter
from duckdb_sudan__spark.providers.registry import PROVIDERS, resolve_countries, validate_country_codes
from duckdb_sudan__spark.session import local_frame

# -- schemas (exact reference column names/types) ----------------------------

# DDL type → (Spark type, DuckDB type of the oracle VALUES)
_TYPES = {
    "string": (T.StringType(), "VARCHAR"),
    "int": (T.IntegerType(), "INTEGER"),
    "bigint": (T.LongType(), "BIGINT"),
    "double": (T.DoubleType(), "DOUBLE"),
}


def _schema(ddl: str) -> T.StructType:
    """Nullable StructType from a "name type, ..." list over the _TYPES names."""
    return T.StructType([T.StructField(n, _TYPES[t][0]) for n, t in (col.split() for col in ddl.split(","))])


WORLDBANK_SCHEMA = _schema(
    "indicator_id string, indicator_name string, country string, country_name string, year int, value double"
)
WHO_SCHEMA = _schema(
    "indicator_code string, indicator_name string, country string, year int, sex string, value double, region string"
)
FAO_SCHEMA = _schema("dataset string, area string, item string, element string, year int, value double, unit string")
UNHCR_SCHEMA = _schema(
    "year int, population_type string, country_origin string, country_origin_name string, "
    "country_asylum string, country_asylum_name string, value bigint"
)
ILO_SCHEMA = _schema("indicator string, country string, sex string, classif1 string, year int, value double")
PROVIDERS_SCHEMA = _schema("provider_id string, name string, name_ar string, description string, base_url string")
WB_INDICATORS_SCHEMA = _schema("indicator_id string, indicator_name string, source string, source_note string")
WHO_INDICATORS_SCHEMA = _schema("indicator_code string, indicator_name string, language string")
SEARCH_SCHEMA = _schema("provider string, indicator_id string, indicator_name string")


# -- the provider table ------------------------------------------------------


@dataclass(frozen=True)
class TableFunction:
    """One provider table function. `params` maps each required
    parameter, in the api's positional order, to its DataSource option
    default (None: no default). `fetch(*params, iso3, yf, settings,
    base=)` is the one-country live fetch; `sample(*params, countries)`
    builds the embedded rows."""

    schema: T.StructType
    params: dict[str, str | None]
    fetch: Callable[..., list[tuple]]
    sample: Callable[..., list[tuple]]
    choices: tuple[str, ...] = ()  # allowed values of the first parameter; empty = any

    @property
    def year_idx(self) -> int:
        return self.schema.fieldNames().index("year")


TABLE_FUNCTIONS: dict[str, TableFunction] = {
    # wb_functions.cpp:57-103; live: the paged loop of wb_functions.cpp:110-210
    # with date=START:END pushed into the URL
    "worldbank": TableFunction(
        WORLDBANK_SCHEMA, {"indicator": None}, http.fetch_worldbank_pages, samples.worldbank_rows
    ),
    # who_functions.cpp:52-91; live: FetchWHOData (who_functions.cpp:107-205)
    # with the year range merged into the OData $filter
    "who": TableFunction(WHO_SCHEMA, {"indicator": None}, http.fetch_who, samples.who_rows),
    # fao_functions.cpp:55-95; live: FetchFAOData (fao_functions.cpp:205-232):
    # numeric area code, limit=500, element matched client-side
    "fao": TableFunction(
        FAO_SCHEMA, {"dataset": "QCL", "element": "production"}, http.fetch_fao, samples.fao_rows
    ),
    # unhcr_functions.cpp:52-92; live: FetchUNHCRData (unhcr_functions.cpp:228-245):
    # one unified-endpoint fetch per {coo, coa} per country
    "unhcr": TableFunction(
        UNHCR_SCHEMA,
        {"population_type": "refugees"},
        http.fetch_unhcr,
        samples.unhcr_rows,
        samples.UNHCR_POPULATION_TYPES,
    ),
    # ilo_functions.cpp:50-87; live: FetchILOData (ilo_functions.cpp:102-350):
    # SDMX key-suffix ladder + structure walk
    "ilo": TableFunction(ILO_SCHEMA, {"indicator": None}, http.fetch_ilo, samples.ilo_rows),
}


def table_function(provider: str) -> TableFunction:
    if provider not in TABLE_FUNCTIONS:
        raise ValueError(f"SUDAN: Unknown provider '{provider}'. Valid: {', '.join(sorted(TABLE_FUNCTIONS))}.")
    return TABLE_FUNCTIONS[provider]


def bind(
    provider: str, options: Mapping[str, str | None], countries: list[str] | None
) -> tuple[tuple[str, ...], list[str]]:
    """Bind phase: check the provider's parameters (taken from
    `options`, defaults for absent keys) and the country codes, raising
    the reference's Bind errors. Returns the parameter values in fetch
    order and the requested countries as ISO3 (default: Sudan)."""
    fn = table_function(provider)
    params = tuple(options.get(name, default) for name, default in fn.params.items())
    if not all(params):
        plural = "s" if len(params) > 1 else ""
        raise ValueError(f"SUDAN: The {' and '.join(fn.params)} parameter{plural} cannot be empty.")
    if fn.choices and params[0] not in fn.choices:
        raise ValueError(
            f"SUDAN: Invalid {next(iter(fn.params))} '{params[0]}'. Valid: {', '.join(fn.choices)}."
        )
    if countries and not validate_country_codes(countries):
        raise ValueError(
            "SUDAN: Invalid country code. Supported: SDN, EGY, ETH, TCD, SSD, ERI, LBY, CAF (ISO2 also accepted)."
        )
    return params, resolve_countries(countries)


def rows(
    provider: str,
    params: tuple[str, ...],
    iso3: str,
    yf: YearFilter,
    offline: bool,
    settings: http.HttpSettings | None = None,
    base: str | None = None,
) -> list[tuple]:
    """Init phase for one country (the body of the reference's
    per-country loop, wb_functions.cpp:236-243): the live fetch, or the
    embedded samples when offline or when the fetch yields no rows
    (network down, 4xx, parse failure); then the year range. `base`
    overrides the scheme+host of every provider URL."""
    fn = TABLE_FUNCTIONS[provider]
    out = [] if offline else fn.fetch(*params, iso3, yf, settings, base=base)
    out = out or fn.sample(*params, [iso3])
    if not yf.active:
        return out
    year_idx = fn.year_idx
    return [r for r in out if yf.contains(r[year_idx])]


def _provider_frame(
    spark: SparkSession,
    provider: str,
    values: tuple[str, ...],
    countries: list[str] | None,
    year_filter: YearFilter | None,
    offline: bool,
    settings: http.HttpSettings | None,
) -> DataFrame:
    fn = TABLE_FUNCTIONS[provider]
    params, iso3s = bind(provider, dict(zip(fn.params, values)), countries)
    yf = year_filter or YearFilter()
    if settings is None and not offline:
        settings = http.extract_http_settings(spark.conf)
    data = [r for iso3 in iso3s for r in rows(provider, params, iso3, yf, offline, settings)]
    return local_frame(spark, data, fn.schema)


# -- data functions ----------------------------------------------------------


def sudan_worldbank(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_WorldBank(indicator, countries := [...])."""
    return _provider_frame(spark, "worldbank", (indicator,), countries, year_filter, offline, settings)


def sudan_who(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_WHO(indicator, countries := [...])."""
    return _provider_frame(spark, "who", (indicator,), countries, year_filter, offline, settings)


def sudan_fao(
    spark: SparkSession,
    dataset: str,
    element: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_FAO(dataset, element, countries := [...])."""
    return _provider_frame(spark, "fao", (dataset, element), countries, year_filter, offline, settings)


def sudan_unhcr(
    spark: SparkSession,
    population_type: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_UNHCR(population_type, countries := [...])."""
    return _provider_frame(spark, "unhcr", (population_type,), countries, year_filter, offline, settings)


def sudan_ilo(
    spark: SparkSession,
    indicator: str,
    countries: list[str] | None = None,
    year_filter: YearFilter | None = None,
    offline: bool = True,
    settings: http.HttpSettings | None = None,
) -> DataFrame:
    """SUDAN_ILO(indicator, countries := [...])."""
    return _provider_frame(spark, "ilo", (indicator,), countries, year_filter, offline, settings)


# -- discovery / metadata ----------------------------------------------------


def providers_rows() -> list[tuple]:
    return [(p.id, p.name, p.name_ar, p.description, p.base_url) for p in PROVIDERS]


def sudan_providers(spark: SparkSession) -> DataFrame:
    """SUDAN_Providers(). Reference info_functions.cpp:30-125."""
    return local_frame(spark, providers_rows(), PROVIDERS_SCHEMA)


def wb_indicator_rows(search: str | None = None) -> list[tuple]:
    rows = list(samples.WB_INDICATORS)
    if search:
        s = search.lower()
        rows = [r for r in rows if s in r[0].lower() or s in r[1].lower()]
    return rows


def sudan_wb_indicators(spark: SparkSession, search: str | None = None) -> DataFrame:
    """SUDAN_WB_Indicators(search := ...). Reference wb_indicators.cpp:40-95."""
    return local_frame(spark, wb_indicator_rows(search), WB_INDICATORS_SCHEMA)


def who_indicator_rows(search: str | None = None) -> list[tuple]:
    rows = [(code, name, "EN") for code, name in samples.WHO_INDICATORS]
    if search:
        s = search.lower()
        rows = [r for r in rows if s in r[0].lower() or s in r[1].lower()]
    return rows


def sudan_who_indicators(spark: SparkSession, search: str | None = None) -> DataFrame:
    """SUDAN_WHO_Indicators(search := ...). Reference who_functions.cpp:300-330."""
    return local_frame(spark, who_indicator_rows(search), WHO_INDICATORS_SCHEMA)


def search_rows(query: str) -> list[tuple]:
    """Substring match over WB + WHO catalogs (reference
    info_functions.cpp:193-296 matches on id or name, WB then WHO)."""
    q = query.lower()
    out = []
    for ind_id, name, _, _ in samples.WB_INDICATORS:
        if q in ind_id.lower() or q in name.lower():
            out.append(("worldbank", ind_id, name))
    for code, name in samples.WHO_INDICATORS:
        if q in code.lower() or q in name.lower():
            out.append(("who", code, name))
    return out


def sudan_search(spark: SparkSession, query: str | None = None) -> DataFrame:
    """SUDAN_Search(query := ...). Reference info_functions.cpp:154-171."""
    if not query:
        raise ValueError("SUDAN: The 'query' parameter is required for SUDAN_Search().")
    return local_frame(spark, search_rows(query), SEARCH_SCHEMA)




# -- oracle SQL builders (exact VALUES of the same embedded rows) ------------

def _oracle(rows: list[tuple], schema: T.StructType) -> str:
    return values_sql(rows, schema.fieldNames(), [_TYPES[f.dataType.simpleString()][1] for f in schema.fields])


def _sample_oracle(provider: str, params: tuple[str, ...], countries: list[str] | None) -> str:
    fn = TABLE_FUNCTIONS[provider]
    return _oracle(fn.sample(*params, resolve_countries(countries)), fn.schema)


def providers_oracle() -> str:
    return _oracle(providers_rows(), PROVIDERS_SCHEMA)


def worldbank_oracle(indicator: str, countries: list[str] | None = None) -> str:
    return _sample_oracle("worldbank", (indicator,), countries)


def who_oracle(indicator: str, countries: list[str] | None = None) -> str:
    return _sample_oracle("who", (indicator,), countries)


def fao_oracle(dataset: str, element: str, countries: list[str] | None = None) -> str:
    return _sample_oracle("fao", (dataset, element), countries)


def unhcr_oracle(population_type: str, countries: list[str] | None = None) -> str:
    return _sample_oracle("unhcr", (population_type,), countries)


def ilo_oracle(indicator: str, countries: list[str] | None = None) -> str:
    return _sample_oracle("ilo", (indicator,), countries)


def wb_indicators_oracle(search: str | None = None) -> str:
    return _oracle(wb_indicator_rows(search), WB_INDICATORS_SCHEMA)


def who_indicators_oracle(search: str | None = None) -> str:
    return _oracle(who_indicator_rows(search), WHO_INDICATORS_SCHEMA)


def search_oracle(query: str) -> str:
    return _oracle(search_rows(query), SEARCH_SCHEMA)
