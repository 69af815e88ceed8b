"""Provider + discovery function parity tests.

Mirrors reference test/sql/sudan_providers.test, sudan_worldbank.test,
sudan_who.test, sudan_fao.test, sudan_unhcr.test, sudan_ilo.test,
sudan_search.test assertions, plus oracle round-trips.
"""

import pytest

from duckdb_sudan__spark.geo import states as geo_states
from duckdb_sudan__spark.providers import api
from duckdb_sudan__spark.providers.pushdown import (
    YearFilter,
    encode_fao,
    encode_ilo,
    encode_unhcr,
    encode_who,
    encode_worldbank,
)
from duckdb_sudan__spark.providers.cache import ResponseCache
from duckdb_sudan__spark.providers.registry import normalize_country_code, validate_country_codes
from tests.conftest import assert_matches_oracle


_DRIVER_ROW_FRAMES = {
    "worldbank": lambda s: api.sudan_worldbank(s, "SP.POP.TOTL", ["SDN", "EGY"]),
    "who": lambda s: api.sudan_who(s, "MDG_0000000026"),
    "fao": lambda s: api.sudan_fao(s, "QCL", "production", ["SDN", "EGY"]),
    "unhcr": lambda s: api.sudan_unhcr(s, "refugees"),
    "ilo": lambda s: api.sudan_ilo(s, "UNE_DEAP_SEX_AGE_RT"),
    "providers": api.sudan_providers,
    "wb_indicators": lambda s: api.sudan_wb_indicators(s, "GDP"),
    "who_indicators": lambda s: api.sudan_who_indicators(s, "mortality"),
    "search": lambda s: api.sudan_search(s, "population"),
    "states": geo_states.sudan_states,
}


@pytest.mark.parametrize("name", sorted(_DRIVER_ROW_FRAMES))
def test_driver_rows_plan_as_local_relation(spark, name):
    """Driver-side rows become a LocalRelation: no RDD, so executing
    the frame starts no Python worker."""
    plan = _DRIVER_ROW_FRAMES[name](spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_providers_five_rows(spark):
    df = api.sudan_providers(spark)
    assert df.count() == 5
    rows = {r.provider_id: r for r in df.collect()}
    assert set(rows) == {"worldbank", "who", "fao", "unhcr", "ilo"}
    wb = rows["worldbank"]
    assert wb.name == "World Bank"
    assert wb.name_ar == "البنك الدولي"
    assert wb.base_url == "https://api.worldbank.org/v2/"


def test_providers_oracle(spark, duck):
    assert_matches_oracle(api.sudan_providers(spark), duck, api.providers_oracle())


def test_worldbank_schema_and_default_country(spark):
    df = api.sudan_worldbank(spark, "SP.POP.TOTL")
    assert df.columns == ["indicator_id", "indicator_name", "country", "country_name", "year", "value"]
    assert df.select("country").distinct().collect()[0][0] == "SD"


def test_worldbank_countries_normalized(spark):
    df = api.sudan_worldbank(spark, "SP.POP.TOTL", countries=["SD", "EGY"])
    names = {r[0] for r in df.select("country_name").distinct().collect()}
    assert names == {"Sudan", "Egypt"}


def test_worldbank_empty_indicator_raises(spark):
    with pytest.raises(ValueError, match="indicator parameter cannot be empty"):
        api.sudan_worldbank(spark, "")


def test_worldbank_oracle(spark, duck):
    assert_matches_oracle(
        api.sudan_worldbank(spark, "SP.POP.TOTL", countries=["SDN", "EGY"]),
        duck,
        api.worldbank_oracle("SP.POP.TOTL", ["SDN", "EGY"]),
    )


def test_who_oracle(spark, duck):
    assert_matches_oracle(api.sudan_who(spark, "MDG_0000000026"), duck, api.who_oracle("MDG_0000000026"))


def test_fao_oracle(spark, duck):
    assert_matches_oracle(
        api.sudan_fao(spark, "QCL", "production"), duck, api.fao_oracle("QCL", "production")
    )


def test_unhcr_oracle(spark, duck):
    assert_matches_oracle(api.sudan_unhcr(spark, "refugees"), duck, api.unhcr_oracle("refugees"))


def test_ilo_oracle(spark, duck):
    assert_matches_oracle(
        api.sudan_ilo(spark, "UNE_DEAP_SEX_AGE_RT"), duck, api.ilo_oracle("UNE_DEAP_SEX_AGE_RT")
    )


def test_search_requires_query(spark):
    with pytest.raises(ValueError, match="'query' parameter is required"):
        api.sudan_search(spark, None)


def test_search_returns_results(spark):
    df = api.sudan_search(spark, "population")
    assert df.columns == ["provider", "indicator_id", "indicator_name"]
    assert df.count() > 0


def test_search_oracle(spark, duck):
    assert_matches_oracle(api.sudan_search(spark, "mortality"), duck, api.search_oracle("mortality"))


def test_year_filter_pushdown_encoders():
    yf = YearFilter(2010, 2020)
    assert encode_worldbank(yf) == "date=2010:2020"
    assert encode_who(yf) == "$filter=TimeDim ge 2010 and TimeDim le 2020"
    assert encode_fao(yf) == "year_start=2010&year_end=2020"
    assert encode_unhcr(yf) == "yearFrom=2010&yearTo=2020"
    assert encode_ilo(yf) == "startPeriod=2010&endPeriod=2020"
    assert encode_worldbank(YearFilter(2010, 0)) == "date=2010:2100"
    assert encode_worldbank(YearFilter(0, 2020)) == "date=1900:2020"
    assert encode_worldbank(YearFilter()) == ""


def test_year_filter_applied(spark):
    df = api.sudan_worldbank(spark, "SP.POP.TOTL", year_filter=YearFilter(2010, 2012))
    years = sorted(r[0] for r in df.select("year").distinct().collect())
    assert years == [2010, 2011, 2012]


def test_country_code_helpers():
    assert normalize_country_code("SD") == "SDN"
    assert normalize_country_code("SDN") == "SDN"
    assert normalize_country_code("XX") == "XX"
    assert validate_country_codes(["SDN", "EG"])
    assert not validate_country_codes(["USA"])


def test_cache_roundtrip():
    c = ResponseCache()
    assert c.get("http://x") == ""
    c.put("http://x", "body")
    assert c.get("http://x") == "body"
    c.clear()
    assert c.get("http://x") == ""
