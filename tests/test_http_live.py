"""Live-HTTP path tests against canned JSON fixtures (the container is
offline, so every fetch goes through a monkeypatched http_get_json).

Covers the reference's Init-phase fetch loops for all 5 providers
(URL → parse → rows), the sample fallback when a fetch fails, and the
DataSourceReader.pushFilters year-range extraction
(filter_pushdown.cpp's contract on the Spark side).
"""

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual

from duckdb_sudan__spark.providers import api, http, samples
from duckdb_sudan__spark.providers.pushdown import YearFilter
from duckdb_sudan__spark.sources.datasource import SudanReader, _CountryPartition

# ---------------------------------------------------------------------------
# fixtures — shaped like real API responses (field names from the
# reference parse loops)
# ---------------------------------------------------------------------------

WB_PAGE1 = [
    {"page": 1, "pages": 2, "per_page": 1000, "total": 3},
    [
        {
            "indicator": {"id": "SP.POP.TOTL", "value": "Population, total"},
            "country": {"id": "SD", "value": "Sudan"},
            "date": "2020",
            "value": 43849260.0,
        },
        {
            "indicator": {"id": "SP.POP.TOTL", "value": "Population, total"},
            "country": {"id": "SD", "value": "Sudan"},
            "date": "2019",
            "value": None,
        },
    ],
]
WB_PAGE2 = [
    {"page": 2, "pages": 2},
    [
        {
            "indicator": {"id": "SP.POP.TOTL", "value": "Population, total"},
            "country": {"id": "SD", "value": "Sudan"},
            "date": "2018",
            "value": 41801533.0,
        }
    ],
]

WHO_DOC = {
    "value": [
        {
            "IndicatorCode": "WHOSIS_000001",
            "SpatialDim": "SDN",
            "TimeDim": 2019,
            "Dim1": "SEX_BTSX",
            "NumericValue": 65.3,
            "ParentLocation": "Eastern Mediterranean",
        },
        # string year, integer value, no sex/region → NULLs
        {"IndicatorCode": "WHOSIS_000001", "SpatialDim": "SDN", "TimeDim": "2018", "NumericValue": 65},
        # no NumericValue → NULL value row (reference keeps the row)
        {"IndicatorCode": "WHOSIS_000001", "SpatialDim": "SDN", "TimeDim": 2017},
    ]
}

FAO_DOC = {
    "data": [
        {"Area": "Sudan", "Item": "Wheat", "Element": "Production", "Year": 2020, "Value": "601500", "Unit": "t"},
        # different element → dropped by the client-side partial match
        {"Area": "Sudan", "Item": "Wheat", "Element": "Yield", "Year": 2020, "Value": "1.9", "Unit": "hg/ha"},
        # 'Production Quantity' still contains 'production' → kept
        {"Area": "Sudan", "Item": "Sorghum", "Element": "Production Quantity", "Year": 2019, "Value": 3.5, "Unit": "t"},
    ]
}

UNHCR_DOC = {
    "items": [
        {
            "year": 2020,
            "coo": "SDN",
            "coo_iso": "SDN",
            "coo_name": "Sudan",
            "coa": "TCD",
            "coa_iso": "TCD",
            "coa_name": "Chad",
            "refugees": 12345,
            "idps": 0,
        },
        # zero for the requested field → skipped
        {"year": 2019, "coo_iso": "SDN", "coa_iso": "EGY", "refugees": 0},
        # string value parses; missing *_iso falls back to coo/coa
        {"year": 2018, "coo": "SDN", "coa": "EGY", "coa_name": "Egypt", "refugees": "678"},
    ]
}

ILO_DOC_V1 = {
    "dataSets": [{"series": {"0:0:0:0": {"observations": {"0": [12.5], "1": [13.1]}}}}],
    "structure": {
        "dimensions": {
            "series": [
                {"id": "REF_AREA", "values": [{"id": "SDN"}]},
                {"id": "FREQ", "values": [{"id": "A"}]},
                {"id": "SEX", "values": [{"id": "SEX_T"}]},
                {"id": "AGE", "values": [{"id": "AGE_YTHADULT_Y15-64"}]},
            ],
            "observation": [{"id": "TIME_PERIOD", "values": [{"id": "2019"}, {"id": "2020"}]}],
        }
    },
}

# same content in the SDMX-JSON 2.0 envelope (root > data > ...)
ILO_DOC_V2 = {"data": {"dataSets": ILO_DOC_V1["dataSets"], "structures": [ILO_DOC_V1["structure"]]}}

NO_YF = YearFilter()


def _serve(mapping):
    """monkeypatch http_get_json: url-substring → fixture."""

    def fake(url, settings=None):
        for frag, doc in mapping.items():
            if frag in url:
                return doc
        return None

    return fake


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------


def test_fetch_worldbank_pages_follows_pages_metadata(monkeypatch):
    monkeypatch.setattr(http, "http_get_json", _serve({"&page=1": WB_PAGE1, "&page=2": WB_PAGE2}))
    rows = http.fetch_worldbank_pages("SP.POP.TOTL", "SDN", NO_YF)
    assert [r[4] for r in rows] == [2020, 2019, 2018]
    assert rows[0] == ("SP.POP.TOTL", "Population, total", "SD", "Sudan", 2020, 43849260.0)
    assert rows[1][5] is None  # null value preserved


def test_parse_who_rows():
    rows = http.parse_who(WHO_DOC, "WHOSIS_000001", "SDN")
    assert rows[0] == ("WHOSIS_000001", None, "SDN", 2019, "SEX_BTSX", 65.3, "Eastern Mediterranean")
    assert rows[1] == ("WHOSIS_000001", None, "SDN", 2018, None, 65.0, None)  # str year, int value
    assert rows[2][5] is None  # missing NumericValue → NULL kept


def test_parse_fao_element_filter():
    rows = http.parse_fao(FAO_DOC, "production", "QCL")
    assert [r[3] for r in rows] == ["Production", "Production Quantity"]
    assert rows[0] == ("QCL", "Sudan", "Wheat", "Production", 2020, 601500.0, "t")


def test_parse_unhcr_field_selection_and_iso_preference():
    rows = http.parse_unhcr(UNHCR_DOC, "refugees")
    assert len(rows) == 2  # zero-valued row skipped
    assert rows[0] == (2020, "refugees", "SDN", "Sudan", "TCD", "Chad", 12345)
    assert rows[1] == (2018, "refugees", "SDN", None, "EGY", "Egypt", 678)


def test_fetch_unhcr_queries_both_coo_and_coa(monkeypatch):
    seen = []

    def fake(url, settings=None):
        seen.append(url)
        return UNHCR_DOC if "coo=SDN" in url else {"items": []}

    monkeypatch.setattr(http, "http_get_json", fake)
    rows = http.fetch_unhcr("ref", "SDN", NO_YF)  # alias 'ref' → field 'refugees'
    assert len(seen) == 2 and "coo=SDN" in seen[0] and "coa=SDN" in seen[1]
    assert all("population/v1/population/" in u and "cf_type=iso" in u for u in seen)
    assert len(rows) == 2 and rows[0][1] == "refugees"


@pytest.mark.parametrize("doc", [ILO_DOC_V1, ILO_DOC_V2], ids=["sdmx1.0", "sdmx2.0"])
def test_parse_ilo_sdmx(doc):
    rows = http.parse_ilo_sdmx(doc, "UNE_DEAP_SEX_AGE_RT", "SDN")
    assert rows == [
        ("UNE_DEAP_SEX_AGE_RT", "SDN", "SEX_T", "AGE_YTHADULT_Y15-64", 2019, 12.5),
        ("UNE_DEAP_SEX_AGE_RT", "SDN", "SEX_T", "AGE_YTHADULT_Y15-64", 2020, 13.1),
    ]


def test_fetch_ilo_walks_key_suffix_ladder(monkeypatch):
    seen = []

    def fake(url, settings=None):
        seen.append(url)
        # first two key shapes 404 (None); the 3-dot shape succeeds
        return ILO_DOC_V1 if "/SDN.A..." in url else None

    monkeypatch.setattr(http, "http_get_json", fake)
    rows = http.fetch_ilo("UNE_DEAP_SEX_AGE_RT", "SDN", NO_YF)
    assert len(rows) == 2
    assert len(seen) == 3  # stopped at the first suffix that returned data
    assert "/ILO,DF_UNE_DEAP_SEX_AGE_RT/SDN.A." in seen[0]


# ---------------------------------------------------------------------------
# api wiring: offline=False → fetch; empty fetch → sample fallback
# ---------------------------------------------------------------------------


def test_api_who_live_path(spark, monkeypatch):
    monkeypatch.setattr(http, "http_get_json", _serve({"ghoapi": WHO_DOC}))
    df = api.sudan_who(spark, "WHOSIS_000001", ["SDN"], offline=False)
    rows = df.collect()
    assert len(rows) == 3 and rows[0].value == 65.3 and rows[0].indicator_name is None


def test_api_live_fetch_failure_falls_back_to_samples(spark, monkeypatch):
    monkeypatch.setattr(http, "http_get_json", lambda url, settings=None: None)
    live = api.sudan_worldbank(spark, "SP.POP.TOTL", ["SDN", "EGY"], offline=False)
    offline = api.sudan_worldbank(spark, "SP.POP.TOTL", ["SDN", "EGY"], offline=True)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, offline.collect()))


def test_api_live_partial_failure_mixes_sources(spark, monkeypatch):
    # SDN fetch succeeds, EGY fails → EGY served from samples
    def fake(url, settings=None):
        return WHO_DOC if "'SDN'" in url else None

    monkeypatch.setattr(http, "http_get_json", fake)
    df = api.sudan_who(spark, "WHOSIS_000001", ["SDN", "EGY"], offline=False)
    sdn = [r for r in df.collect() if r.country == "SDN"]
    egy_sample = samples.who_rows("WHOSIS_000001", ["EGY"])
    assert len(sdn) == 3 and df.count() == 3 + len(egy_sample)


# ---------------------------------------------------------------------------
# DataSource: bind validation + pushFilters
# ---------------------------------------------------------------------------


def test_reader_bind_validation():
    with pytest.raises(ValueError, match="SUDAN: The indicator parameter cannot be empty"):
        SudanReader({"provider": "worldbank"})
    with pytest.raises(ValueError, match="SUDAN: Invalid country code"):
        SudanReader({"provider": "worldbank", "indicator": "X", "countries": "SDN,ATLANTIS"})
    with pytest.raises(ValueError, match="SUDAN: Invalid population_type"):
        SudanReader({"provider": "unhcr", "population_type": "martians"})
    with pytest.raises(ValueError, match="SUDAN: Unknown provider"):
        SudanReader({"provider": "nope"})


def test_reader_base_url_does_not_leak_into_later_reads(monkeypatch):
    """`base_url` repoints one read only: Spark reuses Python workers, so
    a later offline=false read without it must use the default hosts."""
    seen = []

    def fake(url, settings=None):
        seen.append(url)
        return None  # every fetch fails → sample fallback, no network

    monkeypatch.setattr(http, "http_get_json", fake)
    opts = {"provider": "worldbank", "indicator": "SP.POP.TOTL", "countries": "SDN", "offline": "false"}
    first = list(SudanReader({**opts, "base_url": "http://127.0.0.1:9"}).read(_CountryPartition("SDN")))
    n_first = len(seen)
    second = list(SudanReader(opts).read(_CountryPartition("SDN")))
    assert first == second == samples.worldbank_rows("SP.POP.TOTL", ["SDN"])
    assert n_first and all(u.startswith("http://127.0.0.1:9/") for u in seen[:n_first])
    assert seen[n_first:] and all(u.startswith("https://api.worldbank.org/") for u in seen[n_first:])


def test_push_filters_absorbs_year_range():
    r = SudanReader({"provider": "ilo", "indicator": "UNE_DEAP_SEX_AGE_RT"})
    other = EqualTo(("country",), "SD")
    residual = list(
        r.pushFilters(
            [GreaterThanOrEqual(("year",), 2015), LessThan(("year",), 2017), other]
        )
    )
    assert residual == [other]  # only the non-year filter survives
    assert r.year_filter == YearFilter(2015, 2016)
    years = sorted({row[4] for row in r.read(_CountryPartition("SDN"))})
    assert years and years == [y for y in years if 2015 <= y <= 2016]


def test_push_filters_strict_bounds_and_equality():
    r = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
    assert list(r.pushFilters([GreaterThan(("year",), 2014), LessThanOrEqual(("year",), 2018)])) == []
    assert r.year_filter == YearFilter(2015, 2018)
    r2 = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
    assert list(r2.pushFilters([EqualTo(("year",), 2016)])) == []
    assert r2.year_filter == YearFilter(2016, 2016)


def test_push_filters_leaves_degenerate_bounds_residual():
    """Bounds that would collapse into YearFilter's 0-means-unbounded
    sentinel must NOT be absorbed: `year < 1` / `year <= 0` / `year = 0`
    would silently become no-filter (ADVICE r2). They stay residual so
    Catalyst evaluates them."""
    degenerate = [LessThan(("year",), 1), LessThanOrEqual(("year",), 0), EqualTo(("year",), 0)]
    for f in degenerate:
        r = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
        assert list(r.pushFilters([f])) == [f], f
        assert r.year_filter == YearFilter(), f  # untouched — still unbounded
    # boundary: year <= 1 and year = 1 ARE absorbable (bound stays >= 1)
    r = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
    assert list(r.pushFilters([LessThanOrEqual(("year",), 1)])) == []
    assert r.year_filter == YearFilter(0, 1)
    r2 = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
    assert list(r2.pushFilters([GreaterThan(("year",), 0), EqualTo(("year",), 1)])) == []
    assert r2.year_filter == YearFilter(1, 1)
    # a degenerate lower bound (year > -1 ⇒ year >= 0) also stays residual
    r3 = SudanReader({"provider": "worldbank", "indicator": "SP.POP.TOTL"})
    gt = GreaterThan(("year",), -1)
    assert list(r3.pushFilters([gt])) == [gt]
    assert r3.year_filter == YearFilter()


def test_push_filters_intersects_with_options():
    r = SudanReader(
        {"provider": "worldbank", "indicator": "SP.POP.TOTL", "year_start": "2010", "year_end": "2020"}
    )
    list(r.pushFilters([GreaterThanOrEqual(("year",), 2014), LessThanOrEqual(("year",), 2030)]))
    assert r.year_filter == YearFilter(2014, 2020)


def test_push_filters_through_sql(spark):
    """End-to-end: a WHERE year range over the DataSource returns the
    same rows as explicit year_start/year_end options (correct whether
    or not the session has Python-source filter pushdown enabled —
    the reader re-applies its absorbed range on read)."""
    from duckdb_sudan__spark.sources import register_sudan_datasource

    register_sudan_datasource(spark)
    base = (
        spark.read.format("sudan")
        .option("provider", "ilo")
        .option("indicator", "UNE_DEAP_SEX_AGE_RT")
    )
    filtered = base.load().filter("year >= 2015 and year <= 2016")
    explicit = base.option("year_start", "2015").option("year_end", "2016").load()
    assert sorted(map(tuple, filtered.collect())) == sorted(map(tuple, explicit.collect()))
