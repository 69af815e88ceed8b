"""Online fetch path: HTTP settings, provider URL construction, JSON
fetch, and per-provider response parsers.

Parity map (reference → here):
- http_client.cpp:61-106 ExtractHttpSettings → HttpSettings /
  extract_http_settings (timeout, proxy + basic auth, user-agent,
  cache toggle — read from the ``spark.sudan.http.*`` conf keys listed
  there instead of DuckDB settings/secrets; the api.sudan_* functions
  pass the session's conf).
- wb_functions.cpp:110-210 FetchWorldBankData → fetch_worldbank_pages
  (page loop over `pages` metadata, date=START:END filter).
- who_functions.cpp:107-205 FetchWHOData → fetch_who / parse_who.
- fao_functions.cpp:121-232 ParseFAOPage/FetchFAOData → fetch_fao /
  parse_fao (area=numeric FAO code, output_type=objects&limit=500,
  element filtered CLIENT-side by partial case-insensitive match).
- unhcr_functions.cpp:108-245 → fetch_unhcr / parse_unhcr (unified
  /population/v1/population/ endpoint, limit=10000&cf_type=iso, one
  fetch per param in {coo, coa}, zero-valued rows skipped).
- ilo_functions.cpp:102-350 FetchILOData → fetch_ilo / parse_ilo_sdmx
  (DF_ prefix guarded, key '{iso3}.A' + wildcard suffix retries,
  SDMX-JSON 1.0/2.0 structure walk for SEX / AGE|CLASSIF1 /
  TIME_PERIOD).

The test container has no network: URL building and parsing are
unit-tested against canned fixtures; the fetch itself returns [] on
any failure and callers fall back to the offline samples.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from duckdb_sudan__spark.providers.cache import ResponseCache
from duckdb_sudan__spark.providers.pushdown import (
    YearFilter,
    encode_ilo,
    encode_unhcr,
    encode_who,
    encode_worldbank,
)

DEFAULT_TIMEOUT = 90
DEFAULT_USER_AGENT = "duckdb_sudan__spark/0.2"


@dataclass(frozen=True)
class HttpSettings:
    """HTTP client configuration (http_client.cpp:61-106)."""

    timeout: int = DEFAULT_TIMEOUT
    use_cache: bool = True
    user_agent: str = DEFAULT_USER_AGENT
    proxy: str = ""
    proxy_username: str = ""
    proxy_password: str = ""


_CONF_PREFIX = "spark.sudan.http."


def extract_http_settings(conf=None) -> HttpSettings:
    """Build HttpSettings from a Spark conf (RuntimeConfig or plain
    mapping) — the Spark-native analogue of the reference's
    ExtractHttpSettings reading DuckDB settings + the http secret
    (http_client.cpp:61-106). Recognized keys (all optional)::

        spark.sudan.http.timeout            seconds, default 90
        spark.sudan.http.requestCache       true/false
        spark.sudan.http.userAgent          string
        spark.sudan.http.proxy              host:port
        spark.sudan.http.proxyUsername      string
        spark.sudan.http.proxyPassword      string
    """

    def get(key: str, default: str) -> str:
        if conf is None:
            return default
        full = _CONF_PREFIX + key
        try:
            if hasattr(conf, "get"):
                val = conf.get(full, default)
                return default if val is None else str(val)
        except Exception:
            return default
        return default

    def as_bool(s: str) -> bool:
        return str(s).strip().lower() in ("1", "true", "yes", "on")

    return HttpSettings(
        timeout=int(get("timeout", str(DEFAULT_TIMEOUT))),
        use_cache=as_bool(get("requestCache", "true")),
        user_agent=get("userAgent", DEFAULT_USER_AGENT),
        proxy=get("proxy", ""),
        proxy_username=get("proxyUsername", ""),
        proxy_password=get("proxyPassword", ""),
    )


# ---------------------------------------------------------------------------
# URL builders — exact reference URL shapes
# ---------------------------------------------------------------------------

# scheme+host per provider. Production values are the reference's public
# API hosts; tests point entries at an in-process loopback http.server to
# drive the real socket path (urllib opener, redirects, timeouts) with no
# network. Every builder and fetcher also takes `base`, a per-call
# override of this table (the DataSource's `base_url` option).
PROVIDER_BASES = {
    "worldbank": "https://api.worldbank.org",
    "who": "https://ghoapi.azureedge.net",
    "fao": "https://faostatservices.fao.org",
    "unhcr": "https://api.unhcr.org",
    "ilo": "https://sdmx.ilo.org",
}


def build_worldbank_url(
    indicator: str, iso3: str, yf: YearFilter, page: int = 1, base: str | None = None
) -> str:
    # wb_functions.cpp:113-126
    url = (
        f"{base or PROVIDER_BASES['worldbank']}/v2/country/{iso3}/indicator/{indicator}"
        f"?format=json&per_page=1000&page={page}"
    )
    year_param = encode_worldbank(yf)
    return f"{url}&{year_param}" if year_param else url


def build_who_url(indicator: str, iso3: str, yf: YearFilter, base: str | None = None) -> str:
    # who_functions.cpp:110-112; year range merged into the OData $filter
    url = f"{base or PROVIDER_BASES['who']}/api/{indicator}?$filter=SpatialDim eq '{iso3}'"
    year_param = encode_who(yf)
    if year_param:
        url += " and " + year_param.removeprefix("$filter=")
    return url


# FAO numeric area codes (fao_functions.cpp:111-119)
FAO_AREA_CODES = {
    "SDN": "276", "EGY": "59", "ETH": "238", "TCD": "39",
    "SSD": "277", "ERI": "178", "LBY": "124", "CAF": "37",
}


def fao_area_code(iso3: str) -> str:
    return FAO_AREA_CODES.get(iso3, iso3)


def build_fao_url(dataset: str, iso3: str, base: str | None = None) -> str:
    """fao_functions.cpp:210-216: FAOSTAT caps limit at ~500 and has no
    offset pagination; `element` is NOT a URL parameter — it's matched
    client-side against the Element field (partial, case-insensitive)."""
    return (
        f"{base or PROVIDER_BASES['fao']}/api/v1/en/data/{dataset}"
        f"?area={fao_area_code(iso3)}&output_type=objects&limit=500"
    )


def build_unhcr_url(param_name: str, iso3: str, yf: YearFilter, base: str | None = None) -> str:
    """unhcr_functions.cpp:237-243: always the unified /population/
    endpoint; cf_type=iso makes the API accept ISO3 codes; param_name
    is 'coo' (origin) or 'coa' (asylum) — callers fetch BOTH. The
    population type selects a response FIELD, not a path segment."""
    url = f"{base or PROVIDER_BASES['unhcr']}/population/v1/population/?limit=10000&cf_type=iso&{param_name}={iso3}"
    year_param = encode_unhcr(yf)
    return f"{url}&{year_param}" if year_param else url


ILO_KEY_SUFFIXES = (".", "..", "...", "....", ".....")


def build_ilo_urls(indicator: str, iso3: str, yf: YearFilter, base: str | None = None) -> list[str]:
    """ilo_functions.cpp:107-122: dataflow DF_ prefix only when absent
    (catalog IDs already carry it); SDMX key is REF_AREA first then
    'A' (Annual); dimension count varies per indicator so each
    wildcard suffix ('.' … '.....') yields a candidate URL to try in
    order until one succeeds."""
    dataflow = indicator if indicator.startswith("DF_") else f"DF_{indicator}"
    prefix = f"{base or PROVIDER_BASES['ilo']}/rest/data/ILO,{dataflow}/{iso3}.A"
    suffix = "?format=jsondata&detail=dataonly&lastNObservations=20"
    year_param = encode_ilo(yf)
    if year_param:
        suffix += "&" + year_param
    return [prefix + ks + suffix for ks in ILO_KEY_SUFFIXES]


# ---------------------------------------------------------------------------
# fetch
# ---------------------------------------------------------------------------


def http_get_json(url: str, settings: HttpSettings | None = None) -> dict | list | None:
    """Cached GET → parsed JSON; None on any failure (offline, 4xx/5xx,
    bad JSON). Callers fall back to embedded samples."""
    s = settings or HttpSettings()
    cache = ResponseCache.instance()
    body = cache.get(url) if s.use_cache else None
    if not body:
        try:
            from urllib.request import (
                HTTPBasicAuthHandler,
                HTTPPasswordMgrWithDefaultRealm,
                ProxyHandler,
                Request,
                build_opener,
            )

            handlers = []
            if s.proxy:
                proxy = s.proxy if "://" in s.proxy else f"http://{s.proxy}"
                handlers.append(ProxyHandler({"http": proxy, "https": proxy}))
                if s.proxy_username:
                    mgr = HTTPPasswordMgrWithDefaultRealm()
                    mgr.add_password(None, proxy, s.proxy_username, s.proxy_password)
                    handlers.append(HTTPBasicAuthHandler(mgr))
            opener = build_opener(*handlers)
            headers = {"User-Agent": s.user_agent}
            # the WHO OData $filter carries literal spaces (reference URL
            # shape, who_functions.cpp:110-112) — a raw space in the
            # request line is malformed HTTP and real servers 400 it, so
            # percent-encode it at send time (cache stays keyed on the
            # readable URL)
            req = Request(url.replace(" ", "%20"), headers=headers)
            with opener.open(req, timeout=s.timeout) as resp:
                if getattr(resp, "status", 200) != 200:
                    return None
                body = resp.read().decode("utf-8")
        except Exception:
            return None
        if s.use_cache:
            cache.put(url, body)
    try:
        return json.loads(body)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# World Bank (wb_functions.cpp:110-210)
# ---------------------------------------------------------------------------


def parse_worldbank_page(doc, rows: list[tuple]) -> int:
    """Append one page's rows; return the `pages` metadata (or 1)."""
    total_pages = 1
    if not isinstance(doc, list) or len(doc) < 2:
        return 0
    meta, data = doc[0], doc[1]
    if isinstance(meta, dict) and isinstance(meta.get("pages"), int):
        total_pages = meta["pages"]
    if isinstance(data, list):
        for elem in data:
            ind = elem.get("indicator") or {}
            country = elem.get("country") or {}
            try:
                year = int(elem.get("date") or 0)
            except ValueError:
                year = 0
            value = elem.get("value")
            rows.append(
                (
                    ind.get("id", ""),
                    ind.get("value", ""),
                    country.get("id", ""),
                    country.get("value", ""),
                    year,
                    float(value) if value is not None else None,
                )
            )
    return total_pages


def fetch_worldbank_pages(
    indicator: str, iso3: str, yf: YearFilter, settings: HttpSettings | None = None, base: str | None = None
) -> list[tuple]:
    """All pages for one (indicator, country) — the reference's
    FetchWorldBankData loop (wb_functions.cpp:110-210)."""
    rows: list[tuple] = []
    page, total_pages = 1, 1
    while page <= total_pages:
        doc = http_get_json(build_worldbank_url(indicator, iso3, yf, page, base), settings)
        got = parse_worldbank_page(doc, rows)
        if got == 0:
            break
        total_pages = got
        page += 1
    return rows


# ---------------------------------------------------------------------------
# WHO GHO (who_functions.cpp:107-205)
# ---------------------------------------------------------------------------


def _to_year(val) -> int:
    if isinstance(val, bool):
        return 0
    if isinstance(val, int):
        return val
    if isinstance(val, str):
        try:
            return int(val)
        except ValueError:
            return 0
    return 0


def _to_double(val) -> float | None:
    if isinstance(val, bool):
        return None
    if isinstance(val, (int, float)):
        return float(val)
    return None


def parse_who(doc, indicator: str, iso3: str) -> list[tuple]:
    """OData `value` array → (indicator_code, indicator_name=None,
    country, year, sex, value, region). WHO data responses carry no
    indicator name (who_functions.cpp:196-199), so it is always NULL
    on the live path."""
    if not isinstance(doc, dict) or not isinstance(doc.get("value"), list):
        return []
    rows = []
    for elem in doc["value"]:
        code = elem.get("IndicatorCode")
        spatial = elem.get("SpatialDim")
        sex = elem.get("Dim1")
        region = elem.get("ParentLocation")
        rows.append(
            (
                code if isinstance(code, str) else indicator,
                None,
                spatial if isinstance(spatial, str) else iso3,
                _to_year(elem.get("TimeDim")),
                sex if isinstance(sex, str) and sex else None,
                _to_double(elem.get("NumericValue")),
                region if isinstance(region, str) and region else None,
            )
        )
    return rows


def fetch_who(
    indicator: str, iso3: str, yf: YearFilter, settings: HttpSettings | None = None, base: str | None = None
) -> list[tuple]:
    return parse_who(http_get_json(build_who_url(indicator, iso3, yf, base), settings), indicator, iso3)


# ---------------------------------------------------------------------------
# FAO (fao_functions.cpp:121-232)
# ---------------------------------------------------------------------------


def parse_fao(doc, element: str, dataset: str) -> list[tuple]:
    """FAOSTAT `data` array → (dataset, area, item, element, year,
    value, unit); rows kept only when Element contains `element`
    case-insensitively (fao_functions.cpp:140-149)."""
    if not isinstance(doc, dict) or not isinstance(doc.get("data"), list):
        return []
    element_lower = element.lower()
    rows = []
    for elem in doc["data"]:
        elem_name = elem.get("Element")
        if isinstance(elem_name, str) and element_lower not in elem_name.lower():
            continue
        value = elem.get("Value")
        if isinstance(value, str):
            try:
                value = float(value)
            except ValueError:
                value = None
        else:
            value = _to_double(value)
        rows.append(
            (
                dataset,
                elem.get("Area") if isinstance(elem.get("Area"), str) else None,
                elem.get("Item") if isinstance(elem.get("Item"), str) else None,
                elem_name if isinstance(elem_name, str) else None,
                _to_year(elem.get("Year")),
                value,
                elem.get("Unit") if isinstance(elem.get("Unit"), str) else None,
            )
        )
    return rows


def fetch_fao(
    dataset: str,
    element: str,
    iso3: str,
    yf: YearFilter,
    settings: HttpSettings | None = None,
    base: str | None = None,
) -> list[tuple]:
    rows = parse_fao(http_get_json(build_fao_url(dataset, iso3, base), settings), element, dataset)
    # FAOSTAT has no year URL params the API honors — filter client-side
    return [r for r in rows if yf.contains(r[4])] if yf.active else rows


# ---------------------------------------------------------------------------
# UNHCR (unhcr_functions.cpp:108-245)
# ---------------------------------------------------------------------------

# user-facing population type → UNHCR JSON field (unhcr_functions.cpp:108-126)
UNHCR_FIELD_NAMES = {
    "refugees": "refugees", "ref": "refugees",
    "idps": "idps", "idp": "idps",
    "asylum_seekers": "asylum_seekers", "asylum": "asylum_seekers",
    "returned_refugees": "returned_refugees", "returned": "returned_refugees",
    "returnees": "returned_refugees",
    "stateless": "stateless",
}


def unhcr_field_name(population_type: str) -> str:
    t = population_type.lower()
    return UNHCR_FIELD_NAMES.get(t, t)


def _unhcr_value(val) -> int:
    if isinstance(val, bool):
        return 0
    if isinstance(val, int):
        return val
    if isinstance(val, float):
        return int(val)
    if isinstance(val, str):
        try:
            return int(val)
        except ValueError:
            return 0
    return 0


def parse_unhcr(doc, field_name: str) -> list[tuple]:
    """UNHCR `items` array → (year, population_type, coo, coo_name,
    coa, coa_name, value); rows with value 0 for the requested type are
    skipped; ISO fields preferred over UN codes
    (unhcr_functions.cpp:159-225)."""
    if not isinstance(doc, dict) or not isinstance(doc.get("items"), list):
        return []
    rows = []
    for elem in doc["items"]:
        value = _unhcr_value(elem.get(field_name))
        if value == 0:
            continue
        coo = elem.get("coo_iso") if isinstance(elem.get("coo_iso"), str) else elem.get("coo")
        coa = elem.get("coa_iso") if isinstance(elem.get("coa_iso"), str) else elem.get("coa")
        rows.append(
            (
                elem.get("year") if isinstance(elem.get("year"), int) else 0,
                field_name,
                coo if isinstance(coo, str) else None,
                elem.get("coo_name") if isinstance(elem.get("coo_name"), str) else None,
                coa if isinstance(coa, str) else None,
                elem.get("coa_name") if isinstance(elem.get("coa_name"), str) else None,
                value,
            )
        )
    return rows


def fetch_unhcr(
    population_type: str, iso3: str, yf: YearFilter, settings: HttpSettings | None = None, base: str | None = None
) -> list[tuple]:
    """One fetch per param in {coo, coa} — the country appears on both
    the origin and asylum side (unhcr_functions.cpp:228-244)."""
    field_name = unhcr_field_name(population_type)
    rows: list[tuple] = []
    for param_name in ("coo", "coa"):
        url = build_unhcr_url(param_name, iso3, yf, base)
        rows.extend(parse_unhcr(http_get_json(url, settings), field_name))
    return rows


# ---------------------------------------------------------------------------
# ILO SDMX (ilo_functions.cpp:102-350)
# ---------------------------------------------------------------------------


def _sdmx_dim_values(dim: dict) -> list[str]:
    out = []
    for v in dim.get("values", []) or []:
        vid = v.get("id")
        out.append(vid if isinstance(vid, str) else (v.get("name") if isinstance(v.get("name"), str) else ""))
    return out


def _sdmx_key_indices(key: str) -> list[int]:
    out = []
    for part in key.split(":"):
        try:
            out.append(int(part))
        except ValueError:
            out.append(0)
    return out


def _sdmx_lookup(dims: list[tuple[str, list[str]]], dim_id: str, indices: list[int]) -> str:
    for i, (did, values) in enumerate(dims):
        if i < len(indices) and did == dim_id and indices[i] < len(values):
            return values[indices[i]]
    return ""


def parse_ilo_sdmx(doc, indicator: str, iso3: str) -> list[tuple]:
    """SDMX-JSON (1.0 root-level or 2.0 under `data`) series walk:
    series key indices → SEX and AGE|CLASSIF1 via the structure's
    series dimensions, observation key → TIME_PERIOD via observation
    dimensions, value = observations[k][0]. Rows without a numeric
    value are dropped (ilo_functions.cpp:146-350)."""
    if not isinstance(doc, dict):
        return []
    datasets = doc.get("dataSets")
    if not isinstance(datasets, list) or not datasets:
        data_obj = doc.get("data")
        datasets = data_obj.get("dataSets") if isinstance(data_obj, dict) else None
    if not isinstance(datasets, list) or not datasets:
        return []
    dataset = datasets[0]

    structure = doc.get("structure")
    if not isinstance(structure, dict):
        data_obj = doc.get("data")
        if isinstance(data_obj, dict):
            structures = data_obj.get("structures")
            if isinstance(structures, list) and structures:
                structure = structures[0]
    series_dims: list[tuple[str, list[str]]] = []
    obs_dims: list[tuple[str, list[str]]] = []
    if isinstance(structure, dict):
        dimensions = structure.get("dimensions") or {}
        for dim in dimensions.get("series", []) or []:
            series_dims.append((dim.get("id") or "", _sdmx_dim_values(dim)))
        for dim in dimensions.get("observation", []) or []:
            obs_dims.append((dim.get("id") or "", _sdmx_dim_values(dim)))

    rows: list[tuple] = []
    series = dataset.get("series")
    if not isinstance(series, dict):
        return rows
    for series_key, series_val in series.items():
        indices = _sdmx_key_indices(series_key)
        sex = _sdmx_lookup(series_dims, "SEX", indices)
        classif1 = _sdmx_lookup(series_dims, "AGE", indices) or _sdmx_lookup(series_dims, "CLASSIF1", indices)
        observations = series_val.get("observations")
        if not isinstance(observations, dict):
            continue
        for obs_key, obs_val in observations.items():
            year = _to_year(_sdmx_lookup(obs_dims, "TIME_PERIOD", _sdmx_key_indices(obs_key)))
            value = None
            if isinstance(obs_val, list) and obs_val:
                value = _to_double(obs_val[0])
            if value is None:
                continue
            rows.append((indicator, iso3, sex or None, classif1 or None, year, value))
    return rows


def fetch_ilo(
    indicator: str, iso3: str, yf: YearFilter, settings: HttpSettings | None = None, base: str | None = None
) -> list[tuple]:
    """Try each wildcard key suffix until a fetch succeeds
    (ilo_functions.cpp:124-142)."""
    for url in build_ilo_urls(indicator, iso3, yf, base):
        doc = http_get_json(url, settings)
        if doc is not None:
            rows = parse_ilo_sdmx(doc, indicator, iso3)
            if rows:
                return rows
    return []
