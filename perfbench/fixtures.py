"""Seeded provider fixtures, the loopback server that serves them, and
the rows a correct client must return for them.

The server stands in for the five public APIs. It answers the URL
shapes providers/http.py builds, honours the year parameters each API
honours (FAO has none, so its client filters), pages World Bank
responses, makes the ILO key-suffix ladder miss before it hits, and
serves nothing for a few (provider, country) pairs, so the client falls
back to the embedded samples. Each response waits a fixed delay that
stands in for API latency, and at most `max_conn` requests are served
at a time.

`expected_rows` predicts a client's output from the fixture data alone
(plus the sample fallback, which is the embedded-sample contract); it
does not call the client's parsers.
"""

from __future__ import annotations

import json
import random
import re
import threading
import time
import zlib
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlsplit

from duckdb_sudan__spark.providers import samples
from duckdb_sudan__spark.providers.registry import COUNTRIES, find_country

PROVIDERS = ("worldbank", "who", "fao", "unhcr", "ilo")
ISO3 = tuple(c.iso3 for c in COUNTRIES)
FIRST_YEAR, LAST_YEAR = 1990, 2023
WB_PAGE_SIZE = 4
ILO_SUFFIXES = (".", "..", "...", "....", ".....")
FAO_ELEMENTS = ("Production", "Area harvested", "Yield")
SEXES = ("SEX_T", "SEX_M", "SEX_F")
AGES = ("AGE_YTHADULT_YGE15", "AGE_YTHADULT_Y15-24")


def _rng(*parts: object) -> random.Random:
    return random.Random(zlib.crc32("|".join(map(str, parts)).encode()))


@dataclass(frozen=True)
class Fixture:
    """What the API holds for one (provider, parameter, country)."""

    records: tuple[dict, ...]  # provider-native records, all years
    ilo_hit: int  # index into ILO_SUFFIXES that answers; -1: none does


def fixture(seed: int, provider: str, param: str, iso3: str) -> Fixture:
    """The API's data for (provider, param, country). Which pairs are
    empty (about one in six: the client must fall back to its samples)
    and where the ILO ladder answers depend only on the provider and the
    country, as they would for a real API, so every seed asks the same
    number of requests of the same shapes; the values depend on the seed."""
    shape = _rng(provider, iso3)
    if shape.random() < 0.17:
        return Fixture((), -1)
    ilo_hit = shape.randrange(len(ILO_SUFFIXES)) if provider == "ilo" else -1
    r = _rng(seed, provider, param, iso3)
    years = range(FIRST_YEAR, LAST_YEAR + 1)
    c = find_country(iso3)
    recs: list[dict] = []
    if provider == "worldbank":
        for y in years:
            v = None if r.random() < 0.08 else round(r.uniform(1e4, 5e7), 2)
            recs.append({"indicator": {"id": param, "value": f"{param} name"},
                         "country": {"id": c.iso2, "value": c.name}, "date": str(y), "value": v})
    elif provider == "who":
        for y in years:
            for sex in ("BTSX", "MLE", "FMLE"):
                recs.append({"IndicatorCode": param, "SpatialDim": iso3, "TimeDim": y, "Dim1": sex,
                             "NumericValue": round(r.uniform(1.0, 900.0), 3), "ParentLocation": "Africa"})
    elif provider == "fao":
        for y in years:
            for item in ("Wheat", "Sorghum"):
                for element in FAO_ELEMENTS:
                    recs.append({"Area": c.name, "Item": item, "Element": element, "Year": y,
                                 "Value": str(round(r.uniform(1e3, 8e6), 1)), "Unit": "t"})
    elif provider == "unhcr":
        for y in years:
            for side in ("coo", "coa"):
                other = ISO3[r.randrange(len(ISO3))]
                coo, coa = (iso3, other) if side == "coo" else (other, iso3)
                recs.append({"side": side, "year": y, "coo_iso": coo, "coo_name": find_country(coo).name,
                             "coa_iso": coa, "coa_name": find_country(coa).name,
                             param: 0 if r.random() < 0.1 else r.randrange(1, 3_000_000)})
    else:  # ilo
        for sex in SEXES:
            for age in AGES:
                for y in years[-20:]:
                    recs.append({"sex": sex, "age": age, "year": y, "value": round(r.uniform(1.0, 60.0), 2)})
    return Fixture(tuple(recs), ilo_hit)


def _in_range(year: int, start: int, end: int) -> bool:
    return (start <= 0 or year >= start) and (end <= 0 or year <= end)


def _samples(provider: str, param: str, iso3: str) -> list[tuple]:
    if provider == "worldbank":
        return samples.worldbank_rows(param, [iso3])
    if provider == "who":
        return samples.who_rows(param, [iso3])
    if provider == "fao":
        return samples.fao_rows("QCL", param, [iso3])
    if provider == "unhcr":
        return samples.unhcr_rows(param, [iso3])
    return samples.ilo_rows(param, [iso3])


YEAR_INDEX = {"worldbank": 4, "who": 3, "fao": 4, "unhcr": 0, "ilo": 4}


def _fixture_rows(fx: Fixture, provider: str, param: str, iso3: str, start: int, end: int) -> list[tuple]:
    """The rows a client parses out of the fixture for one country."""
    out: list[tuple] = []
    for rec in fx.records:
        if provider == "worldbank":
            row = (rec["indicator"]["id"], rec["indicator"]["value"], rec["country"]["id"],
                   rec["country"]["value"], int(rec["date"]), rec["value"])
        elif provider == "who":
            row = (param, None, iso3, rec["TimeDim"], rec["Dim1"], rec["NumericValue"], rec["ParentLocation"])
        elif provider == "fao":
            if param.lower() not in rec["Element"].lower():
                continue
            row = ("QCL", rec["Area"], rec["Item"], rec["Element"], rec["Year"], float(rec["Value"]), rec["Unit"])
        elif provider == "unhcr":
            if rec[param] == 0:
                continue
            row = (rec["year"], param, rec["coo_iso"], rec["coo_name"], rec["coa_iso"], rec["coa_name"], rec[param])
        else:
            row = (param, iso3, rec["sex"], rec["age"], rec["year"], rec["value"])
        out.append(row)
    return [r for r in out if _in_range(r[YEAR_INDEX[provider]], start, end)]


def expected_rows(seed: int, provider: str, param: str, countries: list[str], start: int, end: int) -> list[tuple]:
    """Rows a correct client returns: the fixture's rows in the year
    range, or, for a country whose fetch yields none, its embedded
    samples in the year range."""
    rows: list[tuple] = []
    for iso3 in countries:
        got = _fixture_rows(fixture(seed, provider, param, iso3), provider, param, iso3, start, end)
        if not got:
            got = [r for r in _samples(provider, param, iso3) if _in_range(r[YEAR_INDEX[provider]], start, end)]
        rows.extend(got)
    return rows


def requests_needed(seed: int, provider: str, param: str, countries: list[str], start: int, end: int) -> int:
    """Requests one op makes against a cold cache."""
    total = 0
    for iso3 in countries:
        fx = fixture(seed, provider, param, iso3)
        if provider == "worldbank":
            n = sum(1 for rec in fx.records if _in_range(int(rec["date"]), start, end))
            total += max(1, -(-n // WB_PAGE_SIZE))
        elif provider == "unhcr":
            total += 2
        elif provider == "ilo":
            hit = fx.ilo_hit >= 0 and any(_in_range(rec["year"], start, end) for rec in fx.records)
            total += fx.ilo_hit + 1 if hit else len(ILO_SUFFIXES)
        else:
            total += 1
    return total


# -- the server ---------------------------------------------------------------


@dataclass
class Request:
    """One served request, as the server saw it."""

    op: int
    start: float
    end: float
    bytes: int
    rows_sent: int
    useful: bool


class FixtureServer:
    """Loopback HTTP server for the fixtures. `op` is the id of the op in
    flight; the benchmark loop is closed, so every request belongs to
    it. Paths start with `/pN`, which is ignored: it lets one run use
    fresh URLs, and so a cold response cache, per pass."""

    def __init__(self, seed: int, delay_s: float, max_conn: int):
        self.seed = seed
        self.delay_s = delay_s
        self.op = -1
        self.log: list[Request] = []
        self._slots = threading.BoundedSemaphore(max_conn)
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_GET(self):  # noqa: N802 - BaseHTTPRequestHandler API
                with server._slots:
                    t0 = time.perf_counter()
                    status, doc, rows_sent = server.respond(unquote(self.path))
                    body = json.dumps(doc).encode() if doc is not None else b"no data"
                    time.sleep(server.delay_s)
                    # logged before the reply is sent: once the client has it, the log has the request
                    with server._lock:
                        server.log.append(Request(server.op, t0, time.perf_counter(), len(body),
                                                  rows_sent, status == 200 and rows_sent > 0))
                    self.send_response(status)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)

            def log_message(self, *args):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def __enter__(self) -> "FixtureServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)

    def base_url(self, pass_no: int) -> str:
        return f"http://127.0.0.1:{self._httpd.server_port}/p{pass_no}"

    def respond(self, raw_path: str) -> tuple[int, object, int]:
        """(status, JSON document or None, data rows sent) for a path."""
        parts = urlsplit(raw_path)
        path = re.sub(r"^/p\d+/", "/", parts.path)
        q = {k: v[0] for k, v in parse_qs(parts.query, keep_blank_values=True).items()}
        seg = path.strip("/").split("/")
        if seg[:2] == ["v2", "country"]:
            iso3, indicator = seg[2], seg[4]
            start, end = (int(x) for x in q["date"].split(":")) if "date" in q else (0, 0)
            recs = [r for r in fixture(self.seed, "worldbank", indicator, iso3).records
                    if _in_range(int(r["date"]), start, end)]
            pages = max(1, -(-len(recs) // WB_PAGE_SIZE))
            page = int(q.get("page", "1"))
            chunk = recs[(page - 1) * WB_PAGE_SIZE:page * WB_PAGE_SIZE]
            return 200, [{"page": page, "pages": pages, "total": len(recs)}, chunk], len(chunk)
        if seg[0] == "api" and seg[1:4] == ["v1", "en", "data"]:
            iso3 = next(k for k, v in _FAO_AREAS.items() if v == q["area"])
            recs = fixture(self.seed, "fao", _FAO_ELEMENT_PARAM, iso3).records
            return 200, {"data": list(recs)}, len(recs)
        if seg[0] == "api":
            flt = q["$filter"]
            iso3 = flt.split("SpatialDim eq '", 1)[1][:3]
            start = int(flt.split("TimeDim ge ", 1)[1].split()[0]) if "TimeDim ge" in flt else 0
            end = int(flt.split("TimeDim le ", 1)[1].split()[0]) if "TimeDim le" in flt else 0
            recs = [r for r in fixture(self.seed, "who", seg[1], iso3).records
                    if _in_range(r["TimeDim"], start, end)]
            return 200, {"value": recs}, len(recs)
        if seg[:3] == ["population", "v1", "population"]:
            side = "coo" if "coo" in q else "coa"
            iso3 = q[side]
            start, end = int(q.get("yearFrom", 0)), int(q.get("yearTo", 0))
            param = _UNHCR_PARAM
            recs = [{k: v for k, v in r.items() if k != "side"}
                    for r in fixture(self.seed, "unhcr", param, iso3).records
                    if r["side"] == side and _in_range(r["year"], start, end)]
            return 200, {"items": recs}, len(recs)
        if seg[:2] == ["rest", "data"]:
            indicator = seg[2].split(",", 1)[1].removeprefix("DF_")
            iso3, suffix = seg[3].split(".A", 1)
            fx = fixture(self.seed, "ilo", indicator, iso3)
            if fx.ilo_hit < 0 or suffix != ILO_SUFFIXES[fx.ilo_hit]:
                return 404, None, 0
            start, end = int(q.get("startPeriod", 0)), int(q.get("endPeriod", 0))
            recs = [r for r in fx.records if _in_range(r["year"], start, end)]
            return 200, _sdmx(recs), len(recs)
        return 404, None, 0


# the benchmark's ops use one FAO element and one UNHCR population type;
# the server needs them to pick the fixture (neither is in the URL)
_FAO_ELEMENT_PARAM = "production"
_UNHCR_PARAM = "refugees"
_FAO_AREAS = {"SDN": "276", "EGY": "59", "ETH": "238", "TCD": "39",
              "SSD": "277", "ERI": "178", "LBY": "124", "CAF": "37"}


def _sdmx(recs: list[dict]) -> dict:
    """SDMX-JSON 1.0: series keyed SEX:AGE, observations keyed by year index."""
    years = sorted({r["year"] for r in recs})
    series: dict[str, dict] = {}
    for r in recs:
        key = f"{SEXES.index(r['sex'])}:{AGES.index(r['age'])}"
        series.setdefault(key, {"observations": {}})["observations"][str(years.index(r["year"]))] = [r["value"]]
    return {
        "dataSets": [{"series": series}],
        "structure": {"dimensions": {
            "series": [{"id": "SEX", "values": [{"id": s} for s in SEXES]},
                       {"id": "AGE", "values": [{"id": a} for a in AGES]}],
            "observation": [{"id": "TIME_PERIOD", "values": [{"id": str(y)} for y in years]}],
        }},
    }
