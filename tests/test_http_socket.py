"""Socket-level end-to-end proof of the live HTTP path: an in-process
loopback ``http.server`` serves the canned fixtures, ``PROVIDER_BASES``
points at it, and every provider's fetch→parse→rows pipeline runs
through a real urllib socket — pagination, redirects, timeouts,
empty-response fallback, and the ILO wildcard-suffix retry ladder
(ilo_functions.cpp:107-142) included. No network access required:
everything binds to 127.0.0.1.
"""

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

import pytest

from duckdb_sudan__spark.providers import api, http
from duckdb_sudan__spark.providers.cache import ResponseCache
from duckdb_sudan__spark.providers.pushdown import YearFilter
from tests.test_http_live import FAO_DOC, ILO_DOC_V1, UNHCR_DOC, WB_PAGE1, WB_PAGE2, WHO_DOC

NO_YF = YearFilter()


def _json(doc, status=200):
    return (status, {"Content-Type": "application/json"}, json.dumps(doc).encode(), 0)


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - BaseHTTPRequestHandler API
        status, headers, body, delay = self.server.app(unquote(self.path), dict(self.headers))
        if delay:
            time.sleep(delay)
        self.send_response(status)
        for k, v in headers.items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture
def loopback(monkeypatch):
    """Loopback server whose routes the test fills in: ``routes`` maps a
    path substring → response tuple (or zero-arg callable returning
    one); unmatched paths 404. ``hits`` records every request path in
    order and ``seen_headers`` its request headers. All PROVIDER_BASES
    are repointed at the server."""
    routes: dict = {}
    hits: list = []
    seen_headers: list = []

    def app(path, headers):
        hits.append(path)
        seen_headers.append(headers)
        for key, resp in routes.items():
            if key in path:
                return resp() if callable(resp) else resp
        return (404, {}, b"not found", 0)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.app = app
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    for k in http.PROVIDER_BASES:
        monkeypatch.setitem(http.PROVIDER_BASES, k, base)
    ResponseCache.instance().clear()
    yield routes, hits, seen_headers
    srv.shutdown()
    srv.server_close()
    ResponseCache.instance().clear()


def test_worldbank_socket_pagination(loopback):
    """The reference's page loop (wb_functions.cpp:110-210) over a real
    socket: page 1 reports pages=2, both pages are fetched and parsed."""
    routes, hits, _ = loopback
    routes["&page=1"] = _json(WB_PAGE1)
    routes["&page=2"] = _json(WB_PAGE2)
    rows = http.fetch_worldbank_pages("SP.POP.TOTL", "SDN", NO_YF)
    assert len(rows) == 3
    assert rows[0][4] == 2020 and rows[0][5] == 43849260.0
    assert rows[2][4] == 2018  # from page 2
    assert sum("&page=1" in h for h in hits) == 1
    assert sum("&page=2" in h for h in hits) == 1


def test_who_socket_spaces_in_odata_filter(loopback):
    """The WHO URL carries literal spaces in the OData $filter; the
    request line must arrive percent-encoded or the server 400s — this
    is the test that catches an unencoded send."""
    routes, hits, _ = loopback
    routes["SpatialDim eq 'SDN'"] = _json(WHO_DOC)
    rows = http.fetch_who("WHOSIS_000001", "SDN", NO_YF)
    assert len(rows) == 3
    assert rows[0][3] == 2019 and rows[0][5] == 65.3
    assert any("$filter=SpatialDim eq 'SDN'" in h for h in hits)  # decoded server-side


def test_fao_socket_element_filtered_client_side(loopback):
    routes, _, _ = loopback
    routes["/api/v1/en/data/QCL"] = _json(FAO_DOC)
    rows = http.fetch_fao("QCL", "production", "SDN", NO_YF)
    # 3 fixture rows, 'Yield' dropped by the partial case-insensitive match
    assert len(rows) == 2
    assert {r[3] for r in rows} == {"Production", "Production Quantity"}


def test_unhcr_socket_fetches_coo_and_coa(loopback):
    routes, hits, _ = loopback
    routes["coo=SDN"] = _json(UNHCR_DOC)
    routes["coa=SDN"] = _json({"items": []})
    rows = http.fetch_unhcr("refugees", "SDN", NO_YF)
    # 3 fixture items, the zero-valued one skipped
    assert len(rows) == 2
    assert sum("coo=SDN" in h for h in hits) == 1
    assert sum("coa=SDN" in h for h in hits) == 1


def test_ilo_socket_wildcard_suffix_retry_ladder(loopback):
    """First two wildcard keys 404; the third ('...') succeeds — the
    ladder must walk exactly that far and stop
    (ilo_functions.cpp:107-142)."""
    routes, hits, _ = loopback

    def ilo_route():
        path = hits[-1]
        key = path.split("/SDN.A", 1)[1].split("?", 1)[0]
        if key == "...":
            return _json(ILO_DOC_V1)
        return (404, {}, b"no data", 0)

    routes["/rest/data/ILO,DF_UNE_DEAP_SEX_AGE_RT/SDN.A"] = ilo_route
    rows = http.fetch_ilo("UNE_DEAP_SEX_AGE_RT", "SDN", NO_YF)
    assert len(rows) == 2  # two observations in the fixture
    assert {r[4] for r in rows} == {2019, 2020}
    attempts = [h.split("/SDN.A", 1)[1].split("?", 1)[0] for h in hits]
    assert attempts == [".", "..", "..."]  # stopped at first success


def test_socket_timeout_returns_none_then_fallback(loopback):
    """A hung upstream (handler sleeps past the client timeout) must
    yield None from http_get_json → [] from the fetcher — never a hang
    or raise."""
    routes, _, _ = loopback
    routes["SpatialDim"] = (200, {}, json.dumps(WHO_DOC).encode(), 3.0)
    settings = http.HttpSettings(timeout=1, use_cache=False)
    t0 = time.monotonic()
    rows = http.fetch_who("WHOSIS_000001", "SDN", NO_YF, settings)
    assert rows == []
    assert time.monotonic() - t0 < 2.5  # aborted at the 1 s timeout


def test_socket_redirect_followed(loopback):
    """302 → Location must be followed transparently (the reference
    client follows redirects; urllib does by default)."""
    routes, hits, _ = loopback
    routes["/api/WHOSIS_000001"] = (302, {"Location": "/moved-here"}, b"", 0)
    routes["/moved-here"] = _json(WHO_DOC)
    rows = http.fetch_who("WHOSIS_000001", "SDN", NO_YF)
    assert len(rows) == 3
    assert any("/moved-here" in h for h in hits)


def test_socket_empty_body_falls_back_to_samples(loopback, spark):
    """200 with an unparseable body → fetch yields [] → the api layer
    falls back to the offline samples (the reference's fallback-on-empty
    posture), end-to-end through a real socket."""
    routes, hits, _ = loopback
    routes["/v2/country/SDN"] = (200, {}, b"", 0)
    df = api.sudan_worldbank(spark, "SP.POP.TOTL", offline=False)
    assert df.count() > 0  # sample fallback rows
    assert any("/v2/country/SDN" in h for h in hits)  # the socket WAS tried


def test_socket_live_datasource_end_to_end(loopback, spark):
    """The Python DataSource with offline=false reads through the
    loopback socket: rows come from the served fixture, not samples.
    read() executes in a Python worker process, so the server address
    travels via the `base_url` option — a driver-side PROVIDER_BASES
    patch never reaches the worker."""
    routes, _, _ = loopback
    routes["&page=1"] = _json(WB_PAGE1)
    routes["&page=2"] = _json(WB_PAGE2)
    from duckdb_sudan__spark.sources import register_sudan_datasource

    register_sudan_datasource(spark)
    df = (
        spark.read.format("sudan")
        .option("provider", "worldbank")
        .option("indicator", "SP.POP.TOTL")
        .option("countries", "SDN")
        .option("offline", "false")
        .option("base_url", http.PROVIDER_BASES["worldbank"])
        .load()
    )
    rows = df.collect()
    assert len(rows) == 3  # fixture rows, not the larger sample set
    assert {r.year for r in rows} == {2018, 2019, 2020}


def test_socket_user_agent_from_session_conf(loopback, spark):
    """The api functions read ``spark.sudan.http.*`` from the session
    conf when no settings are passed: the configured User-Agent is the
    one that arrives on the socket."""
    routes, _, seen_headers = loopback
    routes["SpatialDim eq 'SDN'"] = _json(WHO_DOC)
    spark.conf.set("spark.sudan.http.userAgent", "sudan-conf-probe/1.0")
    try:
        rows = api.sudan_who(spark, "WHOSIS_000001", ["SDN"], offline=False).collect()
    finally:
        spark.conf.unset("spark.sudan.http.userAgent")
    assert len(rows) == 3  # served rows, not samples
    assert seen_headers and all(h.get("User-Agent") == "sudan-conf-probe/1.0" for h in seen_headers)


def test_socket_unhcr_returnees_reads_returned_refugees(loopback, spark):
    """population_type 'returnees' selects UNHCR's `returned_refugees`
    field: a live query returns the served rows, not the samples."""
    routes, _, _ = loopback
    routes["coo=SDN"] = _json(
        {"items": [{"year": 2021, "coo_iso": "SDN", "coa_iso": "SDN", "returned_refugees": 4321, "refugees": 7}]}
    )
    routes["coa=SDN"] = _json({"items": []})
    rows = api.sudan_unhcr(spark, "returnees", ["SDN"], offline=False).collect()
    assert [(r.year, r.population_type, r.value) for r in rows] == [(2021, "returned_refugees", 4321)]


def test_socket_stream_reader_honours_offline_false(loopback):
    """readStream.format("sudan") with offline=false serves the live
    fetch through the same per-country rows as the batch reader."""
    from duckdb_sudan__spark.sources.datasource import SudanStreamReader

    routes, hits, _ = loopback
    routes["&page=1"] = _json(WB_PAGE1)
    routes["&page=2"] = _json(WB_PAGE2)
    r = SudanStreamReader(
        {"provider": "worldbank", "indicator": "SP.POP.TOTL", "countries": "SDN", "offline": "false",
         "base_url": http.PROVIDER_BASES["worldbank"]}
    )
    rows, end = r.read(r.initialOffset())
    rows = list(rows)
    assert len(rows) == 3 and {row[4] for row in rows} == {2018, 2019, 2020}  # fixture, not samples
    assert end == {"y": 3}
    assert sum("&page=" in h for h in hits) == 2
