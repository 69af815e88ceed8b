"""Tests of the benchmark itself:  python3 -m pytest -p no:cacheprovider perfbench

The last two run the benchmark command end to end (about 40 s)."""

from __future__ import annotations

import filecmp
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, fixtures, measure, run  # noqa: E402
from perfbench.workloads import OLAP_ENTRIES, OLAP_PASSES, WORKLOADS  # noqa: E402


def _ops_per_run() -> dict[str, int]:
    return {
        "provider_fetch": 5 * WORKLOADS["provider_fetch"].fresh_per_provider + WORKLOADS["provider_fetch"].repeats,
        "olap_mix": len(OLAP_ENTRIES) * OLAP_PASSES,
    }


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tail_is_taken_from_the_same_samples_and_sits_at_or_above_the_median(workload):
    n = _ops_per_run()[workload]
    rng = random.Random(n)
    for _ in range(200):
        samples = [rng.lognormvariate(0, 1) for _ in range(n)]
        assert measure.tail(samples) >= measure.p50(samples)
        assert sum(s > measure.tail(samples) for s in samples) >= measure.TAIL_BEYOND


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        measure.tail([1.0] * measure.TAIL_BEYOND)


def test_self_time_subtracts_the_union_of_the_children():
    tr = measure.Tracer(True)
    tr.add("op", "a", 0.0, 10.0, -1)
    tr.add("exec", "b", 2.0, 5.0, 0)
    tr.add("exec", "c", 4.0, 8.0, 0)  # overlaps b: the op loses [2, 8] once
    tr.add("providers.http", "d", 11.0, 12.0, 0)  # outside its parent: covers none of it
    assert tr.self_times() == {"op": 4.0, "exec": 7.0, "providers.http": 1.0}
    tr.add("plan", "e", 2.5, 3.0, 1)
    assert tr.innermost_at(2.7, 0) == 4 and tr.innermost_at(9.0, 0) == 0


def test_datagen_is_a_function_of_the_seed(tmp_path):
    for d in ("a", "b"):
        datagen.generate(str(tmp_path / d), 3, 0.002)
    datagen.generate(str(tmp_path / "c"), 4, 0.002)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    assert all(filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False) for n in names)
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet", shallow=False)


@pytest.fixture
def server():
    from duckdb_sudan__spark.providers import http
    from duckdb_sudan__spark.providers.cache import ResponseCache

    saved = dict(http.PROVIDER_BASES)
    with fixtures.FixtureServer(seed=9, delay_s=0.0, max_conn=4) as srv:
        for k in http.PROVIDER_BASES:
            http.PROVIDER_BASES[k] = srv.base_url(0)
        ResponseCache.instance().clear()
        yield srv
    http.PROVIDER_BASES.update(saved)
    ResponseCache.instance().clear()


def _fetch(provider: str, param: str, iso3: str, start: int, end: int) -> list[tuple]:
    from duckdb_sudan__spark.providers import http
    from duckdb_sudan__spark.providers.pushdown import YearFilter

    yf = YearFilter(start, end)
    if provider == "worldbank":
        return http.fetch_worldbank_pages(param, iso3, yf)
    if provider == "who":
        return http.fetch_who(param, iso3, yf)
    if provider == "fao":
        return http.fetch_fao("QCL", param, iso3, yf)
    if provider == "unhcr":
        return http.fetch_unhcr(param, iso3, yf)
    return http.fetch_ilo(param, iso3, yf)


PARAMS = {"worldbank": "SP.POP.TOTL", "who": "WHOSIS_000001", "fao": "production", "unhcr": "refugees",
          "ilo": "UNE_DEAP_SEX_AGE_RT"}


@pytest.mark.parametrize("provider", fixtures.PROVIDERS)
def test_fixture_predictions_match_the_http_client(server, provider):
    """expected_rows and requests_needed agree with what the program's
    fetchers return and send, for every country, including the empty
    ones (served nothing, so the samples stand in) and the ILO ladder."""
    for iso3 in fixtures.ISO3:
        before = len(server.log)
        got = _fetch(provider, PARAMS[provider], iso3, 2003, 2012)
        want = fixtures.expected_rows(9, provider, PARAMS[provider], [iso3], 2003, 2012)
        if got:
            assert sorted(got, key=repr) == sorted(want, key=repr)
        else:
            assert want == [r for r in fixtures._samples(provider, PARAMS[provider], iso3)
                            if fixtures._in_range(r[fixtures.YEAR_INDEX[provider]], 2003, 2012)]
        assert len(server.log) - before == fixtures.requests_needed(9, provider, PARAMS[provider], [iso3], 2003, 2012)


def test_fixtures_include_sample_fallbacks_and_ilo_ladder_misses():
    shapes = [fixtures.fixture(1, p, PARAMS[p], c) for p in fixtures.PROVIDERS for c in fixtures.ISO3]
    empty = sum(not fx.records for fx in shapes)
    assert 0 < empty < len(shapes)
    assert max(fx.ilo_hit for fx in shapes) > 0


def test_benchmark_json_names_what_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) == set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def _tree(root: str) -> set[str]:
    out = set()
    for dirpath, dirnames, names in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != ".git"]
        out.update(os.path.relpath(os.path.join(dirpath, n), root) for n in names + dirnames)
    return out


def test_a_run_checks_its_outputs_and_creates_no_file_in_the_repo_tree():
    before = _tree(ROOT)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "provider_fetch", "--seed", "1",
                        "--seconds", "20", "--trace", "0"], cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == _ops_per_run()["provider_fetch"]
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert result["metrics"]["op_tail_s"]["value"] >= result["metrics"]["op_p50_s"]["value"]
    assert _tree(ROOT) == before


def test_without_the_program_it_fails_fast_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_mix", "--seed", "1",
                        "--seconds", "20", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
