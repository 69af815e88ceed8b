"""Unit pins for bench.py's machine-load instrumentation.

r10 verdict item 3: BENCH_r09/r10 were captured on recently-hammered
boxes; bench.py now cooldown-and-retries until the 1-min loadavg is
under LOADAVG_GATE (bounded wait, proxy ships either way).

ADVICE r10 (bench.py _external_busy_sec): a descendant whose
intermediate parent exited between snapshots is re-parented to pid 1 in
the after snapshot; after-only parent links would count its full CPU
delta as EXTERNAL load and spuriously burn the block retry. The walk
now unions parent links from both snapshots.

No SparkSession — pure-Python, runs in milliseconds.
"""
import importlib.util
import os

import pytest


@pytest.fixture(scope="module")
def bench():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("bench_mod", os.path.join(root, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_external_busy_unions_parent_links(bench):
    # pid 600 is OUR grandchild via 500; 500 exits mid-block and 600 is
    # re-parented to init in the after snapshot. Its 8 s of CPU must NOT
    # count as external; unrelated pid 777's 8 s must.
    me = os.getpid()
    hz = os.sysconf("SC_CLK_TCK") or 100
    before = {me: (1, 0), 500: (me, 0), 600: (500, 100), 777: (1, 50)}
    after = {me: (1, 0), 600: (1, 900), 777: (1, 850)}
    assert bench._external_busy_sec(before, after) == pytest.approx(800 / hz)


def test_external_busy_counts_true_externals(bench):
    me = os.getpid()
    hz = os.sysconf("SC_CLK_TCK") or 100
    # a brand-new external pid counts in full; an exited one drops out
    before = {me: (1, 0), 900: (1, 1000)}
    after = {me: (1, 0), 901: (1, 300)}
    assert bench._external_busy_sec(before, after) == pytest.approx(300 / hz)


def test_loadgate_disabled_returns_immediately(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOADGATE", "0")
    load, report = bench._await_quiet_box()
    assert report["enabled"] is False
    assert report["initial"] == load


def test_loadgate_bounded_wait(bench, monkeypatch):
    # force a permanently-hot reading; the gate must give up at the
    # wait budget and report satisfied=False (never hang the driver)
    monkeypatch.setenv("SPARK_GRAFT_LOADGATE", "1")
    monkeypatch.setattr(os, "getloadavg", lambda: (9.9, 9.9, 9.9))
    monkeypatch.setattr(bench, "LOADAVG_POLL_SEC", 0.01)
    monkeypatch.setattr(bench, "LOADAVG_MAX_WAIT_SEC", 0.05)
    load, report = bench._await_quiet_box()
    assert report["enabled"] is True
    assert report["satisfied"] is False
    assert report["waited_sec"] >= 0.05
    assert load == [9.9, 9.9, 9.9]


def test_loadgate_passes_quiet_box(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOADGATE", "1")
    monkeypatch.setattr(os, "getloadavg", lambda: (0.2, 0.5, 0.7))
    load, report = bench._await_quiet_box()
    assert report["satisfied"] is True and report["waited_sec"] == 0


def test_loadgate_requires_all_three_windows(bench, monkeypatch):
    # r12 verdict item 2: BENCH_r12 shipped hot because the gate
    # satisfied on the 1-min window alone while 5/15-min were still at
    # 5.2/6.8. The exact r12 failure state must now be HELD at the gate
    # (satisfied=False at budget exhaustion), and the report must carry
    # the full triple so the capture self-describes.
    monkeypatch.setenv("SPARK_GRAFT_LOADGATE", "1")
    monkeypatch.setattr(os, "getloadavg", lambda: (0.43, 5.23, 6.82))
    monkeypatch.setattr(bench, "LOADAVG_POLL_SEC", 0.01)
    monkeypatch.setattr(bench, "LOADAVG_MAX_WAIT_SEC", 0.05)
    load, report = bench._await_quiet_box()
    assert report["satisfied"] is False
    assert report["final"] == [0.43, 5.23, 6.82]
    assert report["windows"] == "max(1m,5m,15m)"


def test_steal_hot_block_trips_retry_criterion(bench):
    # r13 verdict item 2: the driver's BENCH_r13 capture ran under 1.384
    # stolen cores (common block) / 1.281 (sf1) while the loadavg triple
    # AND external_cores_avg read quiet — invisible to every in-guest
    # proxy. That exact state must now read HOT (trips the bounded
    # block retry and ships load_proxy_hot=true if the retry is stolen
    # too).
    r13_common = {"external_cores_avg": 0.02, "steal_cores_avg": 1.384}
    r13_sf1 = {"external_cores_avg": 0.01, "steal_cores_avg": 1.281}
    assert bench._block_hot(r13_common) is True
    assert bench._block_hot(r13_sf1) is True
    # BENCH_NOTES' controlled catch: 0.457 stolen cores, both legacy
    # proxies quiet, inflation matching — also hot.
    assert bench._block_hot({"external_cores_avg": 0.0, "steal_cores_avg": 0.457}) is True
    # a genuinely quiet gated run (BENCH_NOTES run 3 floor) stays cold
    assert bench._block_hot({"external_cores_avg": 0.03, "steal_cores_avg": 0.02}) is False
    # the legacy external-CPU criterion is unchanged
    assert bench._block_hot({"external_cores_avg": 0.7, "steal_cores_avg": 0.0}) is True


def test_block_hotness_prefers_least_stolen_attempt(bench):
    # best-attempt selection is threshold-normalized across BOTH
    # proxies: a 0.3-stolen-core retry (3x its threshold) must lose to
    # a 0.4-external-core attempt (0.8x its threshold), and vice versa.
    a = {"external_cores_avg": 0.4, "steal_cores_avg": 0.02}
    b = {"external_cores_avg": 0.02, "steal_cores_avg": 0.3}
    assert min([a, b], key=bench._block_hotness) is a
    c = {"external_cores_avg": 0.6, "steal_cores_avg": 0.0}  # 1.2x
    d = {"external_cores_avg": 0.0, "steal_cores_avg": 0.08}  # 0.8x
    assert min([c, d], key=bench._block_hotness) is d


def test_steal_sec_reads_proc_stat(bench):
    # monotone nonnegative cumulative seconds; parses this kernel's
    # /proc/stat (field 8) without raising
    a = bench._steal_sec()
    b = bench._steal_sec()
    assert a >= 0.0 and b >= a


def test_only_bench_and_perfbench_read_proc_stat():
    # one steal reader: bench._steal_sec (perfbench/measure.py imports it)
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    opens = re.compile(r"""open\(\s*["']/proc/stat""")
    found = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d not in ("tmp", "perfbench")]
        for name in filenames:
            path = os.path.join(dirpath, name)
            if name.endswith(".py") and path != os.path.join(root, "bench.py"):
                with open(path, encoding="utf-8") as fh:
                    if opens.search(fh.read()):
                        found.append(os.path.relpath(path, root))
    assert not found, found
