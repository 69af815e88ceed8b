"""Driver-contract test: every queries() entry runs; every oracle_sql()
entry hash-matches at sf0.01 — exactly what the driver will do."""

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR, assert_matches_oracle

ALL_QUERIES = entry_mod.queries()
ALL_ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.schema.fields) > 0


def test_every_oracle_key_has_query():
    assert set(ALL_ORACLES) <= set(ALL_QUERIES)


_STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


@pytest.mark.parametrize("key", sorted(ALL_QUERIES))
def test_query_contract(spark, duck, key):
    provider = spark.conf.get(_STATE_PROVIDER)
    df = ALL_QUERIES[key](spark, SF_DIR)
    if key in ALL_ORACLES:
        assert_matches_oracle(df, duck, ALL_ORACLES[key])
    else:
        assert df.collect() is not None
    # hermetic: no entry leaves its state-store provider on the session
    assert spark.conf.get(_STATE_PROVIDER) == provider


def test_correctness_window_is_full_and_oracled():
    """The driver hashes only the FIRST 50 queries() entries: that
    window must stay exactly 50 unique keys, every one oracled —
    otherwise a rotation edit silently wastes driver coverage."""
    import __spark_entry__ as E

    keys = list(E.queries())
    oracles = E.oracle_sql()
    window = keys[:50]
    assert len(set(window)) == 50
    missing = [k for k in window if k not in oracles]
    assert not missing, f"non-oracled entries inside the window: {missing}"
    # every oracle key must correspond to a registered query
    assert set(oracles) <= set(keys)


def test_r13_window_plan_was_executed():
    """History pin: the committed r13 plan matches CORRECTNESS_r13.json
    key-for-key AND in order (the driver executed the committed plan
    verbatim), all 50 green — the invariant future window math builds
    on."""
    import json

    import __spark_entry__ as E

    got = json.load(open("CORRECTNESS_r13.json"))
    assert list(got) == E._R13_WINDOW_PLAN
    bad = [k for k, v in got.items() if not (v["rows_match"] and v["hash_match"])]
    assert not bad, f"r13 driver rows not green: {bad}"


def test_r14_window_plan_executed_verbatim():
    """r14 open (VERDICT r13 item 1): the live window must BE the
    committed machine-checked r14 plan — 50 unique names, every one a
    registered ORACLED entry, zero overlap with the executed r13 window
    (a rotation, not a repeat), led by exactly the entries no committed
    driver CORRECTNESS file has hashed (the 6 r13 additions), then the
    oldest stale classes oldest-first (machine-derived, not
    hand-claimed)."""
    import glob
    import json

    import __spark_entry__ as E

    plan = E._R14_WINDOW_PLAN
    oracles = E.oracle_sql()
    queries = E.queries()
    # r15 rotation: the LIVE window moved to _R15_WINDOW_PLAN (asserted
    # in test_r15_window_plan_is_valid); the r14 plan's execution is now
    # history — pin it against the driver's CORRECTNESS_r14.json the way
    # test_r13_window_plan_was_executed pins r13.
    import json as _json

    got = _json.load(open("CORRECTNESS_r14.json"))
    assert list(got) == plan, "driver did not execute the committed r14 plan verbatim"
    bad = [k for k, v in got.items() if not (v["rows_match"] and v["hash_match"])]
    assert not bad, f"r14 driver rows not green: {bad}"
    assert len(plan) == 50 and len(set(plan)) == 50
    missing_q = [k for k in plan if k not in queries]
    missing_o = [k for k in plan if k not in oracles]
    assert not missing_q, f"r14 plan names unregistered entries: {missing_q}"
    assert not missing_o, f"r14 plan names rows-only entries: {missing_o}"
    assert not set(plan) & set(E._R13_WINDOW_PLAN), "r14 plan repeats the r13 window"
    # recompute the composition from the committed driver files
    # (CORRECTNESS_r13 is on disk now, so no live-window special case):
    # the leading block must be exactly the never-driver-checked oracled
    # entries, and the tail must drain oldest-first.
    latest: dict[str, int] = {}
    for path in glob.glob("CORRECTNESS_r*.json"):
        rnd = int(path.split("_r")[1].split(".")[0])
        if rnd >= 14:
            continue  # r14's own JSON lands when the driver runs
        for k in json.load(open(path)):
            latest[k] = max(latest.get(k, 0), rnd)
    never = sorted(k for k in oracles if k not in latest)
    # entries registered AFTER the plan froze (the r14 wave) are also
    # never-checked but cannot be in the literal — they lead the r15
    # plan instead (test_r15_window_plan_is_valid asserts that).
    never_in_plan = [k for k in never if k in set(plan)]
    assert plan[: len(never_in_plan)] == never_in_plan, (
        f"r14 plan must lead with the never-checked entries {never_in_plan}"
    )
    fill = plan[len(never_in_plan):]
    fill_rounds = [latest[k] for k in fill]
    assert fill_rounds == sorted(fill_rounds), "r14 fill must drain oldest-first"
    oldest = min(r for k, r in latest.items() if k in oracles)
    stale_oldest = sorted(k for k, r in latest.items() if r == oldest and k in oracles)
    n_old = min(len(stale_oldest), len(fill))
    assert fill[:n_old] == stale_oldest[:n_old], (
        "r14 fill must take the oldest class alphabetically"
    )


def test_r15_window_plan_is_valid():
    """The committed r15 window literal must be executable as-is at r15
    open: 50 unique registered ORACLED entries, zero overlap with the
    live r14 window (a rotation, not a repeat), led by exactly the
    entries NO committed driver CORRECTNESS file (r14 included, once it
    lands) will have hashed — the r14 wave — then the oldest stale
    classes oldest-first (machine-derived, not hand-claimed). The r15
    plan's execution is history too: pinned against the driver's
    CORRECTNESS_r15.json the way the r14 test pins r14."""
    import glob
    import json

    import __spark_entry__ as E

    plan = E._R15_WINDOW_PLAN
    oracles = E.oracle_sql()
    queries = E.queries()
    assert E._WINDOW_PRIORITY == plan, "r15 window differs from the committed plan"
    got = json.load(open("CORRECTNESS_r15.json"))
    assert list(got) == plan, "driver did not execute the committed r15 plan verbatim"
    bad = [k for k, v in got.items() if not (v["rows_match"] and v["hash_match"])]
    assert not bad, f"r15 driver rows not green: {bad}"
    assert len(plan) == 50 and len(set(plan)) == 50
    missing_q = [k for k in plan if k not in queries]
    missing_o = [k for k in plan if k not in oracles]
    assert not missing_q, f"r15 plan names unregistered entries: {missing_q}"
    assert not missing_o, f"r15 plan names rows-only entries: {missing_o}"
    assert not set(plan) & set(E._R14_WINDOW_PLAN), "r15 plan repeats the r14 window"
    # recompute the composition from the committed driver files,
    # treating the live r14 window as checked (its JSON lands when the
    # driver runs): the leading block must be exactly the
    # never-driver-checked oracled entries, the tail drains oldest-first
    latest: dict[str, int] = {}
    for path in glob.glob("CORRECTNESS_r*.json"):
        rnd = int(path.split("_r")[1].split(".")[0])
        if rnd >= 15:
            continue  # r15's own JSON landed after the plan froze
        for k in json.load(open(path)):
            latest[k] = max(latest.get(k, 0), rnd)
    for k in E._R14_WINDOW_PLAN:
        latest[k] = max(latest.get(k, 0), 14)
    never = sorted(k for k in oracles if k not in latest)
    assert plan[: len(never)] == never, (
        f"r15 plan must lead with the never-checked entries {never}"
    )
    fill = plan[len(never):]
    fill_rounds = [latest[k] for k in fill]
    assert fill_rounds == sorted(fill_rounds), "r15 fill must drain oldest-first"
    oldest = min(r for k, r in latest.items() if k in oracles)
    stale_oldest = sorted(k for k, r in latest.items() if r == oldest and k in oracles)
    n_old = min(len(stale_oldest), len(fill))
    assert fill[:n_old] == stale_oldest[:n_old], (
        "r15 fill must take the oldest class alphabetically"
    )
