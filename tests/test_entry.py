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


def test_window_ranks_committed_driver_rows():
    """The window is computed from the committed CORRECTNESS files:
    unchecked entries lead, then the oldest last-green round first
    (ties alphabetical), nothing left out is older than the window's
    tail, and nothing the newest driver run hashed is hashed again."""
    rounds = entry_mod._driver_rounds()
    green = entry_mod._last_green(ALL_ORACLES, rounds)
    window = list(ALL_QUERIES)[:50]
    unchecked = sorted(k for k, r in green.items() if r == 0)
    assert window[: len(unchecked)] == unchecked[:50]
    ranks = [(green[k], k) for k in window]
    assert ranks == sorted(ranks)
    left_out = [k for k in ALL_ORACLES if k not in window]
    assert all(green[k] >= green[window[-1]] for k in left_out)
    assert not set(window) & set(rounds[max(rounds)])


def test_window_puts_unchecked_entries_first():
    green, red = {"rows_match": True, "hash_match": True}, {"rows_match": True, "hash_match": False}
    rounds = {
        1: {"stale": green, "red_now": green, "rewritten": green, "fresh": green},
        2: {"red_now": red, "fresh": green},
        3: {"fresh": green},
    }
    oracled = ["fresh", "stale", "red_now", "rewritten", "never_seen"]
    got = entry_mod._driver_window(oracled, rounds, rewritten={"rewritten": 2})
    assert got == ["never_seen", "red_now", "rewritten", "stale", "fresh"]


@pytest.mark.parametrize("rnd", [13, 14, 15])
def test_committed_driver_rows_are_green(rnd):
    got = entry_mod._driver_rounds()[rnd]
    bad = [k for k, v in got.items() if not (v["rows_match"] and v["hash_match"])]
    assert not bad, f"r{rnd} driver rows not green: {bad}"
