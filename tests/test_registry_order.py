"""Registry-order invariants: the driver's correctness gate samples a
registration-order PREFIX, so ordering is a correctness-visibility
contract, not cosmetics. Since round 11 the stalest-first ordering is
DERIVED AT IMPORT TIME from the committed CORRECTNESS_r*.json
artifacts (VERDICT r10 #1 — the hand-regenerated list was forgotten
two rounds running); since round 12 the priority-0 changed-gates group
SELF-EXPIRES from the same artifacts (VERDICT r11 #1 — the manual
reset was the same chore class), so these tests check both derived
behaviors against the artifacts themselves."""

from __future__ import annotations


def test_queries_and_oracles_align_exactly():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert len(q) == 182
    assert list(q) == list(o), "registry order must match between dicts"
    assert set(q) == set(o)


def test_live_changed_entries_lead():
    from bunsen_spark.queries import _last_checked_rounds, _live_changed

    import __spark_entry__ as e

    live = _live_changed(_last_checked_rounds())
    names = list(e.queries())
    # code-touched queries whose driver rows predate the change occupy
    # the very first positions, in their listed order
    assert names[: len(live)] == live


def test_changed_entries_expire_once_rechecked():
    """The round-11 #1 fix: an entry tagged round R is live only until a
    CORRECTNESS row from round >= R exists — no manual reset ever."""
    from bunsen_spark.queries import _CHANGED_GATES, _live_changed

    name, rnd = _CHANGED_GATES[0]
    # gate never checked -> live; checked before the change -> live
    assert name in _live_changed({})
    assert name in _live_changed({name: rnd - 1})
    # driver row from the tagged round (or later) -> expired
    assert name not in _live_changed({name: rnd})
    assert name not in _live_changed({name: rnd + 1})


def test_expired_entries_rejoin_stalest_first(monkeypatch):
    """An expired changed-entry must sort by its artifact round like any
    other checked gate, not linger at priority 0 — while a live entry
    (row older than the change) still leads."""
    import bunsen_spark.queries as qmod

    seen = {"gate_old": 3, "gate_new": 9, "gate_touched": 9, "gate_live": 9}
    monkeypatch.setattr(qmod, "_last_checked_rounds", lambda: dict(seen))
    monkeypatch.setattr(
        qmod,
        "_CHANGED_GATES",
        [("gate_touched", 9), ("gate_live", 10)],  # expired / still live
    )
    out = qmod._reorder({n: None for n in seen})
    assert list(out) == ["gate_live", "gate_old", "gate_new", "gate_touched"]


def test_new_entries_precede_already_checked_ones():
    from bunsen_spark.queries import _last_checked_rounds, _live_changed

    import __spark_entry__ as e

    names = list(e.queries())
    seen = _last_checked_rounds()
    changed = set(_live_changed(seen))
    first_checked = next(
        i for i, n in enumerate(names) if n in seen and n not in changed
    )
    # every never-driver-checked entry sorts before the first merely-
    # stale already-driver-checked entry
    for i, n in enumerate(names):
        if n not in seen and n not in changed:
            assert i < first_checked, f"{n} registered after checked entries"


def test_stalest_first_within_checked_group():
    """The core r9/r10 regression: the checked group must be ordered by
    ascending last-driver-row round AS RECORDED IN THE COMMITTED
    ARTIFACTS — if a new CORRECTNESS_r*.json lands, the order follows
    it with no manual regeneration step."""
    from bunsen_spark.queries import _last_checked_rounds, _live_changed

    import __spark_entry__ as e

    names = list(e.queries())
    seen = _last_checked_rounds()
    changed = set(_live_changed(seen))
    keys = [
        (seen[n], n) for n in names if n in seen and n not in changed
    ]
    assert keys == sorted(keys), "checked group must stay stalest-first"


def test_derived_order_covers_live_registry():
    """Sanity: the artifact parser actually read the committed files
    (non-empty, wide coverage of the live registry). Gates added since
    the last artifact round are legitimately uncovered — they sort
    into group 1 (test_new_entries_precede_already_checked_ones) and
    receive their first driver row that round."""
    from bunsen_spark.queries import _last_checked_rounds

    import __spark_entry__ as e

    seen = _last_checked_rounds()
    assert seen, "CORRECTNESS_r*.json artifacts must be readable"
    live = set(e.queries())
    covered = live & set(seen)
    assert len(covered) > 150, "artifact parsing regressed"
    uncovered = sorted(live - set(seen))
    # only gates newer than the newest artifact may be uncovered; a
    # long list means the parser broke, not that many gates are new
    assert len(uncovered) <= 5, uncovered


def test_fallback_used_when_no_artifacts(monkeypatch):
    """A fresh clone without CORRECTNESS artifacts orders the registry
    alphabetically after the live changed gates."""
    import bunsen_spark.queries as qmod

    monkeypatch.setattr(qmod, "_last_checked_rounds", dict)
    changed = [n for n, _ in qmod._CHANGED_GATES]
    names = ["zeta_gate", "alpha_gate", changed[1], "mid_gate", changed[0]]
    out = qmod._reorder({n: None for n in names})
    assert list(out) == changed[:2] + ["alpha_gate", "mid_gate", "zeta_gate"]


def test_every_query_has_an_oracle():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    missing = [n for n in q if n not in o]
    assert missing == [], f"rows-only entries present: {missing}"
