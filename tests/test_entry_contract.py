"""Driver-contract invariants: every oracle has a query, names are
stable identifiers, entry() exists — drift guard for __spark_entry__."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod


def test_contract_shape():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) >= 74
    assert set(os_) <= set(qs), f"orphan oracles: {set(os_) - set(qs)}"
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH"))
               for s in os_.values())
    assert all(n.startswith("q_") and n.replace("_", "").isalnum() for n in qs)
    assert callable(entry_mod.entry)


def test_oracle_coverage_floor():
    """At least 85% of queries must stay under a value-level oracle —
    don't let rows-only entries quietly accumulate."""
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(os_) / len(qs) >= 0.85


def test_value_hash_properties():
    """The correctness gate's hash: row/column order insensitive,
    value sensitive, float-format stable, and dtype-sensitive across the
    pandas path (an int column and a float64 column of equal values must
    hash differently — the r1 HUGEINT lesson)."""
    import pandas as pd

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from selfcheck import value_hash

    pdf = pd.DataFrame({"x": [1, 2], "s": ["a", "b"], "v": [2.5, 3.5]})
    h = value_hash(pdf)
    # row order insensitive
    assert value_hash(pdf.iloc[::-1]) == h
    # column order insensitive
    assert value_hash(pdf[["v", "s", "x"]]) == h
    # value sensitive
    assert value_hash(pd.DataFrame({"x": [1, 2], "s": ["a", "b"],
                                    "v": [2.5, 3.50001]})) != h
    # 6dp float formatting: 2.5 vs 2.5000000001 collide (by design)
    assert value_hash(pd.DataFrame({"x": [1, 2], "s": ["a", "b"],
                                    "v": [2.5000000001, 3.5]})) == h
    # dtype drift detected: ints rendered as float64 must NOT match
    assert value_hash(pd.DataFrame({"x": [1.0, 2.0], "s": ["a", "b"],
                                    "v": [2.5, 3.5]})) != h


def test_new_registrations_enter_the_gate_window():
    """The driver samples the FIRST 50 registered queries; a registration
    absent from the ever-gated ledger must be auto-fronted into that
    window (ADVICE r3: a hand-pinned front silently excludes new
    queries forever)."""
    import __spark_entry__ as e

    qs = list(e.queries())
    # r7 exception: _DEFER_AUTO_ENROLL names sit OUT of the window for one
    # round (the rotation is exactly saturated — VERDICT r6 item 1) but
    # must still be registered with a value-level oracle so selfcheck
    # covers them every run
    for k in e._DEFER_AUTO_ENROLL:
        assert k in qs and k in e.oracle_sql(), k
        assert qs.index(k) >= 50, (k, qs.index(k))
    unseen = [k for k in qs
              if k not in e._EVER_GATED and k not in e._DEFER_AUTO_ENROLL]
    for k in unseen:
        assert qs.index(k) < 50, (k, qs.index(k))
    # the hand-rotated front itself stays inside the window even when a
    # few unseen keys prepend (window pressure is bounded by new-query
    # count, which resets every round when the ledger is updated)
    assert len(unseen) < 10
    # ADVICE r4 (medium): auto-enroll must TRIM, not grow, the window —
    # exactly 50 sampled slots after the prepend, with any displaced
    # hand-picked names recorded explicitly
    window = qs[:50]
    assert len(set(window)) == 50
    assert set(unseen) <= set(window)
    for k in e._DISPLACED:
        assert k not in window, f"displaced {k} still inside the window"


def test_auto_enroll_trims_window_to_gate_sample(monkeypatch):
    """Simulate a future round registering a brand-new query: the window
    must stay exactly 50 deep, the new key must be inside it, and the
    displaced hand-picked tail entry must be recorded — the r4 silent
    eviction (51-deep front pushing q_minhash_pairs out) cannot recur."""
    import __spark_entry__ as e

    base_qs = list(e.queries())
    base_unseen = [k for k in base_qs if k not in e._EVER_GATED
                   and k not in e._DEFER_AUTO_ENROLL]
    baseline = base_qs[:50]
    # shrink the ledger so one existing registration looks brand-new —
    # equivalent to adding a query without touching _EVER_GATED
    all_qs = set(base_qs)
    probe = sorted((e._EVER_GATED & all_qs) - set(baseline))[0]
    monkeypatch.setattr(
        e, "_EVER_GATED", frozenset(e._EVER_GATED - {probe}))
    qs = list(e.queries())
    window = qs[:50]
    assert len(set(window)) == 50
    # every unseen key (pre-existing + the simulated one) leads the window
    assert set(base_unseen) | {probe} <= set(window[:len(base_unseen) + 1])
    # the displaced names are the hand-picked tail: one per unseen key,
    # recorded, and actually out of the sampled window
    n_unseen = len(base_unseen) + 1
    hand_front = [k for k in baseline if k not in base_unseen]
    assert len(e._DISPLACED) == n_unseen
    assert hand_front[-1] in e._DISPLACED  # the old window's last entry fell out
    assert all(d not in window for d in e._DISPLACED)


def test_displaced_names_were_previously_gated():
    """Auto-enroll displacement may only evict queries that already have
    at least one driver row (are in the ever-gated ledger) — displacing a
    never-gated query would make it invisible to the driver forever."""
    import __spark_entry__ as e

    e.queries()
    for k in e._DISPLACED:
        assert k in e._EVER_GATED, k
