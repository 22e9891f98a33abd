"""Driver-gate window invariants for __spark_entry__.py.

The driver's correctness gate checks exactly the FIRST 50 registered
queries (observed rounds 2-6).  With more registrations than twice the
window, the invariant (VERDICT r6 #1) is a machine-checked staleness
bound: a query last certified in round L must re-enter the window no
later than round L + staleness_bound, and a query with no driver row yet
must always be in-window.  ``docs/rotation_ledger.json`` records the
per-query state; ``tools/rotation_ledger.py`` re-derives it from the
committed CORRECTNESS_r*.json evidence, so a new round's evidence file
landing in git makes these tests fail until the tool is rerun.
``queries()`` orders the registry stalest-first by that ledger, so the
window needs no hand rotation.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entrymod
from tools.rotation_ledger import LEDGER_PATH, build_ledger

GATE_WINDOW = 50


def test_staleness_ledger_matches_committed_evidence():
    """The committed ledger must equal the derivation from CORRECTNESS files.

    When the driver lands a new CORRECTNESS_r{N}.json, this fails until
    tools/rotation_ledger.py is rerun — the forcing function for the
    per-round rotation chore.
    """
    assert os.path.exists(LEDGER_PATH), "docs/rotation_ledger.json missing"
    with open(LEDGER_PATH) as fh:
        committed = json.load(fh)
    assert committed == build_ledger(), (
        "rotation ledger stale — rerun tools/rotation_ledger.py, then sweep "
        "the new first 50 with tools/check_oracle.py at sf0.01"
    )


def test_staleness_bound_is_satisfied_by_the_window():
    """Every query at its certification deadline must be inside the window."""
    with open(LEDGER_PATH) as fh:
        ledger = json.load(fh)
    bound = ledger["staleness_bound"]
    next_round = ledger["next_round"]
    window = set(list(entrymod.queries())[:GATE_WINDOW])
    overdue = []
    for name, st in ledger["queries"].items():
        last = st["last_certified"]
        if last is None:
            # never certified: first exposure cannot be deferred at all
            if name not in window:
                overdue.append(f"{name} (never certified)")
        elif next_round >= last + bound and name not in window:
            overdue.append(f"{name} (last certified r{last}, deadline r{last + bound})")
    assert not overdue, (
        f"queries past their staleness deadline are outside the round-"
        f"{next_round} gate window: {overdue}"
    )


def test_staleness_bound_is_satisfiable():
    """The set of mandatory in-window queries must fit the window."""
    with open(LEDGER_PATH) as fh:
        ledger = json.load(fh)
    bound = ledger["staleness_bound"]
    next_round = ledger["next_round"]
    mandatory = [
        name
        for name, st in ledger["queries"].items()
        if st["last_certified"] is None or next_round >= st["last_certified"] + bound
    ]
    assert len(mandatory) <= GATE_WINDOW, (
        f"{len(mandatory)} mandatory entries exceed the {GATE_WINDOW}-row window; "
        "pause registrations or raise the bound honestly"
    )


def test_stalest_first_with_uncertified_names_leading():
    """Missing and never-certified names lead; ties keep registration order."""
    items = dict.fromkeys(["a", "b", "c", "d", "e"])
    last = {"a": 15, "b": None, "c": 14, "e": 15}
    assert list(entrymod._ordered(items, last)) == ["b", "d", "c", "a", "e"]


def test_every_query_has_oracle_or_documented_exception():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert list(qs)[: len(oracles)] is not None
    missing = [n for n in qs if n not in oracles]
    # genuinely non-SQL-expressible ops may omit the oracle (driver then
    # records a weaker rows-only check); keep that list explicit and empty
    assert missing == [], f"queries without a DuckDB oracle twin: {missing}"
    extra = [n for n in oracles if n not in qs]
    assert extra == [], f"oracles without a registered query: {extra}"
