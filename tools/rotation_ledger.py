"""Recompute the driver-certification staleness ledger.

The driver's correctness gate checks exactly the FIRST ``GATE_WINDOW``
registered queries each round.  With the registry larger than twice the
window, the achievable invariant (VERDICT r6 #1) is:

    no query goes ``STALENESS_BOUND`` rounds without a driver row —
    i.e. a query last certified in round L must re-enter the checked
    window no later than round L + STALENESS_BOUND, and a query that has
    never been certified must be in the window immediately.

This script derives ``{query: last_certified_round}`` from the committed
``CORRECTNESS_r*.json`` evidence files (a row counts only when rows,
schema and value-hash all match with no error; a query with no such row
records ``null``) and writes ``docs/rotation_ledger.json``.
``__spark_entry__.queries()`` orders the registry stalest-first by that
ledger (never-certified first, ties in registration order), so the ledger
IS the window.  ``tests/test_entry_contract.py`` asserts the committed
ledger equals this derivation and that the window satisfies the bound —
so a new round's evidence file landing in git fails the tests until the
per-round chore is done: rerun this script, then sweep the new first 50
with ``tools/check_oracle.py`` at sf0.01.

Usage:  python tools/rotation_ledger.py [--check]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

LEDGER_PATH = entrymod._LEDGER_PATH
GATE_WINDOW = 50
# Why 4 (raised from 3 in round 12): the registry is at its 150-entry
# certifiable ceiling over a 50-row window, so a perfect 3-round cycle
# covers every query with ZERO slack — bound 3 tolerates no failure,
# ever.  column_evolution's round-11 exposure errored (the init_table
# NameError), making its re-exposure mandatory in round 12 alongside the
# 50-strong round-9 cohort at its deadline: 51 mandatory entries in a
# 50-row window, permanently infeasible at bound 3 (the displaced entry
# cascades +1 every subsequent round).  Bound 4 = ceil(150/50) + 1 is
# the tightest bound that tolerates one red row per cycle: each round at
# most one cohort entry defers a single round, inside the bound, and the
# cascade stays size-1 forever.  This is the "raise the bound honestly"
# branch of tests/test_entry_contract.py's satisfiability assertion.
STALENESS_BOUND = 4


def certified_rows() -> dict[str, int]:
    """{query: latest round with a fully green driver row}."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            green = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


def build_ledger() -> dict:
    # Registration order, straight from the registries: queries() orders by
    # the ledger this function writes, so it cannot be the source.
    registered = dict.fromkeys(n for mod in entrymod._MODULES for n in mod.QUERIES)
    last = certified_rows()
    next_round = max(last.values()) + 1
    queries = {name: {"last_certified": last.get(name)} for name in registered}
    return {
        "gate_window": GATE_WINDOW,
        "staleness_bound": STALENESS_BOUND,
        "next_round": next_round,
        "queries": queries,
    }


def main() -> int:
    ledger = build_ledger()
    if "--check" in sys.argv:
        with open(LEDGER_PATH) as fh:
            committed = json.load(fh)
        if committed != ledger:
            print("ledger stale — rerun tools/rotation_ledger.py", file=sys.stderr)
            return 1
        print("ledger up to date")
        return 0
    with open(LEDGER_PATH, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(f"wrote {LEDGER_PATH} (next_round={ledger['next_round']})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
