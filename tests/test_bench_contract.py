"""Pin for bench.py's driver-facing stdout contract (VERDICT r12
task 2).  Lives outside test_entry_contract.py so the precommit gate's
always-on static layer stays millisecond-fast (this test runs a real
one-query bench subprocess, ~30 s).
"""

from __future__ import annotations

import json
import os


def test_bench_tail_line_fits_the_driver_capture():
    """The driver records only the last ~2,000 chars of bench stdout and
    parses the tail for a JSON object; the per-query map outgrew that in
    r03 and left every BENCH_r*.json parsed=null until r13.  Pin the
    contract: bench.py's LAST stdout line is standalone-parseable JSON
    with the summary keys, sized with generous headroom, even while the
    full-record line above it stays for the committed bench docs."""
    import subprocess
    import sys

    import pytest

    # honor the repo's env convention instead of hardcoding the driver
    # box's path; skip where no testdata exists at all (ADVICE r13)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    r = subprocess.run(
        [sys.executable, "bench.py", "string_funcs"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert r.returncode == 0, r.stderr[-800:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    last = lines[-1]
    assert len(last) < 1900, f"tail line too long ({len(last)} chars)"
    rec = json.loads(last)
    assert rec["metric"] == "total_query_wall_seconds"
    for key in (
        "value", "value_warm", "build_sec", "exec_sec", "n_queries",
        "sf", "unit", "queries", "queries_warm",
        "fixture_cache_hits", "fixture_cache_builds",
    ):
        assert key in rec, f"missing {key}"
    # the full record precedes it and agrees on the totals; the tail's
    # per-query digest (VERDICT r16 task 2: bounded top-N by cold total)
    # must be a value-identical subset of the full map
    full = json.loads(lines[-2])
    assert full["value"] == rec["value"] and full["value_warm"] == rec["value_warm"]
    assert rec["queries"], "tail digest must carry at least one row"
    for n, v in rec["queries"].items():
        assert full["queries"][n] == v
    for n, v in rec["queries_warm"].items():
        assert full["queries_warm"][n] == v
    # cache disclosure rides both lines (VERDICT r16 what's-wrong #2)
    assert full["fixture_cache"]["cold"]["hits"] == rec["fixture_cache_hits"]
    assert full["fixture_cache"]["cold"]["builds"] == rec["fixture_cache_builds"]
    # the operator-loop tag rides the full record (VERDICT r15 task 3):
    # names listed there must be run queries, and a run that includes an
    # iterative operator must tag it
    assert "operator_loop" in full
    assert set(full["operator_loop"]) <= set(full["queries"])


def test_operator_loop_names_are_registered():
    """Every OPERATOR_LOOP tag names a registered query — a rename in
    the registry must not silently detach the exec-gate fold."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench
    import __spark_entry__ as entrymod

    assert set(bench.OPERATOR_LOOP) <= set(entrymod.queries())


def test_tail_digest_fits_budget_with_long_values():
    """The digest budget holds for the serialized maps themselves, also
    when a value renders to 9+ chars (``12345.678``): a fixed per-entry
    estimate undercounts those and overruns the budget."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench

    cold = {f"query_{i:03d}": 10000.001 + i for i in range(60)}
    warm = {name: 20000.002 + i for i, name in enumerate(cold)}
    budget = 1150
    dig_c, dig_w = bench._tail_digest(cold, warm, budget=budget)
    assert dig_c and dig_w
    assert len(json.dumps(dig_c)) + len(json.dumps(dig_w)) <= budget
    # biggest cold rows first, and as many as fit
    assert list(dig_c) == sorted(cold, key=lambda n: -cold[n])[: len(dig_c)]
    nxt = sorted(cold, key=lambda n: -cold[n])[len(dig_c)]
    more_c = {**dig_c, nxt: cold[nxt]}
    more_w = {**dig_w, nxt: warm[nxt]}
    assert len(json.dumps(more_c)) + len(json.dumps(more_w)) > budget - 2
