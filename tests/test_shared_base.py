"""Pins for the per-process fixture cache (``plans/protocol_queries.py``).

Registry fixtures that only READ a scripted table are built once per
process and key (``shared_fixture_root``); the mutation-protocol fixtures
clone the one cached events base per call.  These tests pin the cache
contract — one build per key, a failed build records nothing, a new
process starts cold and removes its directory at exit, one events base
serves both clone kinds — and the two safety invariants the cache rests
on: hardlink-clone mutations never reach the cached tree, and the
overlapped fixture steps give identical results at any pool size.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from datalake2anomali_spark.io import tables
from datalake2anomali_spark.plans import protocol_queries as pq


@pytest.fixture
def private_cache(tmp_path, monkeypatch):
    """An empty cache whose fixtures land in ``tmp_path``."""
    monkeypatch.setattr(tables, "_PROCESS_DIR", str(tmp_path))
    monkeypatch.setattr(pq, "_FIXTURES", {})
    return tmp_path


def _fx_build_counter(calls):
    def build(root):
        calls.append(root)
        with open(os.path.join(root, "payload.txt"), "w") as fh:
            fh.write("built")
    return build


def _counter_delta(c0: dict) -> dict:
    return {k: pq.CACHE_COUNTERS[k] - c0[k] for k in c0}


def test_shared_fixture_builds_once_per_stamp(private_cache, sf_dir):
    calls = []
    c0 = dict(pq.CACHE_COUNTERS)
    r1 = pq.shared_fixture_root("fxt", sf_dir, "1", _fx_build_counter(calls))
    r2 = pq.shared_fixture_root("fxt", sf_dir, "1", _fx_build_counter(calls))
    assert r1 == r2 and calls == [r1]
    assert os.path.dirname(r1) == str(private_cache)
    with open(os.path.join(r1, "payload.txt")) as fh:
        assert fh.read() == "built"
    # a recipe-version bump is a new key: new directory, fresh build
    r3 = pq.shared_fixture_root("fxt", sf_dir, "2", _fx_build_counter(calls))
    assert r3 != r1 and len(calls) == 2
    assert _counter_delta(c0) == {"hits": 1, "builds": 2}


def test_shared_fixture_source_stamp_rolls_fixture(private_cache, tmp_path_factory):
    """A regenerated source file (new mtime/size stamp) is a new key: the
    fixture is rebuilt without any version bump."""
    src = tmp_path_factory.mktemp("src")
    events = src / "events.parquet"
    events.write_bytes(b"v1")
    calls = []
    r1 = pq.shared_fixture_root("fxv", str(src), "1", _fx_build_counter(calls))
    events.write_bytes(b"v2-longer")
    r2 = pq.shared_fixture_root("fxv", str(src), "1", _fx_build_counter(calls))
    assert r1 != r2 and calls == [r1, r2]


def test_shared_fixture_failed_build_never_publishes(private_cache, sf_dir):
    def boom(root):
        with open(os.path.join(root, "half.txt"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("fixture build failed")

    with pytest.raises(RuntimeError, match="fixture build failed"):
        pq.shared_fixture_root("fxf", sf_dir, "1", boom)
    assert os.listdir(private_cache) == []  # partial directory removed
    assert pq._FIXTURES == {}  # nothing recorded
    # and the next (successful) attempt builds afresh
    calls = []
    r = pq.shared_fixture_root("fxf", sf_dir, "1", _fx_build_counter(calls))
    assert calls == [r]
    assert os.listdir(private_cache) == [os.path.basename(r)]


_CHILD = textwrap.dedent(
    """
    import os, sys
    from datalake2anomali_spark.plans import protocol_queries as pq

    def build(root):
        open(os.path.join(root, "payload.txt"), "w").close()

    pq.shared_fixture_root("fxp", sys.argv[1], "1", build)
    pq.shared_fixture_root("fxp", sys.argv[1], "1", build)
    print(pq._process_dir(), pq.CACHE_COUNTERS["builds"], pq.CACHE_COUNTERS["hits"])
    """
)


def test_fixture_cache_is_per_process_and_removed_at_exit(sf_dir):
    """Each process gets its own ``d2a_fx_*`` directory, so a second
    process builds again (a cold pass is cold), and the directory is
    gone once the process exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _CHILD, sf_dir],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.split()
        d, builds, hits = out[0], int(out[1]), int(out[2])
        assert os.path.basename(d).startswith("d2a_fx_")
        assert (builds, hits) == (1, 1)
        assert not os.path.exists(d), f"{d} outlived its process"
        seen.append(d)
    assert seen[0] != seen[1]


def test_events_base_is_built_once_for_both_clone_kinds(
    spark, sf_dir, monkeypatch
):
    """The shallow-clone and hardlink-clone fixtures seed from ONE cached
    events base: one build, then a hit, and both clones hold the same
    rows."""
    monkeypatch.setattr(pq, "_FIXTURES", {})
    c0 = dict(pq.CACHE_COUNTERS)
    shallow = pq._cloned_events(spark, "d2a_t_shallow", sf_dir)
    hard = pq._pristine_versioned_events(spark, "d2a_t_hard", sf_dir)
    assert _counter_delta(c0) == {"hits": 1, "builds": 1}
    assert [key[0] for key in pq._FIXTURES] == ["events"]
    fp_shallow, fp_hard = pq._fingerprint_many(spark, [(shallow, {}), (hard, {})])
    assert fp_shallow == fp_hard
    assert fp_shallow[0] == pq._events(spark, sf_dir).count()


# -- hardlink-clone purity + overlap determinism (VERDICT r16 tasks 4/5) ------


def _tree_digest(root: str) -> dict[str, str]:
    """Byte-level checksum walk: relpath -> md5 of file contents."""
    import hashlib

    out: dict[str, str] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_hardlink_clone_mutations_never_touch_pristine(spark, sf_dir, tmp_path):
    """The shared-fixture cache's safety invariant, pinned as a test
    (VERDICT r16 "what's wrong" #3): every writer replaces files — new
    inode + unlink — and never opens a published file for write, so a
    hardlink clone's mutations cannot reach the cached pristine tree.
    Runs every mutation family the protocol fixtures exercise on a clone
    (CoW update, MoR delete+update, MERGE, compact, vacuum — vacuum is
    the scary one: it must unlink only the clone's links) and asserts
    the pristine tree's bytes are unchanged.  If any future writer
    mutates an inode in place, this fails before the cache can poison
    every later caller."""
    from pyspark.sql import functions as F

    from datalake2anomali_spark.io.publish import (
        compact_versioned,
        delete_from_versioned,
        init_table,
        merge_into_versioned,
        update_versioned,
        vacuum,
    )
    from datalake2anomali_spark.plans.protocol_queries import (
        _events,
        hardlink_clone,
    )

    pristine = str(tmp_path / "pristine")
    e = _events(spark, sf_dir)
    init_table(spark, e, pristine, "event_date")
    before = _tree_digest(pristine)

    clone = hardlink_clone(pristine, str(tmp_path / "clone"))
    update_versioned(
        spark, clone, "event_date",
        F.col("event_type") == "click", {"value": F.col("value") + 1.0},
    )
    update_versioned(
        spark, clone, "event_date",
        F.col("event_type") == "purchase", {"value": F.col("value") * 2.0},
        mode="merge_on_read", key_cols=["event_id"],
    )
    delete_from_versioned(
        spark, clone, "event_date", F.col("event_type") == "signup",
        mode="merge_on_read", key_cols=["event_id"],
    )
    src = e.filter(F.col("event_type") == "error").withColumn(
        "value", F.col("value") + 9.0
    )
    merge_into_versioned(spark, clone, src, ["event_id"], "event_date")
    compact_versioned(spark, clone, "event_date", "event_id")
    vacuum(clone, retain_last=1, claim_ttl_seconds=0.0)

    assert _tree_digest(pristine) == before, (
        "a writer mutated a cached inode in place — the hardlink-clone "
        "safety invariant is broken"
    )


def test_fixture_overlap_is_pool_size_invariant(spark, sf_dir, monkeypatch):
    """The overlapped fixtures (driver-thread concurrency, guide §2.6)
    must return identical results at any pool size: every overlapped
    step is either on a disjoint table root or a version-pinned read of
    immutable snapshots, so D2A_FIXTURE_POOL=1 (fully sequential) and
    the default pool must agree row-for-row (VERDICT r16 task 4's
    determinism pin)."""
    from datalake2anomali_spark.plans.protocol_queries import (
        q_table_follower_rollup,
        q_update_mor,
    )
    from datalake2anomali_spark.plans.scale_queries import (
        q_cdc_view_maintenance,
    )

    for fn in (q_update_mor, q_table_follower_rollup, q_cdc_view_maintenance):
        monkeypatch.setenv("D2A_FIXTURE_POOL", "1")
        seq = [tuple(r) for r in fn(spark, sf_dir).collect()]
        monkeypatch.setenv("D2A_FIXTURE_POOL", "4")
        par = [tuple(r) for r in fn(spark, sf_dir).collect()]
        assert seq == par, f"{fn.__name__} diverged across pool sizes"
