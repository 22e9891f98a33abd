"""Atomic versioned publish (io/publish.py): snapshot isolation under a
crash at ANY point before the manifest swap, merge semantics parity with
operators/merge.py, compaction collapse, and vacuum GC."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from datalake2anomali_spark.io.publish import (
    compact_versioned,
    init_table,
    merge_into_versioned,
    read_manifest,
    read_snapshot,
    vacuum,
    version_dir,
)
from datalake2anomali_spark.io.tables import load_table


@pytest.fixture()
def vtable(spark, sf_dir, tmp_path):
    root = str(tmp_path / "events_v")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init_table(spark, e, root, "event_date")
    return root


def _snap_fingerprint(spark, root):
    df = read_snapshot(spark, root, "event_date")
    return (
        df.count(),
        df.agg(F.sum(F.hash(*df.columns)).alias("h")).collect()[0]["h"],
    )


def test_roundtrip_and_merge_semantics(spark, sf_dir, vtable):
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    snap = read_snapshot(spark, vtable, "event_date")
    assert snap.count() == e.count()

    # NULL-ing update + partition move + insert, in one source batch
    upd = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("value", F.lit(None).cast("double"))
    )
    mov = (
        e.filter(F.col("event_type") == "signup")
        .withColumn("event_date", F.lit("2032-01-01"))
    )
    ins = e.filter(F.col("event_type") == "error").withColumn(
        "event_id", F.col("event_id") + 50_000_000
    )
    source = upd.unionByName(mov).unionByName(ins)
    merge_into_versioned(spark, vtable, source, ["event_id"], "event_date")

    after = read_snapshot(spark, vtable, "event_date")
    assert after.count() == e.count() + ins.count()
    assert (
        after.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        ).count()
        == 0
    )
    assert after.filter(F.col("event_date") == "2032-01-01").count() == mov.count()
    dup = after.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_crash_before_swap_is_invisible(spark, sf_dir, vtable):
    """Simulate a writer that dies after writing ALL its data files but
    before the manifest swap: readers still see exactly the old snapshot."""
    before = _snap_fingerprint(spark, vtable)
    e = read_snapshot(spark, vtable, "event_date")
    # a would-be merge output, written straight into the next version slot
    # (what a crashed merge_into_versioned leaves behind)
    orphan = version_dir(vtable, read_manifest(vtable)["version"] + 1)
    e.limit(100).withColumn("value", F.col("value") + 1).write.partitionBy(
        "event_date"
    ).parquet(orphan)

    assert _snap_fingerprint(spark, vtable) == before  # old snapshot intact

    # the next writer must NOT reuse the orphan's version number
    upd = e.limit(5).withColumn("value", F.col("value") + 9.0)
    v = merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    assert version_dir(vtable, v) != orphan
    assert os.path.isdir(orphan)  # untouched; vacuum owns its removal


def test_crash_mid_write_is_invisible(spark, vtable):
    """A half-written version directory (crash between partition writes)
    never surfaces: the manifest still maps every partition to complete
    versions."""
    before = _snap_fingerprint(spark, vtable)
    orphan = version_dir(vtable, 99)
    os.makedirs(os.path.join(orphan, "event_date=2040-01-01"), exist_ok=True)
    with open(
        os.path.join(orphan, "event_date=2040-01-01", "part-00000.parquet"), "wb"
    ) as fh:
        fh.write(b"\x00garbage, not parquet")
    assert _snap_fingerprint(spark, vtable) == before


def test_compact_collapses_versions_and_vacuum(spark, sf_dir, vtable):
    e = read_snapshot(spark, vtable, "event_date")
    for bump in (1.0, 2.0):
        upd = e.filter(F.col("event_type") == "click").withColumn(
            "value", F.col("value") + bump
        )
        merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    fp = _snap_fingerprint(spark, vtable)
    manifest = read_manifest(vtable)
    assert len({v for v in manifest["partitions"].values()}) >= 1

    v = compact_versioned(spark, vtable, "event_date", "event_id")
    manifest = read_manifest(vtable)
    assert set(manifest["partitions"].values()) == {v}  # single live version
    assert _snap_fingerprint(spark, vtable) == fp  # content-preserving

    removed = vacuum(vtable)
    assert removed  # old versions GC'd
    live_dirs = [d for d in os.listdir(vtable) if d.startswith("_v")]
    assert live_dirs == [f"_v{v}"]
    assert _snap_fingerprint(spark, vtable) == fp


def _live_partitions_for(root, col, lo, hi):
    """Partitions a zone-mapped read would scan (mirrors read_snapshot)."""
    m = read_manifest(root)
    stats = m.get("stats", {})
    keep = []
    for p in m["partitions"]:
        rng = stats.get(p, {}).get(col)
        if rng is not None and (rng[1] < lo or rng[0] > hi):
            continue
        keep.append(p)
    return keep


def test_zone_map_prunes_and_stays_correct(spark, sf_dir, tmp_path):
    from datalake2anomali_spark.io.publish import init_table as init

    root = str(tmp_path / "events_z")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init(spark, e, root, "event_date", stats_cols=["event_id"])
    m = read_manifest(root)
    assert m["stats"] and all("event_id" in s for s in m["stats"].values())

    b = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    span = b[1] - b[0]
    lo, hi = b[0] + span * 2 // 5, b[0] + span * 3 // 5

    pruned = read_snapshot(spark, root, "event_date", predicate=("event_id", lo, hi))
    full = read_snapshot(spark, root, "event_date").filter(
        F.col("event_id").between(lo, hi)
    )
    assert pruned.count() == full.count()
    assert (
        pruned.agg(F.sum(F.hash(*sorted(pruned.columns)))).collect()
        == full.select(*sorted(pruned.columns))
        .agg(F.sum(F.hash(*sorted(pruned.columns))))
        .collect()
    )
    # the zone map must actually skip: sequential event_ids mean a 20%
    # id range cannot touch every date partition
    scanned = _live_partitions_for(root, "event_id", lo, hi)
    assert len(scanned) < len(m["partitions"])


def test_zone_maps_follow_merge_ownership(spark, sf_dir, tmp_path):
    """Rewritten partitions get fresh stats; untouched keep theirs; the
    pruned read stays exact after a merge widens one partition's range."""
    from datalake2anomali_spark.io.publish import init_table as init

    root = str(tmp_path / "events_zm")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init(spark, e, root, "event_date", stats_cols=["event_id"])
    before = read_manifest(root)["stats"]

    dates = sorted(r[0] for r in e.select("event_date").distinct().collect())
    d0 = str(dates[0])
    # move a huge-id clone INTO the first partition: its zone map must widen
    src = (
        e.limit(1)
        .withColumn("event_id", F.lit(999_999_999))
        .withColumn("event_date", F.lit(d0))
    )
    merge_into_versioned(spark, root, src, ["event_id"], "event_date")
    after = read_manifest(root)["stats"]
    assert after[d0]["event_id"][1] == 999_999_999
    untouched = [d for d in after if d != d0]
    assert all(after[d] == before[d] for d in untouched)

    got = read_snapshot(
        spark, root, "event_date", predicate=("event_id", 999_999_998, 10**10)
    )
    assert got.count() == 1


def test_time_travel_and_table_changes(spark, sf_dir, vtable):
    """v1 stays addressable after v2 commits; the change feed classifies
    exactly the merged delta."""
    from datalake2anomali_spark.io.publish import table_changes

    e = read_snapshot(spark, vtable, "event_date")
    fp1 = _snap_fingerprint(spark, vtable)
    upd = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 5.0
    )
    ins = e.limit(3).withColumn("event_id", F.col("event_id") + 70_000_000)
    v2 = merge_into_versioned(
        spark, vtable, upd.unionByName(ins), ["event_id"], "event_date"
    )

    # time travel: version 1 read is bit-identical to the pre-merge table
    old = read_snapshot(spark, vtable, "event_date", version=1)
    assert (
        old.count(),
        old.agg(F.sum(F.hash(*old.columns))).collect()[0][0],
    ) == fp1

    cdf = table_changes(spark, vtable, "event_date", ["event_id"], 1, v2)
    by_type = {
        (r.change_type, r.changed_cols): r.n
        for r in cdf.groupBy("change_type", "changed_cols")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type[("added", "")] == 3
    assert by_type[("changed", "value")] == upd.count()
    assert len(by_type) == 2  # nothing removed, nothing else changed


def test_optimistic_concurrency_conflict(spark, sf_dir, vtable):
    """A writer whose base snapshot was superseded must FAIL its commit
    (last-write-wins would silently drop the winner's partitions), and
    its claimed version directory stays orphaned for vacuum."""
    from datalake2anomali_spark.io.publish import (
        ConcurrentWriteError,
        _claim_version,
        _commit_checked,
    )

    base = read_manifest(vtable)["version"]
    # writer A claims a slot and "works" (nothing written is fine)
    v_a = _claim_version(vtable)
    # writer B lands a whole merge meanwhile
    e = read_snapshot(spark, vtable, "event_date")
    upd = e.limit(5).withColumn("value", F.col("value") + 1.0)
    v_b = merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    assert v_b != v_a  # claims never collide

    with pytest.raises(ConcurrentWriteError, match="retry"):
        _commit_checked(
            vtable, {"version": v_a, "partitions": {}}, base_version=base
        )
    # the loser's dir is unreferenced garbage; vacuum reclaims it (the
    # detected conflict released its in-flight claim marker)
    assert v_a not in set(read_manifest(vtable)["partitions"].values())
    removed = vacuum(vtable)
    assert v_a in removed


def test_concurrent_writers_interleaved_race(spark, sf_dir, vtable):
    """Two threads merge disjoint keys from the SAME base snapshot and
    reach the commit point together: the commit lock serializes them, so
    exactly one wins and the other gets ConcurrentWriteError (not a
    silent last-write-wins).  The loser's retry then lands, the final
    table equals the serial application of both batches, and the loser's
    first (orphaned) version directory is vacuumable."""
    import threading

    from datalake2anomali_spark.io.publish import ConcurrentWriteError

    e = read_snapshot(spark, vtable, "event_date")
    batch_a = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 100.0
    )
    batch_b = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 200.0
    )
    assert (
        batch_a.join(batch_b, ["event_id"], "inner").count() == 0
    )  # disjoint keys: the conflict is purely structural, not data overlap

    barrier = threading.Barrier(2, timeout=120)
    outcome: dict[str, object] = {}

    def writer(name, batch):
        try:
            outcome[name] = merge_into_versioned(
                spark, vtable, batch, ["event_id"], "event_date",
                commit_hook=barrier.wait,
            )
        except ConcurrentWriteError as exc:
            outcome[name] = exc

    threads = [
        threading.Thread(target=writer, args=("a", batch_a)),
        threading.Thread(target=writer, args=("b", batch_b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    losers = [k for k, v in outcome.items() if isinstance(v, Exception)]
    assert len(losers) == 1, f"expected exactly one conflict, got {outcome}"
    loser = losers[0]
    loser_batch = batch_a if loser == "a" else batch_b

    # the loser's claimed dir is orphaned; record it before the retry
    live_before_retry = set(read_manifest(vtable)["partitions"].values())
    orphans = [
        int(d[2:])
        for d in os.listdir(vtable)
        if d.startswith("_v") and int(d[2:]) not in live_before_retry
    ]
    assert orphans, "loser should have left an orphaned version dir"

    merge_into_versioned(spark, vtable, loser_batch, ["event_id"], "event_date")

    # final state == serial application of both disjoint-key updates
    final = read_snapshot(spark, vtable, "event_date")
    assert final.count() == e.count()
    assert (
        final.filter(F.col("event_type") == "click")
        .join(batch_a.select("event_id", F.col("value").alias("want")), "event_id")
        .filter(F.col("value") != F.col("want"))
        .count()
        == 0
    )
    assert (
        final.filter(F.col("event_type") == "purchase")
        .join(batch_b.select("event_id", F.col("value").alias("want")), "event_id")
        .filter(F.col("value") != F.col("want"))
        .count()
        == 0
    )

    removed = vacuum(vtable)
    assert set(orphans) <= set(removed)


def test_vacuum_retention_window(spark, sf_dir, vtable):
    """retain_last keeps committed snapshots time-travel-readable through
    a vacuum; past the window the read fails fast with a clear error; and
    unreferenced orphan directories are still reclaimed."""
    from datalake2anomali_spark.io.publish import table_changes

    e = read_snapshot(spark, vtable, "event_date")
    n0 = e.count()  # materialize now: e's plan dies with the vacuumed files
    fp1 = _snap_fingerprint(spark, vtable)
    upd = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 1.0
    )
    n_upd = upd.count()
    v2 = merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    v3 = compact_versioned(spark, vtable, "event_date", "event_id")

    # plant a marker-less orphan: always reclaimable
    orphan = version_dir(vtable, 95)
    os.makedirs(orphan)
    removed = vacuum(vtable, retain_last=3)
    assert 95 in removed

    # within retention: v1 data must still read bit-identically, and the
    # change feed over a retained pair survives the vacuum
    old = read_snapshot(spark, vtable, "event_date", version=1)
    assert (
        old.count(),
        old.agg(F.sum(F.hash(*old.columns))).collect()[0][0],
    ) == fp1
    cdf = table_changes(spark, vtable, "event_date", ["event_id"], 1, v2)
    assert cdf.filter(F.col("change_type") == "changed").count() == n_upd

    # shrink retention to current-only: v1/v2 manifests go; reads fail fast
    vacuum(vtable, retain_last=1)
    with pytest.raises(FileNotFoundError, match="vacuumed|never committed"):
        read_snapshot(spark, vtable, "event_date", version=1)
    assert _snap_fingerprint(spark, vtable)[0] == n0
    assert set(read_manifest(vtable)["partitions"].values()) == {v3}


def test_vacuum_spares_inflight_claims(spark, vtable):
    """A directory whose claim marker is live is an in-flight writer and
    must survive vacuum (deleting it would corrupt that writer's commit);
    once the claim is stale past the TTL it is reclaimed."""
    from datalake2anomali_spark.io.publish import _claim_version

    v = _claim_version(vtable)
    assert v not in vacuum(vtable)  # live claim: protected
    assert os.path.isdir(version_dir(vtable, v))
    removed = vacuum(vtable, claim_ttl_seconds=0.0)  # claim now "stale"
    assert v in removed
    assert not os.path.isdir(version_dir(vtable, v))


def test_bloom_filters_skip_and_stay_correct(spark, sf_dir, tmp_path):
    """Bloom metadata must actually skip partitions on a point probe
    (sequential event_ids: one date holds any given id) while the result
    stays identical to the plain filtered read; partitions without a
    filter are conservatively read."""
    from datalake2anomali_spark.io.publish import (
        _bloom_may_contain,
        init_table as init,
    )

    root = str(tmp_path / "events_b")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init(spark, e, root, "event_date", bloom_cols=["event_id"])
    m = read_manifest(root)
    assert m["bloom"] and all("event_id" in b for b in m["bloom"].values())

    probe = int(e.agg(F.max("event_id")).collect()[0][0])
    # probe at the RECORDED geometry — init_table sizes m from the data,
    # so assuming the 1024-bit floor breaks on denser testdata
    from datalake2anomali_spark.io.publish import _manifest_bloom_geometry

    gm, gk = _manifest_bloom_geometry(m)
    scanned = [
        p
        for p in m["partitions"]
        if _bloom_may_contain(m["bloom"][p]["event_id"], probe, m=gm, k=gk)
    ]
    assert len(scanned) < len(m["partitions"])  # skipping is real

    got = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", probe)
    )
    want = read_snapshot(spark, root, "event_date").filter(
        F.col("event_id") == probe
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a value absent from the whole table: every partition may be skipped,
    # and the read degrades to an empty relation with the full schema
    missing = probe + 999_999
    none = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", missing)
    )
    assert none.count() == 0
    assert set(none.columns) == set(want.columns)


def test_bloom_filters_follow_merge_ownership(spark, sf_dir, tmp_path):
    """A merge must refresh the rewritten partition's bloom filter (the
    new value probes positive there) and keep untouched partitions'
    filters byte-identical."""
    from datalake2anomali_spark.io.publish import (
        _bloom_may_contain,
        init_table as init,
    )

    root = str(tmp_path / "events_bm")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init(spark, e, root, "event_date", bloom_cols=["event_id"])
    before = read_manifest(root)["bloom"]

    d0 = str(sorted(r[0] for r in e.select("event_date").distinct().collect())[0])
    new_id = 888_777_666
    src = (
        e.limit(1)
        .withColumn("event_id", F.lit(new_id))
        .withColumn("event_date", F.lit(d0))
    )
    merge_into_versioned(spark, root, src, ["event_id"], "event_date")
    after_manifest = read_manifest(root)
    after = after_manifest["bloom"]

    from datalake2anomali_spark.io.publish import _manifest_bloom_geometry

    gm, gk = _manifest_bloom_geometry(after_manifest)
    assert _bloom_may_contain(after[d0]["event_id"], new_id, m=gm, k=gk)
    untouched = [d for d in after if d != d0]
    assert untouched and all(after[d] == before[d] for d in untouched)

    got = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", new_id)
    )
    assert got.count() == 1


def test_restore_and_history(spark, sf_dir, vtable):
    """RESTORE makes the current snapshot equal an old version again as a
    NEW commit (no data movement, history append-only); table_history
    records every commit's operation; restoring to a vacuumed version
    fails with a clear error."""
    from datalake2anomali_spark.io.publish import (
        restore_version,
        table_history,
    )

    e = read_snapshot(spark, vtable, "event_date")
    fp1 = _snap_fingerprint(spark, vtable)
    upd = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 9.0
    )
    v2 = merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    fp2 = _snap_fingerprint(spark, vtable)
    assert fp2 != fp1

    v3 = restore_version(vtable, 1)
    assert v3 > v2
    assert _snap_fingerprint(spark, vtable) == fp1  # content == v1 again
    # v2 still time-travel-addressable: the restore rewound nothing
    old2 = read_snapshot(spark, vtable, "event_date", version=v2)
    assert (
        old2.count(),
        old2.agg(F.sum(F.hash(*old2.columns))).collect()[0][0],
    ) == fp2

    hist = table_history(vtable)
    ops = {h["version"]: h["operation"] for h in hist}
    assert ops[1] == "create"
    assert ops[v2] == "merge"
    assert ops[v3] == f"restore(v1)"
    assert [h["version"] for h in hist] == sorted(ops)

    # beyond retention the restore target is gone: loud failure
    v4 = merge_into_versioned(
        spark, vtable, upd.limit(3), ["event_id"], "event_date"
    )
    vacuum(vtable, retain_last=1)
    with pytest.raises(FileNotFoundError, match="v2|vacuumed|never committed"):
        restore_version(vtable, v2)


def test_delete_from_partition_pruned_and_null_semantics(spark, sf_dir, vtable):
    """DELETE rewrites only partitions holding a match, NULL-condition
    rows survive (ANSI), an emptied partition drops, time travel still
    reaches the pre-delete snapshot, and a no-match delete commits
    nothing."""
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        table_history,
    )

    e = read_snapshot(spark, vtable, "event_date")
    n0 = e.count()
    fp1 = _snap_fingerprint(spark, vtable)
    dates = sorted(r[0] for r in e.select("event_date").distinct().collect())
    d0 = str(dates[0])
    v0 = read_manifest(vtable)["version"]

    # NULL a few values so the NULL-condition branch is exercised
    nul = (
        e.filter((F.col("event_date") == d0) & (F.col("event_id") % 5 == 0))
        .withColumn("value", F.lit(None).cast("double"))
    )
    n_null = nul.count()
    merge_into_versioned(spark, vtable, nul, ["event_id"], "event_date")
    before = read_manifest(vtable)

    n_doomed = (
        read_snapshot(spark, vtable, "event_date")
        .filter((F.col("event_date") == d0) & (F.col("value") > 0))
        .count()
    )
    v_del = delete_from_versioned(
        spark, vtable, "event_date",
        (F.col("event_date") == d0) & (F.col("value") > 0),
    )
    after = read_manifest(vtable)
    assert after["operation"] == "delete"
    # only d0 changed owner; every other partition kept its version
    assert all(
        after["partitions"][p] == v
        for p, v in before["partitions"].items()
        if p != d0
    )
    snap = read_snapshot(spark, vtable, "event_date")
    assert snap.count() == n0 - n_doomed
    # the NULL-value rows in d0 survived the predicate
    assert (
        snap.filter((F.col("event_date") == d0) & F.col("value").isNull()).count()
        == n_null
    )
    # pre-delete snapshot still addressable
    old = read_snapshot(spark, vtable, "event_date", version=before["version"])
    assert old.count() == n0

    # no-match delete: version unchanged, no commit recorded
    v_same = delete_from_versioned(
        spark, vtable, "event_date", F.col("event_id") == -12345
    )
    assert v_same == v_del == read_manifest(vtable)["version"]

    # delete EVERYTHING in one partition: it drops from the manifest
    v_drop = delete_from_versioned(
        spark, vtable, "event_date", F.col("event_date") == d0
    )
    m = read_manifest(vtable)
    assert d0 not in m["partitions"]
    assert read_snapshot(spark, vtable, "event_date").filter(
        F.col("event_date") == d0
    ).count() == 0
    ops = [h["operation"] for h in table_history(vtable)]
    assert ops.count("delete") == 2


def test_schema_evolution_merge_widens_table(spark, sf_dir, vtable):
    """ADD COLUMN via merge: rewritten partitions carry the new column,
    untouched partitions back-fill typed NULLs through the recorded
    manifest schema, time travel to the pre-widening version returns the
    OLD schema, and a widening source without the opt-in flag raises."""
    e = read_snapshot(spark, vtable, "event_date")
    n0 = e.count()
    dates = sorted(r[0] for r in e.select("event_date").distinct().collect())
    d0 = str(dates[0])
    old_cols = list(e.columns)

    src = (
        e.filter(F.col("event_date") == d0)
        .withColumn("score", (F.col("event_id") % 100).cast("double"))
    )
    n_src = src.count()
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        merge_into_versioned(spark, vtable, src, ["event_id"], "event_date")

    v2 = merge_into_versioned(
        spark, vtable, src, ["event_id"], "event_date",
        allow_schema_evolution=True,
    )
    snap = read_snapshot(spark, vtable, "event_date")
    assert snap.columns == old_cols + ["score"]
    assert snap.count() == n0
    assert dict(snap.dtypes)["score"] == "double"
    assert snap.filter(F.col("score").isNotNull()).count() == n_src
    assert (
        snap.filter(F.col("event_date") != d0)
        .filter(F.col("score").isNotNull())
        .count()
        == 0
    )

    # pre-widening snapshot keeps the old schema exactly
    old = read_snapshot(spark, vtable, "event_date", version=1)
    assert old.columns == old_cols

    # the widened table keeps merging normally (full new schema source)
    upd = snap.filter(F.col("event_date") == d0).withColumn(
        "score", F.coalesce(F.col("score"), F.lit(0.0)) + 1.0
    )
    merge_into_versioned(spark, vtable, upd, ["event_id"], "event_date")
    snap2 = read_snapshot(spark, vtable, "event_date")
    assert snap2.count() == n0
    assert (
        snap2.filter(F.col("event_date") == d0)
        .filter(F.col("score").isNull())
        .count()
        == 0
    )


def test_metadata_only_rowcount(spark, sf_dir, vtable):
    """COUNT(*) from the manifest must track the real cardinality through
    merge (update+insert), delete, compact, and restore — and per-version
    time travel counts match their snapshots."""
    from datalake2anomali_spark.io.publish import (
        compact_versioned,
        delete_from_versioned,
        restore_version,
        snapshot_rowcount,
        table_history,
    )

    e = read_snapshot(spark, vtable, "event_date")
    n0 = e.count()
    assert snapshot_rowcount(vtable) == n0

    ins = e.limit(9).withColumn("event_id", F.col("event_id") + 77_000_000)
    upd = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 1.0
    )
    merge_into_versioned(
        spark, vtable, upd.unionByName(ins), ["event_id"], "event_date"
    )
    assert snapshot_rowcount(vtable) == n0 + 9

    n_err = read_snapshot(spark, vtable, "event_date").filter(
        F.col("event_type") == "error"
    ).count()
    delete_from_versioned(
        spark, vtable, "event_date", F.col("event_type") == "error"
    )
    assert snapshot_rowcount(vtable) == n0 + 9 - n_err

    compact_versioned(spark, vtable, "event_date", "event_id")
    assert snapshot_rowcount(vtable) == n0 + 9 - n_err

    restore_version(vtable, 1)
    assert snapshot_rowcount(vtable) == n0
    assert snapshot_rowcount(vtable, version=2) == n0 + 9

    hist = table_history(vtable)
    assert all(h["n_rows"] is not None for h in hist)
    assert hist[0]["n_rows"] == n0 and hist[-1]["n_rows"] == n0


def test_partial_optimize_rewrites_only_fragmented(spark, sf_dir, tmp_path):
    """optimize_partitions compacts exactly the fragmented partitions:
    content preserved, fragmented partitions coalesce to one file, every
    untouched partition keeps its version (and its bytes), the cap
    bounds one tick's work, and a clean table is a no-op."""
    from datalake2anomali_spark.io.compact import dataset_file_stats
    from datalake2anomali_spark.io.publish import (
        init_table,
        optimize_partitions,
    )
    from datalake2anomali_spark.io.tables import load_table

    root = str(tmp_path / "frag")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # fragment the ingest the way real pipelines do: an 8-task write
    # scatters every hive partition across small files (localCheckpoint
    # pins the task count — a shuffle before the write would let AQE
    # coalesce it back to one file)
    init_table(
        spark, e.repartition(8).localCheckpoint(eager=True), root, "event_date"
    )
    before = read_manifest(root)
    fp = _snap_fingerprint(spark, root)
    stats0 = dataset_file_stats(version_dir(root, 1))
    dates = sorted(p.split("=", 1)[1] for p in stats0)
    assert all(n >= 2 for n, _b in stats0.values())  # genuinely fragmented

    # capped run: only the single worst partition rewrites
    v_a, done_a = optimize_partitions(
        spark, root, "event_date", "event_id", min_files=2, max_partitions=1
    )
    assert len(done_a) == 1
    m_a = read_manifest(root)
    assert m_a["partitions"][done_a[0]] == v_a
    assert all(
        m_a["partitions"][p] == v
        for p, v in before["partitions"].items()
        if p != done_a[0]
    )
    assert _snap_fingerprint(spark, root) == fp

    # full run: remaining fragmentation clears; content bit-identical
    v_b, done_b = optimize_partitions(
        spark, root, "event_date", "event_id", min_files=2
    )
    assert sorted(done_a + done_b) == dates
    assert _snap_fingerprint(spark, root) == fp
    m = read_manifest(root)
    for p in done_a + done_b:
        vdir = version_dir(root, m["partitions"][p])
        n_files = dataset_file_stats(vdir)[f"event_date={p}"][0]
        assert n_files == 1, (p, n_files)

    # idempotent: nothing fragmented -> no commit
    v_c, done_c = optimize_partitions(
        spark, root, "event_date", "event_id", min_files=2
    )
    assert done_c == [] and v_c == m["version"]


def test_table_follower_incremental_view_end_to_end(spark, sf_dir, vtable, tmp_path):
    """Follow the table's change feed with a durable version cursor and
    fold each span into a rollup view via retraction: bootstrap arrives
    as pure adds, each poll sees exactly the committed delta, an
    uncommitted poll replays (at-least-once), a committed one advances,
    and the maintained view tracks a full recompute at every step."""
    from datalake2anomali_spark.io.publish import TableFollower
    from datalake2anomali_spark.operators.views import apply_changes, rollup_state

    keys = ["event_date", "event_type"]
    f = TableFollower(vtable, "event_date", ["event_id"], str(tmp_path / "cur"))

    # bootstrap: the whole snapshot as 'added'
    changes, v1 = f.poll(spark)
    assert changes.filter(F.col("change_type") != "added").count() == 0
    empty_view = rollup_state(
        read_snapshot(spark, vtable, "event_date").limit(0), keys,
        sum_cols={"value": 2},
    )
    view = apply_changes(
        empty_view, changes, ["event_id"], keys, sum_cols={"value": 2}
    ).localCheckpoint(eager=True)
    f.commit(v1)

    want = rollup_state(
        read_snapshot(spark, vtable, "event_date"), keys, sum_cols={"value": 2}
    )
    cols = sorted(want.columns)
    assert view.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(view.select(*cols)).count() == 0

    # caught up: nothing to do
    none, _ = f.poll(spark)
    assert none is None

    # a merge lands; the poll sees exactly that span
    e = read_snapshot(spark, vtable, "event_date")
    src = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 3.0
    )
    v2 = merge_into_versioned(spark, vtable, src, ["event_id"], "event_date")
    changes2, v_t = f.poll(spark)
    assert v_t == v2
    assert changes2.filter(F.col("change_type") == "changed").count() == src.count()

    # crash window: poll again WITHOUT commit -> identical replay span
    replay, v_r = f.poll(spark)
    assert v_r == v2 and replay.count() == changes2.count()

    view = apply_changes(
        view, changes2, ["event_id"], keys, sum_cols={"value": 2}
    ).localCheckpoint(eager=True)
    f.commit(v2)
    want2 = rollup_state(
        read_snapshot(spark, vtable, "event_date"), keys, sum_cols={"value": 2}
    )
    assert view.select(*cols).exceptAll(want2.select(*cols)).count() == 0
    assert want2.select(*cols).exceptAll(view.select(*cols)).count() == 0
    assert f.poll(spark)[0] is None


def test_check_constraints_enforced_on_writes(spark, sf_dir, tmp_path):
    """CHECK constraints gate every write: a violating init refuses, a
    clean init records them, a violating merge refuses (old snapshot
    intact, orphan dir vacuumable), NULL expressions pass (ANSI), and
    the constraint set survives merge/optimize commits."""
    from datalake2anomali_spark.io.publish import (
        ConstraintViolationError,
        compact_versioned,
        init_table,
        vacuum,
    )

    root = str(tmp_path / "events_c")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    cons = {
        "positive_id": "event_id >= 0",
        "known_type": "event_type IN ('view','click','purchase','signup','error')",
    }
    with pytest.raises(ConstraintViolationError, match="positive_id.*row"):
        init_table(
            spark,
            e.withColumn("event_id", F.col("event_id") - 10**12),
            str(tmp_path / "bad"),
            "event_date",
            constraints=cons,
        )

    init_table(spark, e, root, "event_date", constraints=cons)
    fp = _snap_fingerprint(spark, root)

    # NULL constraint expression passes (ANSI CHECK)
    ok = e.limit(3).withColumn("event_type", F.lit(None).cast("string"))
    merge_into_versioned(spark, root, ok, ["event_id"], "event_date")

    bad = e.limit(4).withColumn("event_type", F.lit("zzz"))
    with pytest.raises(ConstraintViolationError, match="known_type.*4 row"):
        merge_into_versioned(spark, root, bad, ["event_id"], "event_date")
    # refused commit: snapshot unchanged except the earlier OK merge
    snap = read_snapshot(spark, root, "event_date")
    assert snap.filter(F.col("event_type") == "zzz").count() == 0
    # the check ran BEFORE any version claim: no orphan dir, no stale claim
    assert not [f for f in os.listdir(root) if f.startswith("_CLAIM.")]
    assert vacuum(root, claim_ttl_seconds=0.0) == []

    compact_versioned(spark, root, "event_date", "event_id")
    assert read_manifest(root)["constraints"] == cons


def test_cdc_apply_mixed_upserts_and_deletes(spark, sf_dir, vtable):
    """One atomic commit applies a mixed CDC batch: updates stick,
    inserts land, deleted keys vanish (their old partitions rewritten
    without them), a key both upserted and deleted resolves to deleted,
    and malformed op values refuse."""
    from datalake2anomali_spark.io.publish import cdc_apply_versioned

    e = read_snapshot(spark, vtable, "event_date")
    n0 = e.count()

    upd = (
        e.filter(F.col("event_type") == "click")
        .limit(20)
        .withColumn("value", F.col("value") + 500.0)
        .withColumn("_op", F.lit("upsert"))
    )
    ins = (
        e.limit(4)
        .withColumn("event_id", F.col("event_id") + 60_000_000)
        .withColumn("_op", F.lit("upsert"))
    )
    del_ids = [r.event_id for r in e.filter(F.col("event_type") == "error").limit(6).collect()]
    dels = (
        e.filter(F.col("event_id").isin(del_ids))
        .withColumn("_op", F.lit("delete"))
    )
    # one key is both upserted and deleted in the same batch -> deleted
    both_id = [r.event_id for r in upd.limit(1).collect()][0]
    both_del = (
        e.filter(F.col("event_id") == both_id).withColumn("_op", F.lit("delete"))
    )
    batch = upd.unionByName(ins).unionByName(dels).unionByName(both_del)

    cdc_apply_versioned(spark, vtable, batch, ["event_id"], "event_date")
    snap = read_snapshot(spark, vtable, "event_date")
    assert snap.count() == n0 + 4 - 6 - 1
    assert snap.filter(F.col("event_id").isin(del_ids + [both_id])).count() == 0
    survivors_upd = snap.filter(
        F.col("event_id").isin([r.event_id for r in upd.collect()])
    )
    assert survivors_upd.filter(F.col("value") < 400).count() == 0
    dup = snap.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0

    with pytest.raises(ValueError, match="unknown CDC op"):
        cdc_apply_versioned(
            spark, vtable,
            e.limit(1).withColumn("_op", F.lit("upsertt")),
            ["event_id"], "event_date",
        )


def test_table_follower_spans_delete_and_restore(spark, sf_dir, vtable, tmp_path):
    """The follower's CDF spans are correct across DELETE (emits removed
    rows) and RESTORE (emits the inverse of what the restored-away
    commits did), so a retraction-maintained view still tracks full
    recomputes through the whole operation mix."""
    from datalake2anomali_spark.io.publish import (
        TableFollower,
        delete_from_versioned,
        restore_version,
    )
    from datalake2anomali_spark.operators.views import apply_changes, rollup_state

    keys = ["event_date", "event_type"]
    f = TableFollower(vtable, "event_date", ["event_id"], str(tmp_path / "cur"))
    changes, v = f.poll(spark)
    view = apply_changes(
        rollup_state(
            read_snapshot(spark, vtable, "event_date").limit(0), keys,
            sum_cols={"value": 2},
        ),
        changes, ["event_id"], keys, sum_cols={"value": 2},
    ).localCheckpoint(eager=True)
    f.commit(v)

    def fold_and_check():
        nonlocal view
        ch, v_t = f.poll(spark)
        assert ch is not None
        view = apply_changes(
            view, ch, ["event_id"], keys, sum_cols={"value": 2}
        ).localCheckpoint(eager=True)
        f.commit(v_t)
        want = rollup_state(
            read_snapshot(spark, vtable, "event_date"), keys,
            sum_cols={"value": 2},
        )
        cols = sorted(want.columns)
        assert view.select(*cols).exceptAll(want.select(*cols)).count() == 0
        assert want.select(*cols).exceptAll(view.select(*cols)).count() == 0

    # DELETE span
    delete_from_versioned(
        spark, vtable, "event_date", F.col("event_type") == "error"
    )
    fold_and_check()

    # RESTORE span: back to v1 — the feed must retract the delete
    restore_version(vtable, 1)
    fold_and_check()


def test_bloom_probe_normalizes_value_types(spark, sf_dir, tmp_path):
    """ADVICE r7: probing 5.0 / '0005' against a bigint bloom column must
    not hash a divergent string rendering into a false 'definitive'
    negative — the probe normalizes to the recorded column type, and an
    unrenderable probe disables bloom skipping (conservative read)."""
    root = str(tmp_path / "events_bloomtyped")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init_table(spark, e, root, "event_date", bloom_cols=["event_id"])
    probe = int(e.agg(F.max("event_id")).collect()[0][0])
    want = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", probe)
    ).count()
    assert want >= 1
    # float and zero-padded-string renderings of the same value
    got_f = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", float(probe))
    ).count()
    got_s = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", f"0{probe}")
    )
    assert got_f == want
    # '0{probe}' row filter compares string vs bigint: Spark casts the
    # string to bigint, so it matches the same rows — and the bloom must
    # not have skipped the partition first
    assert got_s.count() == want
    # a non-integral float can never match a bigint; bloom is bypassed
    # (unusable probe) and the row filter returns empty — no crash
    assert (
        read_snapshot(
            spark, root, "event_date", eq_predicate=("event_id", probe + 0.5)
        ).count()
        == 0
    )


def test_commit_lock_steal_mid_commit_aborts_loser(spark, sf_dir, vtable):
    """ADVICE r7: a committer that loses its lock mid-critical-section
    (TTL steal after a stall) must abort before the manifest swap instead
    of silently overwriting the thief's commit."""
    from datalake2anomali_spark.io.publish import (
        ConcurrentWriteError,
        _commit_lock,
        _commit_manifest,
    )

    base = read_manifest(vtable)
    v = base["version"]
    lock = _commit_lock(vtable)
    # simulate a TTL steal while this writer is stalled: the thief holds
    # a fresh lock at the same path with ITS token
    with open(lock[0], "w", encoding="utf-8") as fh:
        fh.write("thief-token")
    fake = dict(base, version=v + 7)
    with pytest.raises(ConcurrentWriteError, match="stolen"):
        _commit_manifest(vtable, fake, lock=lock)
    # nothing committed: pointer unchanged, no orphan history file
    assert read_manifest(vtable)["version"] == v
    assert not os.path.exists(
        os.path.join(vtable, f"_MANIFEST.v{v + 7}.json")
    )
    # and the thief's lock file was NOT unlinked by the loser
    with open(os.path.join(vtable, "_COMMIT.lock"), encoding="utf-8") as fh:
        assert fh.read() == "thief-token"
    os.unlink(os.path.join(vtable, "_COMMIT.lock"))


def test_null_partition_rejected_before_any_claim(
    spark, sf_dir, vtable, tmp_path
):
    """ADVICE r7: a source with NULL partition values must be refused
    BEFORE a version directory is claimed — a post-write rejection leaves
    an orphan _v{N} dir whose live claim marker blocks vacuum for the
    whole claim TTL.  A create sees the NULL only once written, so it
    must take back its claim before refusing."""
    from datalake2anomali_spark.io.publish import cdc_apply_versioned

    before = sorted(os.listdir(vtable))
    e = read_snapshot(spark, vtable, "event_date")
    bad = e.limit(3).withColumn("event_date", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="non-NULL partition"):
        merge_into_versioned(spark, vtable, bad, ["event_id"], "event_date")
    assert sorted(os.listdir(vtable)) == before  # no _v dir, no _CLAIM
    with pytest.raises(ValueError, match="non-NULL partition"):
        cdc_apply_versioned(
            spark,
            vtable,
            bad.withColumn("_op", F.lit("upsert")),
            ["event_id"],
            "event_date",
        )
    assert sorted(os.listdir(vtable)) == before
    fresh = str(tmp_path / "fresh")
    with pytest.raises(ValueError, match="non-NULL partition"):
        init_table(spark, bad, fresh, "event_date")
    assert os.listdir(fresh) == []  # no _v1 dir, no _CLAIM.v1


def test_sync_versioned_unconditional_replicates_source(spark, sf_dir, vtable):
    """Three-clause MERGE with no delete condition: the table becomes
    exactly the source — updates stick (incl. NULLs), inserts land,
    not-matched-by-source rows go, emptied partitions drop."""
    from datalake2anomali_spark.io.publish import sync_versioned

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # source: clicks with NULLed value + error clones on a new date;
    # everything else (purchase/signup/view/error originals) must vanish
    src = (
        e.filter(F.col("event_type") == "click")
        .withColumn("value", F.lit(None).cast("double"))
        .unionByName(
            e.filter(F.col("event_type") == "error")
            .withColumn("event_id", F.col("event_id") + 90_000_000)
            .withColumn("event_date", F.lit("2035-01-01"))
        )
    )
    sync_versioned(spark, vtable, src, ["event_id"], "event_date")
    after = read_snapshot(spark, vtable, "event_date")
    assert after.count() == src.count()
    cols = sorted(after.columns)
    assert after.select(*cols).exceptAll(src.select(*cols)).count() == 0
    assert src.select(*cols).exceptAll(after.select(*cols)).count() == 0
    assert read_manifest(vtable)["operation"] == "sync"
    # every original date partition with only non-click rows dropped
    live = set(read_manifest(vtable)["partitions"])
    want_parts = {r[0] for r in src.select("event_date").distinct().collect()}
    assert live == want_parts


def test_sync_versioned_conditional_bounds_the_delete(spark, sf_dir, vtable):
    """delete_condition restricts the not-matched-by-source clause: rows
    failing it (or NULL) survive even though the source omits them."""
    from datalake2anomali_spark.io.publish import sync_versioned

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    src = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 9.0
    )
    sync_versioned(
        spark,
        vtable,
        src,
        ["event_id"],
        "event_date",
        delete_condition=F.col("event_type") == "view",
    )
    after = read_snapshot(spark, vtable, "event_date")
    # views deleted, clicks updated, everything else intact
    assert after.filter(F.col("event_type") == "view").count() == 0
    assert after.count() == e.count() - e.filter(
        F.col("event_type") == "view"
    ).count()
    got = after.filter(F.col("event_type") == "click").agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("s")
    ).collect()[0]["s"]
    want = src.agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("s")
    ).collect()[0]["s"]
    assert got == want
    dup = after.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_sync_versioned_on_branch_leaves_main_untouched(spark, sf_dir, vtable):
    from datalake2anomali_spark.io.publish import (
        create_branch,
        sync_versioned,
    )

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    before = _snap_fingerprint(spark, vtable)
    create_branch(vtable, "sync-wip")
    src = e.filter(F.col("event_type") == "purchase")
    sync_versioned(
        spark, vtable, src, ["event_id"], "event_date", ref="sync-wip"
    )
    assert _snap_fingerprint(spark, vtable) == before
    b = read_snapshot(spark, vtable, "event_date", ref="sync-wip")
    assert b.count() == src.count()


def test_bloom_probe_normalizes_unpadded_date_strings(spark, sf_dir, tmp_path):
    """A '2024-1-5'-style probe against a date bloom column must hash the
    writer's zero-padded ISO rendering (the row filter matches either
    spelling, so an un-normalized probe was a silent wrong answer)."""
    from datalake2anomali_spark.io.publish import _normalize_bloom_probe

    root = str(tmp_path / "bloom_date")
    e = (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("d", F.to_date("ts"))
    )
    from datalake2anomali_spark.io.publish import init_table as _init

    _init(spark, e, root, "event_date", bloom_cols=["d"])
    manifest = read_manifest(root)
    probe = next(iter(manifest["bloom"]))  # any partition exists
    # normalization: unpadded → canonical ISO; garbage → unusable
    val, usable = _normalize_bloom_probe(manifest, "d", "2024-1-5")
    assert (val, usable) == ("2024-01-05", True)
    _, usable_bad = _normalize_bloom_probe(manifest, "d", "not-a-date")
    assert usable_bad is False
    # end-to-end: the unpadded probe returns exactly the padded probe's rows
    got = read_snapshot(
        spark, root, "event_date", eq_predicate=("d", "2024-1-5")
    ).count()
    want = e.filter(F.col("d") == F.lit("2024-1-5")).count()
    assert want > 0 and got == want


def test_compact_versioned_zorder_bounds_both_dims(spark, sf_dir, vtable):
    """OPTIMIZE ZORDER BY (user_id, event_id): content-preserving like
    plain compaction, and each written file covers a bounded sub-range
    of BOTH cluster dims (single-column order bounds only one)."""
    from datalake2anomali_spark.io.publish import compact_versioned

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    with pytest.raises(ValueError, match="exactly one"):
        compact_versioned(spark, vtable, "event_date")
    with pytest.raises(ValueError, match="exactly one"):
        compact_versioned(
            spark, vtable, "event_date", "event_id",
            zorder_cols=("user_id", "event_id"),
        )

    before = _snap_fingerprint(spark, vtable)
    v = compact_versioned(
        spark,
        vtable,
        "event_date",
        zorder_cols=("user_id", "event_id"),
        target_file_bytes=4 * 1024,
    )
    assert _snap_fingerprint(spark, vtable) == before  # content preserved
    m = read_manifest(vtable)
    assert set(m["partitions"].values()) == {v}  # one live version
    assert "_zk" not in [c for c, _t in m["schema"]]  # key never leaks

    # per-file spans: both dims bounded in a meaningful share of files
    vdir = version_dir(vtable, v)
    import pyarrow.parquet as pq
    import glob as _glob

    spans = []
    for f in _glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True):
        t = pq.read_table(f, columns=["user_id", "event_id"])
        u = t.column("user_id").to_pylist()
        i = t.column("event_id").to_pylist()
        if u and i:
            spans.append((max(u) - min(u), max(i) - min(i)))
    assert len(spans) > 30  # tiny target bytes → many range splits per day
    glob_u = e.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]
    glob_i = e.agg(F.max("event_id") - F.min("event_id")).collect()[0][0]
    frac_u = sum(1 for su, _ in spans if su <= 0.7 * glob_u) / len(spans)
    frac_i = sum(1 for _, si in spans if si <= 0.7 * glob_i) / len(spans)
    assert frac_u >= 0.4 and frac_i >= 0.4


def test_metadata_tables_reflect_snapshot_state(spark, sf_dir, vtable):
    """history/partitions/files metadata DataFrames agree with the
    manifest and with a physical read of the live snapshot."""
    from datalake2anomali_spark.io.publish import (
        files_df,
        history_df,
        merge_into_versioned,
        partitions_df,
    )

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    v2 = merge_into_versioned(
        spark,
        vtable,
        e.filter(F.col("event_type") == "error").withColumn(
            "event_id", F.col("event_id") + 21_000_000
        ),
        ["event_id"],
        "event_date",
    )

    h = history_df(spark, vtable).orderBy("version").collect()
    assert [r["version"] for r in h] == [1, v2]
    assert [r["operation"] for r in h] == ["create", "merge"]
    assert all(r["ref"] == "main" and r["committed_at"] is not None for r in h)

    m = read_manifest(vtable)
    p = partitions_df(spark, vtable)
    rows = {r["partition"]: r for r in p.collect()}
    assert set(rows) == set(m["partitions"])
    assert sum(r["n_rows"] for r in rows.values()) == read_snapshot(
        spark, vtable, "event_date"
    ).count()
    assert {r["owner_version"] for r in rows.values()} == {
        int(x) for x in m["partitions"].values()
    }

    f = files_df(spark, vtable)
    fr = f.collect()
    assert all(r["size_bytes"] > 0 for r in fr)
    assert {r["partition"] for r in fr} == set(m["partitions"])
    # the files view names exactly the live footprint: reading those
    # paths reproduces the snapshot row count
    got = spark.read.parquet(*[r["path"] for r in fr]).count()
    assert got == read_snapshot(spark, vtable, "event_date").count()
    # time travel: v1's views see the pre-merge state
    assert partitions_df(spark, vtable, version=1).agg(
        F.sum("n_rows")
    ).collect()[0][0] == e.count()


def test_files_df_matches_hive_escaped_partition_dirs(spark, tmp_path):
    """Partition values with hive-escapable chars (the ':' of evolved
    specs' generation prefixes becomes '%3A' on disk) must still appear
    in the files metadata table, with the RAW value (ADVICE r8 med)."""
    from datalake2anomali_spark.io.publish import files_df

    root = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(i, f"g1:2024-01-0{1 + i % 2}") for i in range(8)], "id int, pk string"
    )
    init_table(spark, df, root, "pk")
    fr = files_df(spark, root).collect()
    assert {r["partition"] for r in fr} == {"g1:2024-01-01", "g1:2024-01-02"}
    assert all("%3A" in r["path"] for r in fr)  # dirs really are escaped
    assert spark.read.parquet(*[r["path"] for r in fr]).count() == 8


def test_ref_pointer_creation_is_crash_safe(spark, sf_dir, vtable):
    """A truncated/corrupt ref can never reach its final name: creation
    goes through a tmp file + link, duplicate names still refuse, and no
    tmp litter survives (ADVICE r8 low)."""
    from datalake2anomali_spark.io.publish import (
        create_branch,
        create_tag,
        list_refs,
    )

    create_branch(vtable, "audit")
    create_tag(vtable, "pin")
    with pytest.raises(FileExistsError):
        create_branch(vtable, "audit")
    with pytest.raises(FileExistsError):
        create_tag(vtable, "pin")
    refs = list_refs(vtable)
    assert "audit" in refs["branches"] and "pin" in refs["tags"]
    litter = [f for f in os.listdir(vtable) if f.startswith("_reftmp-")]
    assert litter == []


def test_vacuum_dry_run_reports_without_touching(spark, sf_dir, vtable):
    from datalake2anomali_spark.io.publish import compact_versioned as _cv

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    merge_into_versioned(
        spark, vtable,
        e.filter(F.col("event_type") == "error").withColumn(
            "event_id", F.col("event_id") + 31_000_000
        ),
        ["event_id"], "event_date",
    )
    _cv(spark, vtable, "event_date", "event_id")  # v1, v2 now unreferenced

    would = vacuum(vtable, retain_last=1, claim_ttl_seconds=0.0, dry_run=True)
    assert would  # something is reclaimable
    for v in would:  # nothing actually touched
        assert os.path.isdir(version_dir(vtable, v))
    before = _snap_fingerprint(spark, vtable)
    did = vacuum(vtable, retain_last=1, claim_ttl_seconds=0.0)
    assert did == would  # the dry run predicted the real run exactly
    assert _snap_fingerprint(spark, vtable) == before
    for v in did:
        assert not os.path.isdir(version_dir(vtable, v))


def test_ref_creation_survives_nfs_link_quirks(spark, vtable, monkeypatch):
    """ADVICE r9 low: (a) a retransmitted link() reply surfacing EEXIST
    after the link actually landed must be treated as success; (b) mounts
    refusing hard links (EPERM/ENOTSUP) fall back to O_CREAT|O_EXCL; (c) a
    failed tmp write unlinks its litter; genuine duplicates still refuse."""
    import errno

    from datalake2anomali_spark.io.publish import (
        create_branch,
        list_refs,
        read_manifest,
    )

    real_link = os.link

    # (a) link succeeds but the (retransmitted) reply reports EEXIST
    def link_then_eexist(src, dst, **kw):
        real_link(src, dst, **kw)
        raise FileExistsError(errno.EEXIST, "File exists", dst)

    monkeypatch.setattr(os, "link", link_then_eexist)
    create_branch(vtable, "nfsok")  # must NOT raise
    assert list_refs(vtable)["branches"]["nfsok"]["version"] == read_manifest(
        vtable
    )["version"]

    # (b) hard links unsupported on this mount
    def link_enotsup(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "Operation not supported", dst)

    monkeypatch.setattr(os, "link", link_enotsup)
    create_branch(vtable, "nolink")
    assert "nolink" in list_refs(vtable)["branches"]
    with pytest.raises(FileExistsError):
        create_branch(vtable, "nolink")  # duplicates still refuse

    # (c) a failing tmp write leaves no litter
    monkeypatch.setattr(os, "link", real_link)

    def fsync_enospc(fd):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(os, "fsync", fsync_enospc)
    with pytest.raises(OSError):
        create_branch(vtable, "nospace")
    monkeypatch.undo()
    assert [f for f in os.listdir(vtable) if f.startswith("_reftmp-")] == []
    assert "nospace" not in list_refs(vtable)["branches"]


def test_vacuum_sweeps_stale_reftmp_litter(spark, vtable):
    """ADVICE r9 low: vacuum reclaims _reftmp-* orphans older than the
    TTL floor, leaves fresh ones (an in-flight creator) alone, and a dry
    run touches neither."""
    stale = os.path.join(vtable, "_reftmp-999-deadbeef")
    fresh = os.path.join(vtable, "_reftmp-999-cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    old = time.time() - 3600.0
    os.utime(stale, (old, old))

    vacuum(vtable, retain_last=1, claim_ttl_seconds=0.0, dry_run=True)
    assert os.path.exists(stale) and os.path.exists(fresh)  # dry run: no-op
    vacuum(vtable, retain_last=1, claim_ttl_seconds=0.0)
    assert not os.path.exists(stale)  # aged-out orphan reclaimed
    assert os.path.exists(fresh)  # in-flight window respected


def test_update_versioned_semantics(spark, sf_dir, vtable):
    """UPDATE ... SET: matched rows take the cast SET exprs, FALSE and
    NULL predicate rows survive unchanged, untouched partitions keep
    their manifest version, a partition-moving UPDATE rewrites old AND
    new homes, and no-match / unknown-column cases refuse correctly."""
    from datalake2anomali_spark.io.publish import update_versioned

    before = read_snapshot(spark, vtable, "event_date").cache()
    v0 = read_manifest(vtable)["version"]
    parts0 = dict(read_manifest(vtable)["partitions"])

    # non-moving update: double the value of click events
    v1 = update_versioned(
        spark, vtable, "event_date",
        F.col("event_type") == "click",
        {"value": F.col("value") * 2},
    )
    after1 = read_snapshot(spark, vtable, "event_date")
    want1 = before.withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    assert after1.exceptAll(want1).count() == 0
    assert want1.exceptAll(after1).count() == 0
    m1 = read_manifest(vtable)
    assert m1["operation"] == "update"
    # every partition held a click -> all rewrite; spot the ownership rule
    # on the moving update below instead
    assert m1["version"] == v1 > v0

    # NULL-predicate rows survive: value IS NULL makes the AND null
    null_cond = (F.col("value") > F.lit(1e18)) & (F.col("event_id") < F.lit(None))
    v2 = update_versioned(
        spark, vtable, "event_date", null_cond, {"value": F.lit(0.0)}
    )
    assert v2 == v1  # nothing matched: no commit
    assert read_manifest(vtable)["version"] == v1

    # partition-moving update: relocate one date's signups to a new date
    dates = sorted(parts0)
    src_date, keep_date = dates[0], dates[1]
    moved_cond = (F.col("event_date") == src_date) & (
        F.col("event_type") == "signup"
    )
    n_moved = after1.filter(moved_cond).count()
    assert n_moved > 0
    v3 = update_versioned(
        spark, vtable, "event_date",
        moved_cond,
        {"event_date": F.lit("2040-12-31"), "event_type": F.lit("signup_moved")},
    )
    m3 = read_manifest(vtable)
    after3 = read_snapshot(spark, vtable, "event_date")
    assert after3.filter(F.col("event_date") == "2040-12-31").count() == n_moved
    assert (
        after3.filter(
            (F.col("event_date") == src_date) & (F.col("event_type") == "signup")
        ).count()
        == 0
    )
    assert after3.count() == after1.count()  # UPDATE never changes row count
    # ownership: old home and new home carry v3, a bystander keeps v1
    assert m3["partitions"][src_date] == v3
    assert m3["partitions"]["2040-12-31"] == v3
    assert m3["partitions"][keep_date] == v1
    # SET exprs are cast to the column's declared type
    assert dict(after3.dtypes)["event_date"] == "string"

    with pytest.raises(ValueError, match="unknown columns"):
        update_versioned(
            spark, vtable, "event_date", F.lit(True), {"nope": F.lit(1)}
        )
    before.unpersist()


def test_update_versioned_respects_constraints_and_branches(
    spark, sf_dir, vtable, tmp_path
):
    """UPDATE validates CHECK constraints on the rewritten rows and a
    branch-ref UPDATE leaves main untouched until fast_forward."""
    from datalake2anomali_spark.io.publish import (
        ConstraintViolationError,
        create_branch,
        fast_forward,
        init_table,
        update_versioned,
    )

    croot = str(tmp_path / "events_uc")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init_table(
        spark, e, croot, "event_date",
        constraints={"value_nonneg": "value >= 0 OR value IS NULL"},
    )
    v_before = read_manifest(croot)["version"]
    with pytest.raises(ConstraintViolationError, match="value_nonneg"):
        update_versioned(
            spark, croot, "event_date",
            F.col("event_type") == "click",
            {"value": F.lit(-1.0)},
        )
    assert read_manifest(croot)["version"] == v_before  # refused: no commit

    create_branch(vtable, "upd")
    main_before = _snap_fingerprint(spark, vtable)
    update_versioned(
        spark, vtable, "event_date",
        F.col("event_type") == "click",
        {"value": F.col("value") + 1},
        ref="upd",
    )
    assert _snap_fingerprint(spark, vtable) == main_before  # main invisible
    fast_forward(vtable, "upd")
    assert _snap_fingerprint(spark, vtable) != main_before


def test_update_merge_on_read_parity_and_sequence(spark, sf_dir, tmp_path):
    """Merge-on-read UPDATE: vector + append-delta commit, no partition
    rewrites, result parity with the copy-on-write twin on the same
    predicates — including a SECOND overlapping MoR update, which only
    sequence-aware vector application gets right (the first update's
    replacement rows must die to the second's vector while the second's
    replacements survive their own)."""
    from datalake2anomali_spark.io.publish import (
        snapshot_rowcount,
        update_versioned,
    )

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for root in (mor, cow):
        init_table(
            spark, e, root, "event_date",
            stats_cols=["value"], bloom_cols=["event_type"],
        )
    n0 = e.count()
    upd1 = (F.col("event_type") == "click", {"value": F.col("value") * 2})
    upd2 = (
        (F.col("event_type") == "click") & (F.col("event_id") % 3 == 0),
        {"value": F.col("value") + 7},
    )
    v0 = read_manifest(mor)["version"]
    parts0 = dict(read_manifest(mor)["partitions"])
    for cond, sets in (upd1, upd2):
        update_versioned(
            spark, mor, "event_date", cond, sets,
            mode="merge_on_read", key_cols=["event_id"],
        )
        update_versioned(spark, cow, "event_date", cond, sets)

    got = read_snapshot(spark, mor, "event_date")
    want = read_snapshot(spark, cow, "event_date")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    m = read_manifest(mor)
    assert m["operation"] == "update_mor"
    assert m["partitions"] == parts0  # no partition was rewritten
    assert m["appends"] and all(len(vs) >= 1 for vs in m["appends"].values())
    assert snapshot_rowcount(mor) == n0  # metadata-only count invariant

    # zone maps widened, not broken: a range read for the post-update
    # values must still find them (old max was pre-doubling)
    hi = got.agg(F.max("value")).collect()[0][0]
    ranged = read_snapshot(
        spark, mor, "event_date", predicate=("value", hi, hi)
    )
    assert ranged.count() == got.filter(F.col("value") == hi).count() > 0

    # time travel: AS OF the first MoR update sees exactly one doubling
    v1 = v0 + 1
    asof = read_snapshot(spark, mor, "event_date", version=v1)
    want1 = e.withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    assert asof.exceptAll(want1).count() == 0
    assert want1.exceptAll(asof).count() == 0

    # MoR DELETE over MoR-updated rows: the replacement rows die too
    from datalake2anomali_spark.io.publish import delete_from_versioned

    delete_from_versioned(
        spark, mor, "event_date",
        F.col("event_type") == "click",
        mode="merge_on_read", key_cols=["event_id"],
    )
    assert (
        read_snapshot(spark, mor, "event_date")
        .filter(F.col("event_type") == "click")
        .count()
        == 0
    )


def test_update_mor_materializes_on_rewrite_and_survives_vacuum(
    spark, sf_dir, tmp_path
):
    """A partition rewrite (CoW UPDATE here) clears the rewritten
    partition's vectors AND append-deltas while bystanders keep theirs;
    vacuum never reclaims a version directory an append-delta still
    references; restore_version round-trips the appends record."""
    from datalake2anomali_spark.io.publish import (
        restore_version,
        update_versioned,
    )

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    root = str(tmp_path / "morv")
    init_table(spark, e, root, "event_date")
    update_versioned(
        spark, root, "event_date",
        F.col("event_type") == "purchase",
        {"value": F.col("value") + 100},
        mode="merge_on_read", key_cols=["event_id"],
    )
    m1 = read_manifest(root)
    fp1 = _snap_fingerprint(spark, root)
    dates = sorted(m1["appends"])
    target_date, keeper = dates[0], dates[1]

    # rewrite ONE partition via CoW update; its append entry must clear
    update_versioned(
        spark, root, "event_date",
        F.col("event_date") == target_date,
        {"value": F.col("value")},  # identity SET: pure materialization
    )
    m2 = read_manifest(root)
    assert target_date not in m2.get("appends", {})
    assert keeper in m2["appends"]
    assert target_date not in m2.get("dv", {}).get("files", {})
    assert _snap_fingerprint(spark, root) == fp1  # content unchanged

    # restore to the pre-materialization snapshot: appends record returns
    restore_version(root, m1["version"])
    assert read_manifest(root)["appends"] == m1["appends"]
    assert _snap_fingerprint(spark, root) == fp1

    # vacuum with retain_last=1: the MoR commit's version dir (vectors +
    # appends referenced by the restored head) must survive
    removed = vacuum(root, retain_last=1, claim_ttl_seconds=0.0)
    assert _snap_fingerprint(spark, root) == fp1
    av = int(m1["appends"][keeper][0])
    assert os.path.isdir(version_dir(root, av))
    assert av not in removed


def test_update_mor_refusals(spark, sf_dir, tmp_path):
    """MoR UPDATE refuses: missing key_cols, reassigning partition/key
    columns, mismatched vector keys; no-match commits nothing."""
    from datalake2anomali_spark.io.publish import update_versioned

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    root = str(tmp_path / "morr")
    init_table(spark, e, root, "event_date")
    with pytest.raises(ValueError, match="requires key_cols"):
        update_versioned(
            spark, root, "event_date", F.lit(True), {"value": F.lit(1.0)},
            mode="merge_on_read",
        )
    with pytest.raises(ValueError, match="cannot reassign"):
        update_versioned(
            spark, root, "event_date", F.lit(True),
            {"event_date": F.lit("2041-01-01")},
            mode="merge_on_read", key_cols=["event_id"],
        )
    v0 = read_manifest(root)["version"]
    assert (
        update_versioned(
            spark, root, "event_date",
            F.col("event_type") == "no_such_type", {"value": F.lit(0.0)},
            mode="merge_on_read", key_cols=["event_id"],
        )
        == v0
    )
    update_versioned(
        spark, root, "event_date",
        F.col("event_type") == "click", {"value": F.col("value") * 2},
        mode="merge_on_read", key_cols=["event_id"],
    )
    with pytest.raises(ValueError, match="keyed by"):
        update_versioned(
            spark, root, "event_date",
            F.col("event_type") == "click", {"value": F.col("value")},
            mode="merge_on_read", key_cols=["event_type"],
        )


def test_update_mor_all_null_bloom_column_and_optimize_counts_appends(
    spark, sf_dir, tmp_path
):
    """Two merge-on-read regressions: (a) an UPDATE that NULLs a bloom
    column for every matched row must still commit (the append bloom has
    no entry for that column); (b) OPTIMIZE counts append-deltas as
    fragmentation, so an update-heavy partition qualifies and the
    rewrite clears its vectors and appends."""
    from datalake2anomali_spark.io.publish import (
        optimize_partitions,
        update_versioned,
    )

    root = str(tmp_path / "mornull")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    init_table(spark, e, root, "event_date", bloom_cols=["event_type"])
    fp_blind = None
    update_versioned(
        spark, root, "event_date",
        F.col("event_type") == "error",
        {"event_type": F.lit(None).cast("string")},
        mode="merge_on_read", key_cols=["event_id"],
    )
    snap = read_snapshot(spark, root, "event_date")
    assert snap.filter(F.col("event_type").isNull()).count() == e.filter(
        F.col("event_type") == "error"
    ).count()
    # bloom probe on an untouched value still works post-widening
    probed = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_type", "click")
    )
    assert probed.count() == e.filter(F.col("event_type") == "click").count()

    m1 = read_manifest(root)
    assert m1.get("appends")
    fp_blind = _snap_fingerprint(spark, root)
    v, rewritten = optimize_partitions(
        spark, root, "event_date", "event_id", min_files=2
    )
    assert set(rewritten) >= set(m1["appends"])  # append piles qualified
    m2 = read_manifest(root)
    for p in rewritten:
        assert p not in m2.get("appends", {})
        assert p not in m2.get("dv", {}).get("files", {})
    assert _snap_fingerprint(spark, root) == fp_blind  # content preserved


def test_fully_emptied_table_stays_alive(spark, sf_dir, tmp_path):
    """DELETE of every row must not brick the table: the emptied table
    reads ZERO rows under the recorded schema (not an error), further
    predicate DML no-ops, and a later MERGE repopulates it — one full
    DELETE used to make the table permanently unreadable AND unwritable
    (every writer starts with a snapshot read)."""
    from pyspark.sql import functions as F

    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        init_table,
        merge_into_versioned,
        read_snapshot,
        update_versioned,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, str(k % 2), k) for k in range(10)], "k long, p string, x long"
    )
    init_table(spark, df, root, "p")
    delete_from_versioned(spark, root, "p", F.lit(True))

    snap = read_snapshot(spark, root, "p")
    assert snap.count() == 0
    assert snap.columns == ["k", "p", "x"]
    # predicate DML on the empty table is a clean no-op
    update_versioned(spark, root, "p", F.lit(True), {"x": F.lit(0).cast("long")})
    delete_from_versioned(spark, root, "p", F.lit(True))

    src = spark.createDataFrame(
        [(99, "z", 1), (100, "w", 2)], "k long, p string, x long"
    )
    merge_into_versioned(spark, root, src, ["k"], "p")
    got = sorted(
        (r["k"], r["p"], r["x"])
        for r in read_snapshot(spark, root, "p").collect()
    )
    assert got == [(99, "z", 1), (100, "w", 2)]


def test_bloom_geometry_adapts_to_key_density(spark, tmp_path):
    """The fixed 1024-bit filter measured 24% false positives at 333
    keys/partition (margin audit r14) — init_table must size ``m`` from
    the observed per-partition distinct count (~10 bits/key, next power
    of two), record the choice in the manifest, and every probe and
    later write must use the RECORDED geometry so OR-merged filters stay
    coherent."""
    from datalake2anomali_spark.io.publish import (
        _bloom_may_contain,
        init_table as init,
        merge_into_versioned as merge,
    )

    root = str(tmp_path / "bloom_geo")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    init(spark, df, root, "p", bloom_cols=["k"])
    m = read_manifest(root)
    # 500 distinct keys/partition × 10 bits/key → next pow2 = 8192
    assert m["bloom_geometry"] == {"m": 8192, "k": 3}

    # absent probes: the adapted filter holds ~1% FPR where the 1024-bit
    # floor would sit near 80% at this density
    geo = m["bloom_geometry"]
    fp = sum(
        _bloom_may_contain(m["bloom"][p]["k"], v, m=geo["m"], k=geo["k"])
        for p in m["bloom"]
        for v in range(2000, 2400)
    ) / (2 * 400)
    assert fp < 0.05, fp

    # reader: an absent key skips every partition yet keeps the schema;
    # a present key still returns its row (no false negative ever)
    assert read_snapshot(spark, root, "p", eq_predicate=("k", 999_999)).count() == 0
    assert read_snapshot(spark, root, "p", eq_predicate=("k", 123)).count() == 1

    # a later write must build its filter at the recorded geometry: the
    # merged-in key probes positive at m=8192 (it would hash elsewhere
    # at the 1024-bit floor) and the read finds it
    src = spark.createDataFrame([(5555, "0")], "k long, p string")
    merge(spark, root, src, ["k"], "p")
    after = read_manifest(root)
    assert after["bloom_geometry"] == {"m": 8192, "k": 3}
    assert _bloom_may_contain(after["bloom"]["0"]["k"], 5555, m=8192, k=3)
    assert read_snapshot(spark, root, "p", eq_predicate=("k", 5555)).count() == 1


def test_compact_rechooses_bloom_geometry(spark, tmp_path):
    """Compaction rewrites the whole snapshot with no old bitmaps to
    OR-merge against — the one free re-sizing point — so a table that
    grew past its init-time key density must escape bloom saturation
    there (code-review r14)."""
    from datalake2anomali_spark.io.publish import (
        compact_versioned,
        init_table as init,
        merge_into_versioned as merge,
    )

    root = str(tmp_path / "bloom_regrow")
    small = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    init(spark, small, root, "p", bloom_cols=["k"])
    assert read_manifest(root)["bloom_geometry"] == {"m": 1024, "k": 3}

    # grow two orders of magnitude: merges keep the (now undersized)
    # recorded geometry, because their new bitmaps must OR with old ones
    big = spark.range(1000, 11000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    merge(spark, root, big, ["k"], "p")
    assert read_manifest(root)["bloom_geometry"] == {"m": 1024, "k": 3}

    compact_versioned(spark, root, "p", order_col="k")
    after = read_manifest(root)
    # ~5020 keys/partition × 10 bits → next pow2 = 65536
    assert after["bloom_geometry"]["m"] == 65536
    # and the re-sized filters actually skip absent keys again
    assert read_snapshot(spark, root, "p", eq_predicate=("k", 10_500)).count() == 1
    assert read_snapshot(spark, root, "p", eq_predicate=("k", 99_999_999)).count() == 0


def test_bloom_rebuild_keeps_all_null_columns(spark, tmp_path):
    """Rebuild paths derive the bloom-column set as the UNION across
    partition entries: a partition whose column was all-NULL at write
    time has no bitmap for it, and deriving the set from that partition
    would drop the column's bloom table-wide (code-review r14)."""
    from datalake2anomali_spark.io.publish import (
        compact_versioned,
        init_table as init,
    )

    root = str(tmp_path / "bloom_nullcol")
    # partition "0": b entirely NULL; partition "1": b populated
    df = spark.range(200).select(
        F.col("id").alias("a"),
        F.when(F.col("id") % 2 == 1, F.col("id") + 10_000).alias("b"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    init(spark, df, root, "p", bloom_cols=["a", "b"])
    before = read_manifest(root)["bloom"]
    assert "b" not in before["0"] and "b" in before["1"]

    compact_versioned(spark, root, "p", order_col="a")
    after = read_manifest(root)["bloom"]
    assert "b" in after["1"], "all-NULL partition must not drop b table-wide"
    # and the b-probe still finds its row through the rebuilt metadata
    assert read_snapshot(spark, root, "p", eq_predicate=("b", 10_001)).count() == 1


# -- the shared copy-on-write kernel ------------------------------------------
#
# Every partition-rewriting verb commits through publish._rewrite_partitions.
# The table below has zone maps on ``v``, a bloom filter on ``id``, one
# merge-on-read delete vector and one merge-on-read update append on p1 and
# p3, and p3 spread over two files (three with its append) so partial
# OPTIMIZE picks it alone.  Each verb rewrites p3; p0-p2 stay untouched.


def _kernel_verb(spark, root, verb):
    """Run ``verb`` against p3 and return the version it published."""
    from datalake2anomali_spark.io.publish import (
        cdc_apply_versioned,
        delete_from_versioned,
        optimize_partitions,
        sync_versioned,
        update_versioned,
    )
    from datalake2anomali_spark.io.transaction import Transaction

    if verb == "merge":
        src = spark.createDataFrame(
            [(11, 1111, "p3"), (100, 1000, "p3")], "id long, v long, p string"
        )
        return merge_into_versioned(spark, root, src, ["id"], "p")
    if verb == "sync":
        src = (
            read_snapshot(spark, root, "p")
            .filter((F.col("p") == "p3") & (F.col("id") != 15))
            .withColumn(
                "v", F.when(F.col("id") == 19, F.lit(1919)).otherwise(F.col("v"))
            )
        )
        return sync_versioned(
            spark, root, src, ["id"], "p", delete_condition=F.col("p") == "p3"
        )
    if verb == "cdc":
        changes = spark.createDataFrame(
            [(11, 1111, "p3", "upsert"), (15, None, "p3", "delete")],
            "id long, v long, p string, _op string",
        )
        return cdc_apply_versioned(spark, root, changes, ["id"], "p")
    if verb == "delete":
        return delete_from_versioned(spark, root, "p", F.col("id") == 15)
    if verb == "update":
        return update_versioned(
            spark, root, "p", F.col("id") == 11, {"v": F.lit(1111)}
        )
    if verb == "txn":
        return (
            Transaction(spark, root, "p")
            .update(F.col("id") == 11, {"v": F.lit(1111)})
            .delete(F.col("id") == 15)
            .commit()
        )
    assert verb == "optimize"
    v, chosen = optimize_partitions(spark, root, "p", "id", min_files=3)
    assert chosen == ["p3"]
    return v


#: verb -> (upserted {id: v}, deleted ids); every touched id lives in p3.
_KERNEL_MODEL = {
    "merge": ({11: 1111, 100: 1000}, set()),
    "sync": ({19: 1919}, {15}),
    "cdc": ({11: 1111}, {15}),
    "delete": ({}, {15}),
    "update": ({11: 1111}, set()),
    "txn": ({11: 1111}, {15}),
    "optimize": ({}, set()),
}


@pytest.fixture(scope="module")
def kernel_base(spark, tmp_path_factory):
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        update_versioned,
    )

    root = str(tmp_path_factory.mktemp("kernel") / "base")
    # one write task per range slice: ids 40-43 (all p3) land in two more
    # files (equal single-slice children would be zipped into one task)
    ids = spark.range(0, 40, 1, 1).union(spark.range(40, 44, 1, 2))
    df = ids.select(
        "id",
        (F.col("id") * 10).alias("v"),
        F.when(F.col("id") >= 40, F.lit("p3"))
        .otherwise(F.concat(F.lit("p"), (F.col("id") % 4).cast("string")))
        .alias("p"),
    )
    init_table(spark, df, root, "p", stats_cols=["v"], bloom_cols=["id"])
    delete_from_versioned(
        spark, root, "p", F.col("id").isin(1, 3),
        mode="merge_on_read", key_cols=["id"],
    )
    update_versioned(
        spark, root, "p", F.col("id").isin(5, 7), {"v": F.col("v") + 1},
        mode="merge_on_read", key_cols=["id"],
    )
    m = read_manifest(root)
    assert set(m["dv"]["files"]) == set(m["appends"]) == {"p1", "p3"}
    p3_dir = os.path.join(version_dir(root, 1), "p=p3")
    assert sum(f.endswith(".parquet") for f in os.listdir(p3_dir)) == 3
    return root


def _rows(spark, root):
    return sorted(
        (r["id"], r["v"], r["p"])
        for r in read_snapshot(spark, root, "p").collect()
    )


@pytest.mark.parametrize("verb", sorted(_KERNEL_MODEL))
def test_rewrite_kernel_contract(spark, kernel_base, tmp_path, verb):
    """The commit contract every copy-on-write verb shares: metadata keys
    stay within the live partitions, the rewritten partition takes the new
    version and sheds its vectors and appends, untouched partitions keep
    theirs, and the snapshot matches a model of the verb."""
    import shutil

    root = str(tmp_path / "t")
    shutil.copytree(kernel_base, root)
    before = read_manifest(root)
    upserts, deletes = _KERNEL_MODEL[verb]
    model = {i: (v, p) for i, v, p in _rows(spark, root) if i not in deletes}
    model.update({i: (v, "p3") for i, v in upserts.items()})

    nv = _kernel_verb(spark, root, verb)

    m = read_manifest(root)
    assert m["version"] == nv > before["version"]
    for key in ("rows", "stats", "bloom"):
        assert set(m[key]) <= set(m["partitions"]), key
    assert m["partitions"]["p3"] == nv
    assert "p3" not in m.get("dv", {}).get("files", {})
    assert "p3" not in m.get("dv", {}).get("deleted", {})
    assert "p3" not in m.get("appends", {})
    for p in ("p0", "p1", "p2"):
        assert m["partitions"][p] == before["partitions"][p], p
        assert m["rows"][p] == before["rows"][p], p
        assert m["stats"][p] == before["stats"][p], p
        assert m["bloom"][p] == before["bloom"][p], p
    assert m["dv"]["files"]["p1"] == before["dv"]["files"]["p1"]
    assert m["dv"]["deleted"]["p1"] == before["dv"]["deleted"]["p1"]
    assert m["appends"]["p1"] == before["appends"]["p1"]

    got = _rows(spark, root)
    assert got == sorted((i, v, p) for i, (v, p) in model.items())
    # the rewritten partition's metadata describes exactly its new rows
    p3 = [v for _i, v, p in got if p == "p3"]
    assert m["rows"]["p3"] == len(p3)
    assert m["stats"]["p3"]["v"] == [min(p3), max(p3)]


@pytest.mark.parametrize("verb", sorted(_KERNEL_MODEL))
def test_rewrite_kernel_constraint_leaves_no_claim(
    spark, kernel_base, tmp_path, verb
):
    """A rewrite that fails a CHECK constraint is refused before any
    version is claimed: no ``_v{N}`` directory, no ``_CLAIM`` marker.
    The constraint is recorded straight into the manifest — no public
    call adds one to a table whose rows already fail it, and DELETE and
    OPTIMIZE can only ever write rows that already exist."""
    import json
    import shutil

    from datalake2anomali_spark.io.publish import (
        MANIFEST,
        ConstraintViolationError,
    )

    root = str(tmp_path / "t")
    shutil.copytree(kernel_base, root)
    m = read_manifest(root)
    m["constraints"] = {"p3_frozen": "p <> 'p3'"}
    with open(os.path.join(root, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(m, fh)
    listing = sorted(os.listdir(root))

    with pytest.raises(ConstraintViolationError, match="p3_frozen"):
        _kernel_verb(spark, root, verb)
    assert sorted(os.listdir(root)) == listing
    assert read_manifest(root)["version"] == m["version"]


# -- the shared merge-on-read kernel ------------------------------------------
#
# Both merge-on-read verbs commit through publish._commit_vectors, on the
# same table as the copy-on-write kernel above: each deletes (or replaces)
# one p3 row by vector; no partition rewrites.

#: verb -> (upserted {id: v}, deleted ids); every touched id lives in p3.
_VECTOR_MODEL = {"delete_mor": ({}, {15}), "update_mor": ({11: 1111}, set())}


def _vector_verb(spark, root, verb):
    """Run merge-on-read ``verb`` against p3; return the published version."""
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        update_versioned,
    )

    if verb == "delete_mor":
        return delete_from_versioned(
            spark, root, "p", F.col("id") == 15,
            mode="merge_on_read", key_cols=["id"],
        )
    assert verb == "update_mor"
    return update_versioned(
        spark, root, "p", F.col("id") == 11, {"v": F.lit(1111)},
        mode="merge_on_read", key_cols=["id"],
    )


@pytest.mark.parametrize("verb", sorted(_VECTOR_MODEL))
def test_vector_kernel_contract(spark, kernel_base, tmp_path, verb):
    """The commit contract both merge-on-read verbs share: no partition
    changes its version, p3 gains one vector file covering the matched
    row (and, for UPDATE, one append-delta with rows, zone map and bloom
    widened over it), p0-p2 keep their metadata, and the snapshot and its
    metadata-only count match a model of the verb."""
    import shutil

    from datalake2anomali_spark.io.publish import snapshot_rowcount

    root = str(tmp_path / "t")
    shutil.copytree(kernel_base, root)
    before = read_manifest(root)
    upserts, deletes = _VECTOR_MODEL[verb]
    model = {i: (v, p) for i, v, p in _rows(spark, root) if i not in deletes}
    model.update({i: (v, "p3") for i, v in upserts.items()})

    nv = _vector_verb(spark, root, verb)

    m = read_manifest(root)
    assert m["version"] == nv > before["version"]
    assert m["partitions"] == before["partitions"]
    assert m["dv"]["files"]["p3"] == before["dv"]["files"]["p3"] + [nv]
    assert m["dv"]["deleted"]["p3"] == before["dv"]["deleted"]["p3"] + 1
    if verb == "update_mor":
        assert m["appends"]["p3"] == before["appends"]["p3"] + [nv]
        assert m["rows"]["p3"] == before["rows"]["p3"] + 1
        lo, hi = before["stats"]["p3"]["v"]
        assert m["stats"]["p3"]["v"] == [min(lo, 1111), max(hi, 1111)]
    else:
        assert m["appends"]["p3"] == before["appends"]["p3"]
        assert m["rows"]["p3"] == before["rows"]["p3"]
        assert m["stats"]["p3"] == before["stats"]["p3"]
    # the replacement keeps its key, so its bloom bits were already set
    assert m["bloom"]["p3"] == before["bloom"]["p3"]
    for p in ("p0", "p1", "p2"):
        assert m["rows"][p] == before["rows"][p], p
        assert m["stats"][p] == before["stats"][p], p
        assert m["bloom"][p] == before["bloom"][p], p
    assert m["dv"]["files"]["p1"] == before["dv"]["files"]["p1"]
    assert m["dv"]["deleted"]["p1"] == before["dv"]["deleted"]["p1"]
    assert m["appends"]["p1"] == before["appends"]["p1"]

    got = _rows(spark, root)
    assert got == sorted((i, v, p) for i, (v, p) in model.items())
    assert snapshot_rowcount(root) == len(got)


def test_vector_kernel_constraint_leaves_no_claim(spark, kernel_base, tmp_path):
    """A merge-on-read UPDATE whose replacement rows fail a CHECK
    constraint is refused before any version is claimed: no ``_v{N}``
    directory, no ``_CLAIM`` marker (the constraint is recorded straight
    into the manifest, as in the copy-on-write case above)."""
    import json
    import shutil

    from datalake2anomali_spark.io.publish import (
        MANIFEST,
        ConstraintViolationError,
    )

    root = str(tmp_path / "t")
    shutil.copytree(kernel_base, root)
    m = read_manifest(root)
    m["constraints"] = {"p3_frozen": "p <> 'p3'"}
    with open(os.path.join(root, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(m, fh)
    listing = sorted(os.listdir(root))

    with pytest.raises(ConstraintViolationError, match="p3_frozen"):
        _vector_verb(spark, root, "update_mor")
    assert sorted(os.listdir(root)) == listing
    assert read_manifest(root)["version"] == m["version"]


def test_optimize_drops_fully_vector_deleted_partition(spark, tmp_path):
    """A fragmented partition whose every row is vector-deleted rewrites
    to nothing: partial OPTIMIZE drops it (the shared ownership rule for
    an emptied partition) instead of failing to infer a schema from its
    empty version directory."""
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        optimize_partitions,
        snapshot_rowcount,
    )

    root = str(tmp_path / "t")
    # p="b" (ids 8-11) spans two write tasks, so it counts as fragmented
    ids = spark.range(0, 8, 1, 1).union(spark.range(8, 12, 1, 2))
    df = ids.select(
        "id", F.when(F.col("id") >= 8, "b").otherwise("a").alias("p")
    )
    init_table(spark, df, root, "p")
    delete_from_versioned(
        spark, root, "p", F.col("p") == "b",
        mode="merge_on_read", key_cols=["id"],
    )
    v, chosen = optimize_partitions(spark, root, "p", "id", min_files=2)
    assert chosen == ["b"]
    m = read_manifest(root)
    assert m["version"] == v
    assert m["partitions"] == {"a": 1} and m["rows"] == {"a": 8}
    assert "dv" not in m
    assert snapshot_rowcount(root) == 8
    assert read_snapshot(spark, root, "p").count() == 8


# -- planning and post-write metadata without metadata jobs ------------------


class _JobCount:
    """Spark jobs this thread launches inside the block, counted through a
    job group (a thread-local property, so the calling thread's jobs)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = None

    def __enter__(self):
        import uuid

        self.gid = f"t-{uuid.uuid4().hex}"
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.jobs = len(self.sc.statusTracker().getJobIdsForGroup(self.gid))


@pytest.fixture(scope="module")
def wide_table(spark, tmp_path_factory):
    """48 string partitions with zone maps and a bloom column; versions
    2 and 3 each rewrite one partition, 4 adds a MoR vector on p05 and 5
    a MoR append on p07 — five live versions in all."""
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        update_versioned,
    )

    root = str(tmp_path_factory.mktemp("wide") / "t")
    df = spark.range(0, 480, 1, 4).select(
        "id",
        (F.col("id") * 3).alias("v"),
        F.format_string("p%02d", F.col("id") % 48).alias("p"),
    )
    init_table(spark, df, root, "p", stats_cols=["v"], bloom_cols=["id"])
    for pid in (1, 2):
        src = spark.createDataFrame(
            [(pid, 1000 + pid, f"p{pid:02d}")], "id long, v long, p string"
        )
        merge_into_versioned(spark, root, src, ["id"], "p")
    delete_from_versioned(
        spark, root, "p", F.col("id") == 5,
        mode="merge_on_read", key_cols=["id"],
    )
    update_versioned(
        spark, root, "p", F.col("id") == 7, {"v": F.lit(-7)},
        mode="merge_on_read", key_cols=["id"],
    )
    model = {i: (i * 3, f"p{i % 48:02d}") for i in range(480) if i != 5}
    model.update({1: (1001, "p01"), 2: (1002, "p02"), 7: (-7, "p07")})
    return root, model


def _id_v_p(df):
    return sorted((r["id"], r["v"], r["p"]) for r in df.collect())


def test_read_snapshot_plans_without_spark_jobs(spark, wide_table, tmp_path):
    """Building a snapshot read launches no Spark job: the partition
    directories list on the driver and every piece reads under the
    schema its commit recorded, so no listing or footer-inference job
    runs before the first data job.  A shallow clone's pieces live under
    the source root, which also holds the history that records them."""
    from datalake2anomali_spark.io.publish import clone_table

    root, model = wide_table
    m = read_manifest(root)
    assert len(m["partitions"]) >= 40
    assert len(set(m["partitions"].values())) >= 3
    assert m["dv"]["files"] and m["appends"]
    clone = str(tmp_path / "clone")
    clone_table(root, clone)
    with _JobCount(spark) as jc:
        full = read_snapshot(spark, root, "p")
        point = read_snapshot(spark, root, "p", eq_predicate=("id", 7))
        zone = read_snapshot(spark, root, "p", predicate=("v", 0, 30))
        asof = read_snapshot(spark, root, "p", version=2)
        cloned = read_snapshot(spark, clone, "p")
    assert jc.jobs == 0
    want = sorted((i, v, p) for i, (v, p) in model.items())
    assert _id_v_p(full) == want
    assert _id_v_p(cloned) == want
    assert _id_v_p(point) == [(7, -7, "p07")]
    assert _id_v_p(zone) == [r for r in want if 0 <= r[1] <= 30]
    assert len(asof.collect()) == 480


def test_narrow_merge_runs_one_post_write_aggregate(
    spark, wide_table, tmp_path, monkeypatch
):
    """A one-partition MERGE into a table with zone maps and blooms
    computes rows, min/max and bloom bitmaps in one aggregate: its
    shuffle stage and result stage are the only jobs after the write."""
    import shutil

    from datalake2anomali_spark.io import publish

    root = str(tmp_path / "t")
    shutil.copytree(wide_table[0], root)
    real = publish._written_metadata
    calls = []

    def counted(*args, **kwargs):
        with _JobCount(spark) as jc:
            out = real(*args, **kwargs)
        calls.append(jc.jobs)
        return out

    monkeypatch.setattr(publish, "_written_metadata", counted)
    src = spark.createDataFrame([(9, 99, "p09")], "id long, v long, p string")
    v = merge_into_versioned(spark, root, src, ["id"], "p")
    assert len(calls) == 1 and 1 <= calls[0] <= 2, calls
    m = read_manifest(root)
    assert m["partitions"]["p09"] == v and m["rows"]["p09"] == 10
    assert m["stats"]["p09"]["v"] == [99, 1323]


def _model_bloom_hex(values, m, k):
    from datalake2anomali_spark.io.publish import bloom_probe_positions

    bits = 0
    for x in values:
        for pos in bloom_probe_positions(x, m, k):
            bits |= 1 << pos
    return format(bits, "x")


def _model_range(values):
    import math

    vals = [x for x in values if x is not None]
    if not vals:
        return [None, None]
    nums = [x for x in vals if not (isinstance(x, float) and math.isnan(x))]
    # Spark orders NaN above every other double
    hi = float("nan") if len(nums) < len(vals) else max(nums)
    return [min(nums) if nums else float("nan"), hi]


def _same(a, b):
    import math

    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


def test_one_pass_metadata_matches_pandas_model(spark, tmp_path):
    """Rows, zone maps and bloom bitmaps of the one-pass aggregate equal
    a pandas model built with ``bloom_probe_positions``: a partition whose
    bloom column is all NULL has no entry for it, an all-NULL stats column
    ranges [None, None], a NaN double tops the max, and a merge-on-read
    append widens the ranges and ORs its bits in.  The footer fast path
    (no bloom columns) gives the same rows and zone maps."""
    import pandas as pd

    from datalake2anomali_spark.io.publish import update_versioned

    nan = float("nan")
    rows = [
        (
            i,
            None if i % 3 == 1 else i % 7,  # all NULL in p='b'
            nan if i == 20 else i / 4,  # one NaN in p='c'
            None if i % 3 == 0 else i,  # all NULL in p='a'
            "abc"[i % 3],
        )
        for i in range(30)
    ]
    cols = ["id", "tag", "x", "n", "p"]
    df = spark.createDataFrame(rows, "id long, tag long, x double, n long, p string")
    root = str(tmp_path / "t")
    init_table(
        spark, df, root, "p", stats_cols=["x", "n"], bloom_cols=["id", "tag"]
    )
    m = read_manifest(root)
    geo = (m["bloom_geometry"]["m"], m["bloom_geometry"]["k"])
    assert geo == (1024, 3)

    def check(manifest, model):
        assert manifest["rows"] == model.groupby("p").size().to_dict()
        for p, g in model.groupby("p"):
            for c in ("x", "n"):
                got = manifest["stats"][p][c]
                want = _model_range(list(g[c]))
                assert all(map(_same, got, want)), (p, c, got, want)
            want_b = {
                c: _model_bloom_hex([x for x in g[c] if x is not None], *geo)
                for c in ("id", "tag")
                if any(x is not None for x in g[c])
            }
            assert manifest.get("bloom", {p: want_b})[p] == want_b, p

    model = pd.DataFrame(rows, columns=cols, dtype=object)
    check(m, model)
    # without bloom columns the parquet footers answer; they must agree,
    # the NaN chunk included (its recorded NaN max hides the real 7.25)
    init_table(spark, df, str(tmp_path / "footer"), "p", stats_cols=["x", "n"])
    check(read_manifest(str(tmp_path / "footer")), model)
    assert "tag" not in m["bloom"]["b"]
    assert m["stats"]["a"]["n"] == [None, None]
    assert m["stats"]["c"]["x"][1] != m["stats"]["c"]["x"][1]  # NaN

    # MoR UPDATE of id 3 (p='a'): the append's x widens a's range and its
    # tag's bits OR into a's filter
    update_versioned(
        spark, root, "p", F.col("id") == 3, {"x": F.lit(99.5), "tag": F.lit(123)},
        mode="merge_on_read", key_cols=["id"],
    )
    m2 = read_manifest(root)
    assert m2["stats"]["a"]["x"] == [0.0, 99.5]
    assert m2["stats"]["a"]["n"] == [None, None]
    a_tags = [t for i, t, _x, _n, p in rows if p == "a"] + [123]
    assert m2["bloom"]["a"]["tag"] == _model_bloom_hex(a_tags, *geo)
    assert m2["bloom"]["a"]["id"] == m["bloom"]["a"]["id"]
    assert {p: m2[k][p] for k in ("stats", "bloom") for p in "bc"} == {
        p: m[k][p] for k in ("stats", "bloom") for p in "bc"
    }


def test_vacuumed_history_piece_reads_through_inference(spark, wide_table, tmp_path):
    """A live piece whose history file vacuum removed reads identical
    rows through schema inference."""
    import shutil

    root = str(tmp_path / "t")
    shutil.copytree(wide_table[0], root)
    before = _id_v_p(read_snapshot(spark, root, "p"))
    vacuum(root, retain_last=1)
    live = {int(v) for v in read_manifest(root)["partitions"].values()}
    gone = [v for v in live if not os.path.exists(
        os.path.join(root, f"_MANIFEST.v{v}.json")
    )]
    assert gone  # the v1 and v2 pieces lost their history files
    assert _id_v_p(read_snapshot(spark, root, "p")) == before


def test_unparsable_history_schema_reads_through_inference(
    spark, wide_table, tmp_path
):
    """A piece whose recorded schema does not parse as DDL reads identical
    rows through schema inference."""
    import json
    import shutil

    root = str(tmp_path / "t")
    shutil.copytree(wide_table[0], root)
    before = _id_v_p(read_snapshot(spark, root, "p"))
    hist = os.path.join(root, "_MANIFEST.v1.json")
    with open(hist, encoding="utf-8") as fh:
        rec = json.load(fh)
    rec["schema"] = [[n, "no such type!"] for n, _t in rec["schema"]]
    with open(hist, "w", encoding="utf-8") as fh:
        json.dump(rec, fh)
    assert _id_v_p(read_snapshot(spark, root, "p")) == before


@pytest.mark.parametrize("schema", [[], None])
def test_empty_or_missing_history_schema_reads_through_inference(
    spark, wide_table, tmp_path, schema
):
    """A history record whose schema is empty or absent is no record: its
    pieces (the v5 append-delta included) read identical rows through
    schema inference, not as pieces with no data columns."""
    import json
    import shutil

    root = str(tmp_path / "t")
    shutil.copytree(wide_table[0], root)
    before = _id_v_p(read_snapshot(spark, root, "p"))
    for v in (1, 5):
        hist = os.path.join(root, f"_MANIFEST.v{v}.json")
        with open(hist, encoding="utf-8") as fh:
            rec = json.load(fh)
        rec["schema"] = schema
        with open(hist, "w", encoding="utf-8") as fh:
            json.dump(rec, fh)
    assert _id_v_p(read_snapshot(spark, root, "p")) == before


def test_shallow_clone_fallback_piece_reads_identical_rows(
    spark, wide_table, tmp_path
):
    """A shallow clone's pieces under its fallback root read through
    schema inference; the clone reads what its source reads, before and
    after a local commit of its own."""
    from datalake2anomali_spark.io.publish import clone_table

    src, model = wide_table
    dst = str(tmp_path / "clone")
    clone_table(src, dst)
    want = _id_v_p(read_snapshot(spark, src, "p"))
    assert _id_v_p(read_snapshot(spark, dst, "p")) == want
    one = spark.createDataFrame([(11, 5, "p11")], "id long, v long, p string")
    merge_into_versioned(spark, dst, one, ["id"], "p")
    want = sorted(r if r[0] != 11 else (11, 5, "p11") for r in want)
    assert _id_v_p(read_snapshot(spark, dst, "p")) == want


def test_legacy_manifest_keys_read_and_rewrite_canonically(spark, tmp_path):
    """A manifest written before partition keys took Spark's rendering
    keys a boolean partition ``'True'`` where the hive directory and
    every later commit say ``'true'``.  Its rows still read (deletion
    vector applied), and a rewrite of that partition keeps them and
    replaces the legacy entry — partition, rows and zone map — instead of
    keeping the old key next to the new one."""
    import json

    from datalake2anomali_spark.io.publish import MANIFEST, delete_from_versioned

    root = str(tmp_path / "t")
    df = spark.range(0, 8).select("id", (F.col("id") % 2 == 0).alias("flag"))
    init_table(spark, df, root, "flag", stats_cols=["id"])
    delete_from_versioned(
        spark, root, "flag", F.col("id") == 1, mode="merge_on_read", key_cols=["id"]
    )
    m = read_manifest(root)
    assert set(m["partitions"]) == {"true", "false"}
    legacy = {"true": "True", "false": "False"}
    for d in (m, m["dv"]):
        for key in ("partitions", "rows", "stats", "files", "deleted"):
            if key in d:
                d[key] = {legacy[p]: x for p, x in d[key].items()}
    with open(os.path.join(root, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(m, fh)

    def ids(**kw):
        return sorted(r.id for r in read_snapshot(spark, root, "flag", **kw).collect())

    assert ids() == [0, *range(2, 8)]
    assert ids(predicate=("id", 1, 5)) == [2, 3, 4, 5]

    src = spark.createDataFrame([(100, True)], "id long, flag boolean")
    v = merge_into_versioned(spark, root, src, ["id"], "flag")
    assert ids() == [0, *range(2, 8), 100]
    m2 = read_manifest(root)
    assert m2["partitions"] == {"true": v, "false": 1}
    assert m2["rows"] == {"true": 5, "false": 4}
    assert set(m2["stats"]) == {"true", "false"}
    assert m2["dv"]["files"] == {"false": [2]}
    assert m2["dv"]["deleted"] == {"false": 1}


_PARTITION_VALUES = {
    "string": [
        "007", "08", "1e3", "0.50", "2024-01-05",
        "a:b", "x/y", "5%", "k=v", "s p", "é",
    ],
    "date": [
        datetime.date(2024, 1, 5),
        datetime.date(1999, 12, 31),
        datetime.date(2024, 2, 29),
    ],
    "timestamp": [
        datetime.datetime(2024, 1, 5, 10, 0, 0),
        datetime.datetime(2024, 1, 5, 10, 0, 0, 500000),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
    ],
    "boolean": [True, False],
    "double": [0.5, 1000.0, 1e10, -2.25],
}


@pytest.mark.parametrize("ddl", sorted(_PARTITION_VALUES))
def test_partition_values_round_trip_through_every_dml_verb(spark, tmp_path, ddl):
    """A partition value reads back as written, and its manifest key is its
    own string rendering, after a create, a narrow MERGE, a copy-on-write
    UPDATE and DELETE, and a merge-on-read DELETE and UPDATE: the column is
    typed as the manifest records it, never re-inferred from a directory
    (a STRING '007' written alone would infer INT and read back '7')."""
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        update_versioned,
    )

    vals = _PARTITION_VALUES[ddl]
    n = len(vals)
    root = str(tmp_path / "t")
    model = {10 * i + j: (j, vals[i]) for i in range(n) for j in range(3)}
    keys = {
        r.raw: r.key
        for r in spark.createDataFrame([(x,) for x in vals], f"raw {ddl}")
        .select("raw", F.col("raw").cast("string").alias("key"))
        .collect()
    }

    def check():
        m = read_manifest(root)
        live = {p for _v, p in model.values()}
        assert set(m["partitions"]) == {keys[p] for p in live}
        assert set(m["rows"]) == set(m["partitions"])
        snap = read_snapshot(spark, root, "p")
        assert dict(snap.dtypes)["p"] == ddl
        got = sorted((r.id, r.v, r.p) for r in snap.collect())
        assert got == sorted((i, v, p) for i, (v, p) in model.items())

    init_table(
        spark,
        spark.createDataFrame(
            [(i, v, p) for i, (v, p) in model.items()], f"id long, v long, p {ddl}"
        ),
        root,
        "p",
    )
    check()
    src = spark.createDataFrame(
        [(0, 50, vals[0]), (999, 51, vals[0])], f"id long, v long, p {ddl}"
    )
    merge_into_versioned(spark, root, src, ["id"], "p")
    model.update({0: (50, vals[0]), 999: (51, vals[0])})
    check()
    uid = 10 * (1 % n) + 1
    update_versioned(spark, root, "p", F.col("id") == uid, {"v": F.lit(-1)})
    model[uid] = (-1, model[uid][1])
    check()
    did = 10 * (2 % n) + 2
    delete_from_versioned(spark, root, "p", F.col("id") == did)
    del model[did]
    check()
    mid = 10 * (3 % n)
    delete_from_versioned(
        spark, root, "p", F.col("id") == mid, mode="merge_on_read", key_cols=["id"]
    )
    del model[mid]
    check()
    aid = 10 * (4 % n) + 1
    update_versioned(
        spark, root, "p", F.col("id") == aid, {"v": F.lit(-2)},
        mode="merge_on_read", key_cols=["id"],
    )
    model[aid] = (-2, model[aid][1])
    check()


def test_snapshot_reads_live_directories_as_one_scan(spark, tmp_path):
    """Five live versions read as one data scan (plus one per live
    deletion-vector version) whose files are exactly the live ones: no
    superseded file of an older version is listed, and no live partition
    directory is dropped."""
    from urllib.parse import unquote, urlparse

    from datalake2anomali_spark.io.publish import _dv_versions, delete_from_versioned

    root = str(tmp_path / "t")
    df = spark.range(0, 60, 1, 2).select(
        "id",
        (F.col("id") * 2).alias("v"),
        F.format_string("p%02d", F.col("id") % 12).alias("p"),
    )
    init_table(spark, df, root, "p")
    for pid in (1, 2, 3, 4):
        src = spark.createDataFrame(
            [(pid, -pid, f"p{pid:02d}")], "id long, v long, p string"
        )
        merge_into_versioned(spark, root, src, ["id"], "p")
    delete_from_versioned(
        spark, root, "p", F.col("id") == 5, mode="merge_on_read", key_cols=["id"]
    )
    m = read_manifest(root)
    assert len(set(m["partitions"].values())) == 5 and not m.get("appends")
    dv_versions = set(_dv_versions(m))
    snap = read_snapshot(spark, root, "p")
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1 + len(dv_versions), plan

    def parquet_files(d):
        return {os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")}

    live = set()
    for p, v in m["partitions"].items():
        live |= parquet_files(os.path.join(version_dir(root, v), f"p={p}"))
    for dvv in dv_versions:
        live |= parquet_files(os.path.join(version_dir(root, dvv), "_dv"))
    assert {unquote(urlparse(u).path) for u in snap.inputFiles()} == live
    assert sorted(r.id for r in snap.collect()) == [i for i in range(60) if i != 5]


def test_keys_naming_no_directory_read_through_inference(spark, tmp_path):
    """Older code keyed a STRING partition by its inferred rendering ('007'
    rewritten alone keyed '7'), so the key names no directory.  Such a key
    reads its version through partition inference, as it always did:
    every row is still read."""
    import json

    from datalake2anomali_spark.io.publish import MANIFEST

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "007"), (2, "abc"), (3, "08")], "id long, p string"
    )
    init_table(spark, df, root, "p")
    src = spark.createDataFrame([(4, "007")], "id long, p string")
    v = merge_into_versioned(spark, root, src, ["id"], "p")
    path = os.path.join(root, MANIFEST)
    with open(path, encoding="utf-8") as fh:
        m = json.load(fh)
    (old,) = [p for p, pv in m["partitions"].items() if pv == v]
    for key in ("partitions", "rows"):
        m[key]["7"] = m[key].pop(old)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(m, fh)
    got = sorted((r.id, r.p) for r in read_snapshot(spark, root, "p").collect())
    assert got == [(1, "7"), (2, "abc"), (3, "08"), (4, "7")]


def test_pieces_read_alone_keep_their_partition_values(spark, tmp_path):
    """Pieces outside the shared scan — renamed or added over, under a
    shallow clone's fallback root, or without a history record — still
    read the partition column typed: values that would infer as numbers
    ('007', '08') are neither re-keyed nor dropped."""
    from datalake2anomali_spark.io.publish import alter_table_columns, clone_table

    root, dst = str(tmp_path / "t"), str(tmp_path / "clone")
    df = spark.createDataFrame([(1, "007"), (2, "08")], "id long, p string")
    init_table(spark, df, root, "p")
    want = [(1, "007"), (2, "08")]

    def rows(at):
        return sorted((r.id, r.p) for r in read_snapshot(spark, at, "p").collect())

    alter_table_columns(root, add=[("x", "int")])
    assert rows(root) == want
    clone_table(root, dst)
    assert rows(dst) == want
    os.remove(os.path.join(root, "_MANIFEST.v1.json"))
    assert rows(root) == want
