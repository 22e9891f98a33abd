"""Multi-table catalog (io/catalog.py): consistent cross-table reads,
atomic two-table publish, catalog time travel, conflict detection, and
transaction lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake2anomali_spark.io.catalog import (
    CatalogTransaction,
    MultiTableTransaction,
    catalog_manifest,
    catalog_read,
    catalog_register,
    create_catalog,
)
from datalake2anomali_spark.io.publish import (
    ConcurrentWriteError,
    init_table,
    merge_into_versioned,
    read_snapshot,
)
from datalake2anomali_spark.io.tables import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )


def _totals_of(df):
    return (
        df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v_sum"))
        .withColumn("bucket", F.pmod("user_id", F.lit(8)).cast("string"))
    )


def _rows(df):
    return sorted(
        (r["user_id"], r["n"], round(r["v_sum"] or 0.0, 6))
        for r in df.select("user_id", "n", "v_sum").collect()
    )


def _setup(spark, sf_dir, tmp_path):
    a_root = str(tmp_path / "events")
    b_root = str(tmp_path / "totals")
    croot = str(tmp_path / "cat")
    e = _events(spark, sf_dir)
    init_table(spark, e, a_root, "event_date")
    init_table(spark, _totals_of(e), b_root, "bucket")
    create_catalog(croot)
    catalog_register(croot, "events", a_root)
    catalog_register(croot, "user_totals", b_root)
    return a_root, b_root, croot, e


def _invariant_holds(spark, croot, catalog_version=None):
    a = catalog_read(spark, croot, "events", "event_date", catalog_version)
    b = catalog_read(spark, croot, "user_totals", "bucket", catalog_version)
    return _rows(_totals_of(a)) == _rows(b)


def test_catalog_atomic_cross_table_commit(spark, sf_dir, tmp_path):
    """The A-rollup == B invariant holds at EVERY catalog snapshot: after
    A's table-level write but before the catalog commit the catalog view
    stays (old, old); the one pointer swap flips to (new, new); the old
    catalog version remains time-travel-readable and consistent."""
    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)
    assert _invariant_holds(spark, croot)
    cat_v0 = catalog_manifest(croot)["version"]

    syn = (
        e.limit(500)
        .withColumn("event_id", F.col("event_id") + 90_000_000)
        .withColumn("user_id", F.lit(888_888_888))
        .withColumn("event_date", F.lit("2041-06-01"))
    )
    ctx = CatalogTransaction(croot)
    v_a = merge_into_versioned(
        spark, ctx.root("events"), syn, ["event_id"], "event_date"
    )
    ctx.advance("events", v_a)
    # A's TABLE pointer already shows the new rows ...
    assert (
        read_snapshot(spark, a_root, "event_date")
        .filter(F.col("user_id") == 888_888_888)
        .count()
        == 500
    )
    # ... but the CATALOG view is still the consistent old pair
    assert (
        catalog_read(spark, croot, "events", "event_date")
        .filter(F.col("user_id") == 888_888_888)
        .count()
        == 0
    )
    assert _invariant_holds(spark, croot)

    new_b = _totals_of(read_snapshot(spark, a_root, "event_date")).filter(
        F.col("user_id") == 888_888_888
    )
    v_b = merge_into_versioned(
        spark, ctx.root("user_totals"), new_b, ["user_id"], "bucket"
    )
    ctx.advance("user_totals", v_b)
    assert _invariant_holds(spark, croot)  # still pre-publish
    cat_v1 = ctx.commit()
    assert cat_v1 == cat_v0 + 1

    # post-publish: both new, still consistent; old catalog still readable
    assert (
        catalog_read(spark, croot, "events", "event_date")
        .filter(F.col("user_id") == 888_888_888)
        .count()
        == 500
    )
    assert _invariant_holds(spark, croot)
    assert _invariant_holds(spark, croot, catalog_version=cat_v0)
    assert (
        catalog_read(
            spark, croot, "events", "event_date", catalog_version=cat_v0
        )
        .filter(F.col("user_id") == 888_888_888)
        .count()
        == 0
    )


def test_catalog_conflict_and_lifecycle(spark, sf_dir, tmp_path):
    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)

    with pytest.raises(FileExistsError):
        create_catalog(croot)
    with pytest.raises(KeyError, match="no table"):
        catalog_read(spark, croot, "nope", "x")

    # concurrent catalog move between begin and commit -> refused
    ctx = CatalogTransaction(croot)
    ctx.advance("events", 1)
    catalog_register(croot, "events_again", a_root)
    with pytest.raises(ConcurrentWriteError, match="catalog"):
        ctx.commit()
    with pytest.raises(RuntimeError, match="already committed"):
        ctx.commit()

    # empty commit publishes nothing; rollback closes
    v = catalog_manifest(croot)["version"]
    assert CatalogTransaction(croot).commit() == v
    rb = CatalogTransaction(croot)
    rb.advance("events", 1)
    rb.rollback()
    with pytest.raises(RuntimeError, match="already committed"):
        rb.advance("events", 1)
    assert catalog_manifest(croot)["version"] == v

    with pytest.raises(KeyError, match="no table"):
        CatalogTransaction(croot).advance("missing", 1)


def test_catalog_pins_protect_member_vacuum(spark, sf_dir, tmp_path):
    """A member table's own retention window must not reclaim a snapshot
    the catalog still serves: vacuum with catalog_pinned_versions keeps
    the pinned snapshot readable; without it, the same vacuum reclaims
    it (the documented retention contract, both directions)."""
    from datalake2anomali_spark.io.catalog import catalog_pinned_versions
    from datalake2anomali_spark.io.publish import (
        delete_from_versioned,
        vacuum,
    )

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)
    pinned_v = catalog_manifest(croot)["tables"]["events"]["version"]

    # advance the table WITHOUT re-pinning the catalog
    delete_from_versioned(
        spark, a_root, "event_date", F.col("event_type") == "error"
    )
    delete_from_versioned(
        spark, a_root, "event_date", F.col("event_type") == "view"
    )

    pins = catalog_pinned_versions(croot, a_root)
    assert pinned_v in pins
    removed = vacuum(
        a_root, retain_last=1, claim_ttl_seconds=0.0, protect_versions=pins
    )
    assert pinned_v not in removed
    # the catalog view still serves the pinned snapshot in full
    snap = catalog_read(spark, croot, "events", "event_date")
    assert snap.filter(F.col("event_type") == "error").count() > 0
    assert snap.count() == e.count()

    # without the pins, the same vacuum reclaims it and the read breaks
    vacuum(a_root, retain_last=1, claim_ttl_seconds=0.0)
    with pytest.raises(Exception):
        catalog_read(spark, croot, "events", "event_date").count()


def test_expire_catalog_versions_bounds_pins(spark, sf_dir, tmp_path):
    """Catalog history expiry: old catalog versions stop being
    time-travel-readable and drop OUT of the pin set, so member vacuums
    regain their retention; the live pointer and the kept window stay."""
    from datalake2anomali_spark.io.catalog import (
        catalog_pinned_versions,
        expire_catalog_versions,
    )

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)
    # several catalog commits re-pinning events at fresh versions
    from datalake2anomali_spark.io.publish import delete_from_versioned

    for t in ("error", "view", "signup"):
        delete_from_versioned(
            spark, a_root, "event_date", F.col("event_type") == t
        )
        catalog_register(croot, "events", a_root)

    pins_before = catalog_pinned_versions(croot, a_root)
    assert len(pins_before) >= 4  # init pin + three re-pins
    removed = expire_catalog_versions(croot, keep_last=1)
    assert removed  # something actually expired
    pins_after = catalog_pinned_versions(croot, a_root)
    assert len(pins_after) < len(pins_before)
    cur = catalog_manifest(croot)
    assert cur["tables"]["events"]["version"] in pins_after  # live pin kept
    with pytest.raises(FileNotFoundError):
        catalog_manifest(croot, removed[0])  # expired: fails fast

    # fail-closed pin collection: a corrupt catalog file raises
    bad = str(tmp_path / "cat" / "_CATALOG.v999.json")
    with open(bad, "w", encoding="utf-8") as fh:
        fh.write("{not json")
    with pytest.raises(RuntimeError, match="refusing to under-protect"):
        catalog_pinned_versions(croot, a_root)


def test_multi_table_txn_atomic_publish(spark, sf_dir, tmp_path):
    """Statements staged on two tables publish in ONE catalog swap:
    nothing moves before commit (table heads included), both pins flip
    together, and the cross-table rollup invariant holds after."""
    from datalake2anomali_spark.io.catalog import MultiTableTransaction
    from datalake2anomali_spark.io.publish import read_manifest

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)
    cat_v0 = catalog_manifest(croot)["version"]
    a_v0 = read_manifest(a_root)["version"]
    b_v0 = read_manifest(b_root)["version"]

    syn = (
        e.limit(300)
        .withColumn("event_id", F.col("event_id") + 91_000_000)
        .withColumn("user_id", F.lit(777_777_777))
        .withColumn("event_date", F.lit("2042-03-01"))
    )
    post = e.withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") * 2).otherwise(
            F.col("value")
        ),
    ).unionByName(syn)

    mtxn = MultiTableTransaction(
        spark, croot, {"events": "event_date", "user_totals": "bucket"}
    )
    mtxn.table("events").update(
        F.col("event_type") == "click", {"value": F.col("value") * 2}
    )
    mtxn.table("events").merge(syn, ["event_id"])
    mtxn.table("user_totals").merge(_totals_of(post), ["user_id"])
    # staging wrote nothing: heads and catalog unchanged
    assert read_manifest(a_root)["version"] == a_v0
    assert read_manifest(b_root)["version"] == b_v0
    assert catalog_manifest(croot)["version"] == cat_v0

    cat_v1 = mtxn.commit()
    assert cat_v1 == cat_v0 + 1
    cat = catalog_manifest(croot)
    assert cat["tables"]["events"]["version"] == read_manifest(a_root)["version"]
    assert (
        cat["tables"]["user_totals"]["version"]
        == read_manifest(b_root)["version"]
    )
    assert _invariant_holds(spark, croot)
    assert (
        catalog_read(spark, croot, "events", "event_date")
        .filter(F.col("user_id") == 777_777_777)
        .count()
        == 300
    )
    # single-shot: reuse fails loudly
    with pytest.raises(RuntimeError, match="already committed"):
        mtxn.commit()


def test_multi_table_txn_constraint_violation_leaves_no_orphans(
    spark, sf_dir, tmp_path
):
    """A CHECK violation in the SECOND member aborts the whole batch
    BEFORE the first member commits: no table head moves, the catalog
    stays at its base version, and the cross-table invariant holds."""
    from datalake2anomali_spark.io.catalog import MultiTableTransaction
    from datalake2anomali_spark.io.publish import (
        ConstraintViolationError,
        read_manifest,
    )

    a_root = str(tmp_path / "events")
    b_root = str(tmp_path / "totals")
    croot = str(tmp_path / "cat")
    e = _events(spark, sf_dir)
    init_table(spark, e, a_root, "event_date")
    init_table(
        spark, _totals_of(e), b_root, "bucket", constraints={"n_pos": "n > 0"}
    )
    create_catalog(croot)
    catalog_register(croot, "events", a_root)
    catalog_register(croot, "user_totals", b_root)
    cat_v0 = catalog_manifest(croot)["version"]
    a_v0 = read_manifest(a_root)["version"]
    b_v0 = read_manifest(b_root)["version"]

    mtxn = MultiTableTransaction(
        spark, croot, {"events": "event_date", "user_totals": "bucket"}
    )
    mtxn.table("events").delete(F.col("event_type") == "error")
    mtxn.table("user_totals").update(
        F.col("n") > 0, {"n": F.lit(-1).cast("long")}
    )
    with pytest.raises(ConstraintViolationError, match="n_pos"):
        mtxn.commit()
    # precheck-before-any-commit: zero orphan table versions
    assert read_manifest(a_root)["version"] == a_v0
    assert read_manifest(b_root)["version"] == b_v0
    assert catalog_manifest(croot)["version"] == cat_v0
    assert _invariant_holds(spark, croot)


def test_multi_table_txn_refuses_stale_pin_and_unknown_table(
    spark, sf_dir, tmp_path
):
    """A member whose head moved past its catalog pin is refused at
    BEGIN (staging against the pin would drop the unpinned commits at
    publish); unknown table names fail loudly; rollback closes every
    member."""
    from datalake2anomali_spark.io.catalog import MultiTableTransaction
    from datalake2anomali_spark.io.publish import alter_table_columns

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)

    with pytest.raises(KeyError, match="no table"):
        MultiTableTransaction(spark, croot, {"missing": "x"})

    mtxn = MultiTableTransaction(spark, croot, {"events": "event_date"})
    with pytest.raises(KeyError, match="does not cover"):
        mtxn.table("user_totals")
    mtxn.table("events").delete(F.col("event_type") == "error")
    mtxn.rollback()
    with pytest.raises(RuntimeError, match="already committed"):
        mtxn.table("events").delete(F.col("event_type") == "view")
    assert catalog_manifest(croot)["version"] == 2  # nothing published

    # two catalog names over ONE physical table: the first member's
    # commit would strand the second mid-batch — refused at BEGIN
    catalog_register(croot, "events_alias", a_root)
    with pytest.raises(ValueError, match="both backed by"):
        MultiTableTransaction(
            spark, croot, {"events": "event_date", "events_alias": "event_date"}
        )

    # advance the totals head OUTSIDE the catalog (metadata-only commit)
    alter_table_columns(b_root, add=[("note", "string")])
    with pytest.raises(ConcurrentWriteError, match="past its catalog pin"):
        MultiTableTransaction(spark, croot, {"user_totals": "bucket"})
    # un-staled members still work
    MultiTableTransaction(spark, croot, {"events": "event_date"})


def test_multi_table_txn_loser_leaves_catalog_consistent(
    spark, sf_dir, tmp_path
):
    """Two multi-table transactions begun against the same pins: the
    first commits fully; the second's member commit hits the table-level
    CAS (its Transaction pinned the pre-winner snapshot), aborts before
    ANY of its writes land, and the catalog stays at the winner's
    consistent state."""
    from datalake2anomali_spark.io.catalog import MultiTableTransaction
    from datalake2anomali_spark.io.publish import read_manifest

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)

    def stage(mtxn, seed):
        syn = (
            e.limit(100)
            .withColumn("event_id", F.col("event_id") + seed)
            .withColumn("user_id", F.lit(seed))
            .withColumn("event_date", F.lit("2043-01-01"))
        )
        mtxn.table("events").merge(syn, ["event_id"])
        post = e.unionByName(syn)
        mtxn.table("user_totals").merge(_totals_of(post), ["user_id"])

    m1 = MultiTableTransaction(
        spark, croot, {"events": "event_date", "user_totals": "bucket"}
    )
    m2 = MultiTableTransaction(
        spark, croot, {"events": "event_date", "user_totals": "bucket"}
    )
    stage(m1, 93_000_000)
    stage(m2, 94_000_000)
    cat_v1 = m1.commit()
    a_v1 = read_manifest(a_root)["version"]
    b_v1 = read_manifest(b_root)["version"]

    with pytest.raises(ConcurrentWriteError):
        m2.commit()
    # the loser left nothing behind: no orphan table commits, catalog at
    # the winner's state, cross-table invariant intact
    assert read_manifest(a_root)["version"] == a_v1
    assert read_manifest(b_root)["version"] == b_v1
    assert catalog_manifest(croot)["version"] == cat_v1
    assert _invariant_holds(spark, croot)
    assert (
        catalog_read(spark, croot, "events", "event_date")
        .filter(F.col("user_id") == 93_000_000)
        .count()
        == 100
    )
    with pytest.raises(RuntimeError, match="already committed"):
        m2.commit()


def test_catalog_transactions_race_exactly_one_wins(spark, sf_dir, tmp_path):
    """Two catalog transactions racing to publish: exactly one commit
    lands, the loser gets ConcurrentWriteError, and the catalog ends at
    the winner's consistent state (never a blend)."""
    import threading

    a_root, b_root, croot, e = _setup(spark, sf_dir, tmp_path)
    base_v = catalog_manifest(croot)["version"]
    results = {}
    barrier = threading.Barrier(2, timeout=120)

    def committer(tag, pin_a, pin_b):
        ctx = CatalogTransaction(croot)
        ctx.advance("events", pin_a).advance("user_totals", pin_b)
        barrier.wait()
        try:
            results[tag] = ("ok", ctx.commit())
        except ConcurrentWriteError:
            results[tag] = ("conflict", None)

    t1 = threading.Thread(target=committer, args=("x", 1, 1))
    t2 = threading.Thread(target=committer, args=("y", 1, 1))
    t1.start(); t2.start(); t1.join(); t2.join()
    outcomes = sorted(kind for kind, _v in results.values())
    assert outcomes == ["conflict", "ok"]
    winner_v = next(v for kind, v in results.values() if kind == "ok")
    cat = catalog_manifest(croot)
    assert cat["version"] == winner_v == base_v + 1
    assert cat["tables"]["events"]["version"] == 1


def test_empty_multi_table_txn_commits_nothing(spark, tmp_path):
    """A MultiTableTransaction covering zero tables is a no-op commit —
    it returns the catalog base version and moves nothing (regression:
    the thread-pooled commit path must not choke on an empty member
    list)."""
    croot = str(tmp_path / "cat")
    create_catalog(croot)
    base = catalog_manifest(croot)["version"]
    assert MultiTableTransaction(spark, croot, {}).commit() == base
    assert catalog_manifest(croot)["version"] == base


def test_multi_table_txn_member_failure_ignores_cancelled_members(
    spark, tmp_path
):
    """More members than the 4-thread commit pool, and the first member's
    commit fails: the still-queued member commits are cancelled.  A
    cancelled commit never ran and never moved its head, so it must not
    be reported as a failed member on the raised error — the recovery
    path reads those notes to find the members whose head moved."""
    import time

    from datalake2anomali_spark.io.catalog import MultiTableTransaction

    croot = str(tmp_path / "cat")
    create_catalog(croot)
    names = [f"t{i}" for i in range(8)]
    for n in names:
        root = str(tmp_path / n)
        init_table(spark, spark.range(4).withColumn("p", F.lit("a")), root, "p")
        catalog_register(croot, n, root)
    base = catalog_manifest(croot)["version"]
    mtxn = MultiTableTransaction(spark, croot, dict.fromkeys(names, "p"))

    def fail():
        raise ConcurrentWriteError("t0 commit failed")

    ran = []

    def slow(name, txn):
        def commit():
            ran.append(name)
            time.sleep(1.0)  # keep the pool busy so later members queue
            return txn._manifest["version"]

        return commit

    mtxn.table("t0").commit = fail
    for n in names[1:]:
        t = mtxn.table(n)
        t.commit = slow(n, t)

    with pytest.raises(ConcurrentWriteError, match="t0 commit failed") as ei:
        mtxn.commit()
    assert len(ran) < len(names) - 1, "no member commit was cancelled"
    notes = getattr(ei.value, "__notes__", [])
    assert notes == [], notes
    assert catalog_manifest(croot)["version"] == base
