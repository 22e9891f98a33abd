"""Lakehouse-protocol gate queries (round-10 registrations).

Each fixture scripts a deterministic multi-commit sequence over the
versioned table in ``io/publish.py`` / ``io/hidden.py`` — branches and
write-audit-publish, three-clause sync MERGE, merge-on-read deletion
vectors, mixed CDC apply, partition-spec evolution, metadata tables,
OPTIMIZE (partial + Z-order), CHECK constraints — and returns a result
that is a pure function of the source ``events`` table, so a DuckDB
oracle can replay the same set-algebra directly on the source.  Protocol
invariants the oracle cannot see (branch isolation, pruning engagement,
vector footprints, per-file clustering spans) are asserted in-fixture,
so a silent protocol regression fails the gate loudly rather than
passing on result equality alone (the ``hidden_partition_pruning``
pattern).

Reference parity: these generalize the reference connector's
upsert/cursor state machine (``/root/reference/src/Datalake2Anomali.py:
397-404, 246-253``) to a full table-format protocol surface.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DSUM_SQL, dsum
from ..io.tables import _process_dir, _scratch_root, load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )


def _source_stamp(sf_dir: str, sources: tuple[str, ...] = ("events.parquet",)) -> str:
    """``mtime_ns:size`` content stamp over the given source files: a
    regenerated source rebuilds every fixture derived from it."""
    parts = []
    for s in sources:
        st = os.stat(os.path.join(sf_dir, s))
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    return ":".join(parts)


#: Fixture-cache telemetry: ``hits`` counts fixtures served from the
#: cache, ``builds`` counts fixtures this process constructed.  bench.py
#: snapshots these around each pass and reports them per pass.
CACHE_COUNTERS = {"hits": 0, "builds": 0}

#: ``(tag, sf_dir, version, source stamp)`` -> built fixture directory.
_FIXTURES: dict[tuple[str, str, str, str], str] = {}


def shared_fixture_root(
    tag: str,
    sf_dir: str,
    version: str,
    build,
    sources: tuple[str, ...] = ("events.parquet",),
) -> str:
    """An IMMUTABLE scripted fixture, built at most once per process and
    (``tag``, ``sf_dir``, recipe ``version``, source-file content).

    For queries whose operator under test only READS the constructed
    fixture (pruned/indexed reads, metadata views, change feeds), the
    multi-commit fixture scripting is setup, not measured behavior, so it
    is paid once per process instead of per bench row / oracle run.
    Queries whose operator IS the mutation protocol must keep per-call
    isolation (``_cloned_events`` / ``_pristine_versioned_events`` /
    ``_scratch_root``) — caching their writes would cache the behavior
    under test.

    ``build(root)`` fills a fresh directory under :func:`_process_dir`;
    a failed build removes it and records nothing, so the next call
    retries.  Bump ``version`` when a recipe changes.  No lock: every
    call runs on the driver's main thread, before any ``_overlap`` pool
    starts, so no two calls race."""
    key = (tag, sf_dir, version, _source_stamp(sf_dir, sources))
    root = _FIXTURES.get(key)
    if root is not None:
        CACHE_COUNTERS["hits"] += 1
        return root
    root = tempfile.mkdtemp(prefix=tag + "_", dir=_process_dir())
    try:
        build(root)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    _FIXTURES[key] = root
    CACHE_COUNTERS["builds"] += 1
    return root


def _events_base(spark: SparkSession, sf_dir: str) -> str:
    """The cached IMMUTABLE events table (``init_table`` over the full
    events frame, event_date partitioned): the one base that both
    :func:`_cloned_events` (shallow clone) and
    :func:`_pristine_versioned_events` (hardlink clone) seed from.  Every
    mutation lands on a clone, never on the base."""
    from ..io.publish import init_table

    def _build(fx: str) -> None:
        init_table(
            spark, _events(spark, sf_dir), os.path.join(fx, "table"),
            "event_date",
        )

    return os.path.join(shared_fixture_root("events", sf_dir, "1", _build), "table")


def _cloned_events(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """A fixture-private mutable table seeded from the events base by
    shallow clone — fresh every call (the clone root is recreated), at
    metadata cost instead of a table write."""
    from ..io.publish import clone_table

    root = _scratch_root(prefix, sf_dir)
    clone_table(_events_base(spark, sf_dir), root)
    return root


def hardlink_clone(src: str, dst: str) -> str:
    """A per-call MUTABLE copy of a cached fixture directory at hardlink
    cost (VERDICT r15 task 5 — cacheable setup PREFIXES for queries
    whose operator is the mutation itself).  Safe because every writer
    in this engine — plain parquet overwrite included — replaces files
    (write new + unlink old), never opens an existing file for write,
    so mutations on the clone can never reach back into the cached
    fixture's inodes.  ``dst`` is recreated from scratch, keeping the
    caller a pure function of the source across repeated runs."""
    shutil.rmtree(dst, ignore_errors=True)
    for dirpath, _dirnames, filenames in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        target = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(target, exist_ok=True)
        for fn in filenames:
            os.link(os.path.join(dirpath, fn), os.path.join(target, fn))
    return dst


def _pristine_versioned_events(
    spark: SparkSession, prefix: str, sf_dir: str
) -> str:
    """A per-call MUTABLE versioned events table seeded by hardlink clone
    from the cached events base (:func:`_events_base`) — the shared
    "plain init" setup prefix of the mutation-protocol fixtures.  The
    mutation under test stays per-call: every later commit writes NEW
    version directories on the clone, vacuum unlinks only the clone's
    links, and the per-call reset keeps each caller a pure function of
    the source table."""
    return hardlink_clone(
        _events_base(spark, sf_dir), _scratch_root(prefix, sf_dir)
    )


def _fingerprint(spark: SparkSession, root: str, **kw) -> tuple:
    return _fingerprint_many(spark, [(root, kw)])[0]


def _fingerprint_many(
    spark: SparkSession, specs: list[tuple[str, dict]]
) -> list[tuple]:
    """N snapshot fingerprints in ONE action — the group-commit batching
    of the per-commit certification scans (VERDICT r16 task 3, guide
    §1.2).  Each spec is ``(root, read_snapshot-kwargs)``; pinning a
    historical ``version`` in the kwargs reads the immutable manifest/
    version directories that were live right after that commit, so a
    fingerprint taken after the whole commit sequence is bit-identical
    to one taken between commits (the time-travel contract the protocol
    itself certifies in ``time_travel``).  Tagged union: each spec gets
    its row count and row-hash sum; an empty snapshot folds to
    ``(0, None)``."""
    from ..io.publish import read_snapshot

    frames = []
    for i, (root, kw) in enumerate(specs):
        df = read_snapshot(spark, root, "event_date", **kw)
        frames.append(
            df.select(
                F.lit(i).alias("_t"),
                F.hash(*sorted(df.columns)).alias("_h"),
            )
        )
    union = frames[0]
    for fr in frames[1:]:
        union = union.unionByName(fr)
    rows = (
        union.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_h").alias("h"))
        .collect()
    )
    by = {r["_t"]: (r["n"], r["h"]) for r in rows}
    return [by.get(i, (0, None)) for i in range(len(specs))]


def _overlap(*thunks):
    """Run independent fixture steps as concurrent Spark jobs from a
    small driver thread pool (guide §2.6: actions are only sequential
    because the driver calls them sequentially).  ONLY for steps with no
    mutual dependence — disjoint table roots, or version-pinned reads of
    immutable snapshots — so the result of every thunk is identical at
    any pool size (pinned by tests/test_shared_base.py).  Returns the
    thunks' results in argument order; ``D2A_FIXTURE_POOL=1`` forces the
    sequential path (the determinism A/B knob)."""
    n = int(os.environ.get("D2A_FIXTURE_POOL", "0")) or len(thunks)
    if n <= 1 or len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(n, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _type_rollup(snap: DataFrame) -> DataFrame:
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("v_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


_TYPE_ROLLUP_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       {DSUM_SQL("value", 2)} AS v_sum,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM post
GROUP BY 1
ORDER BY 1
"""


# -- sync_versioned: the full three-clause ANSI MERGE -------------------------


def q_sync_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause sync MERGE (``io/publish.py: sync_versioned``), both
    flavors in one scripted sequence.

    Unconditional on a branch: the branch becomes exactly the source
    (purchases only) while main never moves — asserted in-fixture.
    Conditional on main: clicks update (+9), target-only views delete
    (the ``WHEN NOT MATCHED BY SOURCE AND cond`` arm), everything else
    survives.  The oracle replays ``post = source ∪ (target ⋸ source
    WHERE NOT cond)`` directly on the source table.
    """
    from ..io.publish import (
        create_branch,
        read_manifest,
        read_snapshot,
        sync_versioned,
    )

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_sync", sf_dir)
    n_main = e.count()

    # unconditional flavor, isolated on a branch: table := source
    create_branch(root, "mirror")
    purchases = e.filter(F.col("event_type") == "purchase")
    sync_versioned(spark, root, purchases, ["event_id"], "event_date", ref="mirror")
    b = read_snapshot(spark, root, "event_date", ref="mirror")
    if b.count() != purchases.count():
        raise AssertionError("unconditional sync: branch != source row count")
    if read_manifest(root, ref="mirror")["operation"] != "sync":
        raise AssertionError("unconditional sync: operation not recorded")
    if read_snapshot(spark, root, "event_date").count() != n_main:
        raise AssertionError("branch sync leaked into main")

    # conditional flavor on main: update clicks, delete only views
    src = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 9.0
    )
    sync_versioned(
        spark,
        root,
        src,
        ["event_id"],
        "event_date",
        delete_condition=F.col("event_type") == "view",
    )
    return _type_rollup(read_snapshot(spark, root, "event_date"))


SYNC_VERSIONED_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' THEN value + 9 ELSE value END AS value
  FROM events
  WHERE event_type <> 'view'
)
{_TYPE_ROLLUP_SQL}
"""


# -- branch_wap_publish: write-audit-publish + follower + time travel ---------


def q_branch_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over branches (``io/publish.py: create_branch /
    fast_forward``) with a branch-following change feed and AS-OF-TIMESTAMP
    resolution.

    Scripted: fork ``audit`` → MERGE (purchases +7, error clones +70M) and
    DELETE (views) on the branch → audit asserts main is byte-identical to
    the fork point, the follower (``TableFollower(ref="audit")``) sees
    exactly the branch's delta, and main's AS-OF-TIMESTAMP resolution never
    returns a branch commit → one ``fast_forward`` publishes atomically,
    checked via ``describe_detail``.  The oracle replays the published
    set-algebra on the source.
    """
    import time as _time

    from ..io.publish import (
        TableFollower,
        create_branch,
        describe_detail,
        fast_forward,
        read_manifest,
        read_snapshot,
        version_as_of_timestamp,
    )

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_wap", sf_dir)
    v_main = read_manifest(root)["version"]

    # create_branch is metadata-only (main untouched), so taking main's
    # fingerprint after it is identical to before it; the four source
    # anchor counts the audit needs fuse into ONE aggregate over the
    # source (count-if ≡ filter().count()), and that aggregate, the main
    # fingerprint, and the bootstrap-span count are three independent
    # reads of immutable state — concurrent driver jobs (guide §2.6)
    create_branch(root, "audit")
    follower = TableFollower(
        root, "event_date", ["event_id"], os.path.join(root, "_cursor"), ref="audit"
    )
    boot, v0 = follower.poll(spark)
    anchors, main_before, n_boot = _overlap(
        lambda: e.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(
                F.when(F.col("event_type") == "purchase", F.lit(1))
            ).alias("n_purch"),
            F.count(
                F.when(F.col("event_type") == "error", F.lit(1))
            ).alias("n_err"),
            F.count(
                F.when(F.col("event_type") == "view", F.lit(1))
            ).alias("n_view"),
        ).collect()[0],
        lambda: _fingerprint(spark, root),
        lambda: boot.count(),
    )
    n_total = anchors["n_total"]
    if n_boot != n_total:
        raise AssertionError("follower bootstrap != fork snapshot")
    follower.commit(v0)

    upd = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 7.0
    )
    ins = e.filter(F.col("event_type") == "error").withColumn(
        "event_id", F.col("event_id") + 70_000_000
    )
    from ..io.publish import delete_from_versioned, merge_into_versioned

    merge_into_versioned(
        spark, root, upd.unionByName(ins), ["event_id"], "event_date", ref="audit"
    )
    v_b = delete_from_versioned(
        spark, root, "event_date", F.col("event_type") == "view", ref="audit"
    )

    # audit: main byte-identical; branch head is the newest stamp but
    # invisible to main's timestamp resolution.  The leak-check
    # fingerprint and the follower's span rollup both read immutable
    # post-commit state — concurrent driver jobs.
    ch, v_span = follower.poll(spark)
    main_after, kind_rows = _overlap(
        lambda: _fingerprint(spark, root),
        lambda: ch.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
    )
    if main_after != main_before:
        raise AssertionError("branch writes leaked into main before publish")
    now = _time.time() + 5.0
    if version_as_of_timestamp(root, now) != v_main:
        raise AssertionError("main AS OF TIMESTAMP resolved a branch commit")
    if version_as_of_timestamp(root, now, ref="audit") != v_b:
        raise AssertionError("branch AS OF TIMESTAMP missed the branch head")

    # the follower sees exactly the branch delta (both commits, one span)
    by_kind = {r["change_type"]: r["n"] for r in kind_rows}
    n_purch = anchors["n_purch"]
    n_err = anchors["n_err"]
    n_view = anchors["n_view"]
    if by_kind.get("changed", 0) != n_purch or by_kind.get("added", 0) != n_err:
        raise AssertionError(f"follower span upserts wrong: {by_kind}")
    if by_kind.get("removed", 0) != n_view:
        raise AssertionError(f"follower span deletes wrong: {by_kind}")
    follower.commit(v_span)

    # publish: one atomic fast-forward; detail reflects the branch head
    fast_forward(root, "audit")
    d = describe_detail(root)
    if not d["operation"].startswith("publish(audit@"):
        raise AssertionError(f"publish not recorded: {d['operation']}")
    if d["n_rows"] != n_total + n_err - n_view:
        raise AssertionError("published row count wrong")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


BRANCH_WAP_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN value + 7 ELSE value END AS value
  FROM events
  WHERE event_type <> 'view'
  UNION ALL
  SELECT event_id + 70000000, event_type, value
  FROM events WHERE event_type = 'error'
)
{_TYPE_ROLLUP_SQL}
"""


# -- deletion_vectors: merge-on-read DELETE with CoW parity pinned ------------


def q_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors
    (``delete_from_versioned(mode="merge_on_read")``), with result parity
    against copy-on-write pinned in-fixture — the one property that keeps
    the two DELETE paths from drifting (VERDICT r9 #3).

    Scripted: the same two stacked predicates run MoR on one table and CoW
    on a twin; after each commit the snapshots must be bit-identical.  The
    MoR commits are asserted to write only vectors (no data partition
    changes owner), the metadata ``COUNT(*)`` subtracts vectors, and a
    final compaction materializes them without changing content.  The
    oracle applies the same predicate set-algebra to the source.
    """
    from ..io.publish import (
        compact_versioned,
        delete_from_versioned,
        read_manifest,
        read_snapshot,
        snapshot_rowcount,
    )

    e = _events(spark, sf_dir)
    mor = _cloned_events(spark, "d2a_dv_mor", sf_dir)
    cow = _cloned_events(spark, "d2a_dv_cow", sf_dir)

    cond1 = (F.col("event_type") == "view") & (F.col("event_id") % 3 == 0)
    cond2 = (F.col("event_type") == "signup") & (F.col("event_id") % 2 == 0)

    # MoR and CoW delete chains write to DISJOINT roots — concurrent
    # driver threads (guide §2.6), each chain sequential, per-table
    # history identical; parity fingerprints batch into one action via
    # version-pinned reads (see q_update_mor / _fingerprint_many).  The
    # live-rowcount anchor over the immutable source is a third thunk.
    def _chain(root: str, **kw) -> list[int]:
        return [
            delete_from_versioned(spark, root, "event_date", cond, **kw)
            for cond in (cond1, cond2)
        ]

    mor_vs, cow_vs, n_live = _overlap(
        lambda: _chain(mor, mode="merge_on_read", key_cols=["event_id"]),
        lambda: _chain(cow),
        lambda: e.filter(~(cond1 | cond2)).count(),
    )
    fps = _fingerprint_many(
        spark,
        [(mor, {"version": v}) for v in mor_vs]
        + [(cow, {"version": v}) for v in cow_vs],
    )
    for i in range(2):
        if fps[i] != fps[2 + i]:
            raise AssertionError("merge-on-read result diverged from copy-on-write")

    m = read_manifest(mor)
    if m["operation"] != "delete_mor":
        raise AssertionError("MoR delete not recorded as delete_mor")
    if not all(int(x) == 1 for x in m["partitions"].values()):
        raise AssertionError("MoR delete rewrote data partitions")
    if snapshot_rowcount(mor) != n_live:
        raise AssertionError("metadata rowcount does not subtract vectors")

    # the pre-compaction fingerprint is the last batched entry (the MoR
    # table's final committed version) — no extra scan needed
    before = fps[1]
    compact_versioned(spark, mor, "event_date", "event_id")
    if _fingerprint(spark, mor) != before:
        raise AssertionError("compaction changed content")
    if "dv" in read_manifest(mor):
        raise AssertionError("compaction left vectors unmaterialized")
    return _type_rollup(read_snapshot(spark, mor, "event_date"))


DELETION_VECTORS_SQL = f"""
WITH post AS (
  SELECT event_id, event_type, value
  FROM events
  WHERE NOT (event_type = 'view' AND event_id % 3 = 0)
    AND NOT (event_type = 'signup' AND event_id % 2 = 0)
)
{_TYPE_ROLLUP_SQL}
"""


# -- cdc_apply_mixed: U/I/D in one atomic commit ------------------------------


def q_cdc_apply_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed CDC batch (``io/publish.py: cdc_apply_versioned``): updates,
    inserts and key-level deletes land in ONE commit, with the
    upserted-and-deleted-in-the-same-batch key resolving to deleted (the
    last-writer convention).  The oracle replays the same U/I/D
    set-algebra over the source.
    """
    from ..io.publish import cdc_apply_versioned, read_snapshot

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_cdc_mixed", sf_dir)

    ups = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 500.0
    ).withColumn("_op", F.lit("upsert"))
    ins = e.filter(F.col("event_type") == "error").withColumn(
        "event_id", F.col("event_id") + 61_000_000
    ).withColumn("_op", F.lit("upsert"))
    dels = e.filter(
        (F.col("event_type") == "signup") & (F.col("event_id") % 5 == 0)
    ).withColumn("_op", F.lit("delete"))
    # overlap: these clicks are upserted above AND deleted here → deleted
    overlap = e.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 7 == 0)
    ).withColumn("_op", F.lit("delete"))

    batch = ups.unionByName(ins).unionByName(dels).unionByName(overlap)
    cdc_apply_versioned(spark, root, batch, ["event_id"], "event_date")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


CDC_APPLY_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' THEN value + 500 ELSE value END AS value
  FROM events
  WHERE NOT (event_type = 'signup' AND event_id % 5 = 0)
    AND NOT (event_type = 'click' AND event_id % 7 = 0)
  UNION ALL
  SELECT event_id + 61000000, event_type, value
  FROM events WHERE event_type = 'error'
)
{_TYPE_ROLLUP_SQL}
"""


# -- spec_evolution: Iceberg-style partition-spec evolution -------------------

#: Same six-day probe window as ``hidden_partition_pruning`` (2024-01-10
#: 00:00:00 UTC .. last microsecond of 2024-01-15).
_EVOLVE_LO_US = 1_704_844_800_000_000
_EVOLVE_HI_US = 1_705_363_199_999_999


def q_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (``io/hidden.py: evolve_partition_spec``):
    ``days(ts)`` evolves metadata-only to ``bucket(8, user_id)``; old
    partitions keep pruning under the recorded days transform, new writes
    land under the bucket layout (``g1:`` prefixed), and a ts-window read
    spans both generations exactly.  Per-generation pruning is asserted
    in-fixture (gen-0 days prune, g1 buckets are conservatively kept);
    the oracle filters the evolved table's logical content directly.
    """
    from ..io.hidden import (
        _load_generations,
        evolve_partition_spec,
        init_hidden_table,
        may_match_multi,
        merge_into_hidden,
        read_hidden,
    )
    from ..io.publish import read_manifest

    e = load_table(spark, sf_dir, "events")
    root = _scratch_root("d2a_evolve", sf_dir)
    init_hidden_table(spark, e, root, ["days", "ts"])
    n_days = len(read_manifest(root)["partitions"])

    gen = evolve_partition_spec(root, ["bucket", 8, "user_id"])
    if gen != 1:
        raise AssertionError("evolution did not open generation 1")
    ins = e.filter(F.col("event_type") == "error").withColumn(
        "event_id", F.col("event_id") + 60_000_000
    )
    merge_into_hidden(spark, root, ins, ["event_id"])

    parts = list(read_manifest(root)["partitions"])
    g1 = [p for p in parts if p.startswith("g1:")]
    g0 = [p for p in parts if not p.startswith("g1:")]
    if not g1 or len(g0) != n_days:
        raise AssertionError("new writes did not land under the evolved spec")
    pred = ("between", "ts", _EVOLVE_LO_US, _EVOLVE_HI_US)
    gens = _load_generations(root)
    kept = [p for p in parts if may_match_multi(gens, p, pred)]
    # six days of ~31 prune under gen-0; every g1 bucket is kept
    # conservatively (bucket(user_id) cannot address a ts predicate)
    if not (set(g1) <= set(kept) and len(kept) <= len(g1) + 6):
        raise AssertionError(
            f"evolved pruning did not engage: kept {len(kept)} of {len(parts)}"
        )
    snap = read_hidden(spark, root, predicate=pred)
    return (
        snap.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 2).alias("v_sum"))
        .orderBy("event_type")
    )


SPEC_EVOLUTION_SQL = f"""
WITH full_t AS (
  SELECT ts, event_type, value FROM events
  UNION ALL
  SELECT ts, event_type, value FROM events WHERE event_type = 'error'
)
SELECT event_type, COUNT(*) AS n, {DSUM_SQL("value", 2)} AS v_sum
FROM full_t
WHERE epoch_us(ts) BETWEEN {_EVOLVE_LO_US} AND {_EVOLVE_HI_US}
GROUP BY 1
ORDER BY 1
"""


# -- multi_field_spec: composite hidden partitioning --------------------------


def q_multi_field_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite hidden spec ``days(ts) + bucket(4, user_id)``
    (``io/hidden.py`` multi-field): a user point-lookup prunes the bucket
    component to at most one bucket per day, a ts window prunes the day
    component, and DML through the spec stays exact.  The oracle filters
    the source by the same deterministically-chosen user."""
    from ..io.hidden import (
        init_hidden_table,
        may_match,
        merge_into_hidden,
        read_hidden,
        read_spec,
    )
    from ..io.publish import read_manifest

    e = load_table(spark, sf_dir, "events")
    n_buckets = 4

    def _build(fx: str) -> None:
        root = os.path.join(fx, "table")
        init_hidden_table(
            spark, e, root, [["days", "ts"], ["bucket", n_buckets, "user_id"]]
        )
        upd = e.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") + 2.0
        )
        merge_into_hidden(spark, root, upd, ["event_id"])

    # operator under test is the spec-pruned READ — the init+merge
    # fixture is cacheable setup (VERDICT r14 task 3); the pruning
    # assertions below stay per-call (metadata-only, cheap)
    root = os.path.join(
        shared_fixture_root("multispec", sf_dir, "1", _build), "table"
    )
    m = read_manifest(root)
    parts = list(m["partitions"])
    if not all(p.count("|") == 1 for p in parts):
        raise AssertionError("composite partition values missing")
    n_days = len({p.split("|")[0] for p in parts})
    spec = read_spec(root)

    uid = int(e.agg(F.min("user_id")).collect()[0][0])
    upred = ("eq", "user_id", uid)
    kept = [p for p in parts if may_match(spec, p, upred)]
    if not (0 < len(kept) <= n_days):
        raise AssertionError(
            f"bucket component did not prune: kept {len(kept)} of {len(parts)}"
        )
    snap = read_hidden(spark, root, predicate=upred)
    return snap.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_scaled"),
    ).orderBy("event_id")


MULTI_FIELD_SPEC_SQL = """
SELECT event_id, event_type,
       CAST(ROUND(CASE WHEN event_type = 'purchase' THEN value + 2 ELSE value END
                  * 100) AS BIGINT) AS value_scaled
FROM events
WHERE user_id = (SELECT MIN(user_id) FROM events)
ORDER BY event_id
"""


# -- metadata_tables: history / partitions / files DataFrames -----------------


def q_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables (``io/publish.py: history_df / partitions_df /
    files_df``) after a scripted create → merge → delete sequence: the
    query returns one row per commit — version, operation, live-partition
    count and logical row count, all read from metadata views (no data
    scan) — and the oracle replays each commit's set-algebra with scalar
    subqueries.  The files view is asserted in-fixture to name exactly
    the live footprint (reading its paths reproduces the snapshot)."""
    from ..io.publish import (
        delete_from_versioned,
        files_df,
        history_df,
        init_table,
        merge_into_versioned,
        partitions_df,
        read_snapshot,
    )

    e = _events(spark, sf_dir)

    def _build(fx: str) -> None:
        root = os.path.join(fx, "table")
        init_table(spark, e, root, "event_date")
        ins = e.filter(F.col("event_type") == "error").withColumn(
            "event_id", F.col("event_id") + 21_000_000
        )
        merge_into_versioned(spark, root, ins, ["event_id"], "event_date")
        delete_from_versioned(
            spark, root, "event_date", F.col("event_type") == "signup"
        )
        # files view: the live footprint reproduces the snapshot — the
        # physical recount must match the READ PATH's count (manifest rows
        # would be near-tautological: they were recorded by the same writer
        # scans of the same files, and would miss a read_snapshot defect)
        rows = files_df(spark, root).collect()
        n_live = read_snapshot(spark, root, "event_date").count()
        if spark.read.parquet(*[r["path"] for r in rows]).count() != n_live:
            raise AssertionError("files_df paths do not reproduce the live snapshot")
        # record the verified footprint so cache-hit calls can re-pin
        # against BUILD-TIME state: files_df re-derives its list from a
        # live filesystem walk, so any per-call check built from its own
        # output would tautologically pass under decay (code-review r16)
        with open(os.path.join(fx, "files_pin.json"), "w", encoding="utf-8") as fh:
            json.dump(
                {"n": len(rows), "bytes": sum(r["size_bytes"] for r in rows)}, fh
            )

    # operator under test is the metadata READ — the scripted
    # create→merge→delete fixture is cacheable setup (VERDICT r14 task 3).
    # The full files↔snapshot recount stays in _build, which runs once
    # per process and source stamp, so a cache hit never serves a fixture
    # built by other code.  What a hit CAN hide is fixture decay on disk,
    # so every call re-pins the current files view against the footprint
    # RECORDED at build time — a live walk compared to itself would
    # tautologically pass (code-review r16).
    fx = shared_fixture_root("metatables", sf_dir, "1", _build)
    root = os.path.join(fx, "table")
    with open(os.path.join(fx, "files_pin.json"), encoding="utf-8") as fh:
        pin = json.load(fh)
    rows = files_df(spark, root).collect()  # manifest+dir walk, no data scan
    now_pin = {"n": len(rows), "bytes": sum(r["size_bytes"] for r in rows)}
    if now_pin != pin:
        # self-heal: a decayed fixture would otherwise stay published and
        # wedge every subsequent call — collect it so the next call
        # rebuilds, and name the path for the operator (code-review r16)
        claim_root = os.path.dirname(fx)
        shutil.rmtree(claim_root, ignore_errors=True)
        raise AssertionError(
            f"cached fixture at {claim_root} decayed and was collected "
            f"(files view {now_pin} != built {pin}); rerun to rebuild"
        )
    hist = history_df(spark, root).select("version", "operation")
    per_version = []
    for v in [r["version"] for r in hist.collect()]:
        p = partitions_df(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("n_rows") - F.coalesce(F.col("n_deleted"), F.lit(0))).alias(
                "n_rows"
            ),
        ).collect()[0]
        per_version.append((v, int(p["n_parts"]), int(p["n_rows"])))
    counts = spark.createDataFrame(
        per_version, "version long, n_parts long, n_rows long"
    )
    return hist.join(counts, "version").orderBy("version")


METADATA_TABLES_SQL = """
WITH base AS (
  SELECT event_id, ts, event_type, strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
), merged AS (
  SELECT event_id, event_type, event_date FROM base
  UNION ALL
  SELECT event_id + 21000000, event_type,
         strftime(ts, '%Y-%m-%d')
  FROM base WHERE event_type = 'error'
), after_delete AS (
  SELECT * FROM merged WHERE event_type <> 'signup'
)
SELECT 1 AS version, 'create' AS operation,
       (SELECT COUNT(DISTINCT event_date) FROM base) AS n_parts,
       (SELECT COUNT(*) FROM base) AS n_rows
UNION ALL
SELECT 2, 'merge',
       (SELECT COUNT(DISTINCT event_date) FROM merged),
       (SELECT COUNT(*) FROM merged)
UNION ALL
SELECT 3, 'delete',
       (SELECT COUNT(DISTINCT event_date) FROM after_delete),
       (SELECT COUNT(*) FROM after_delete)
ORDER BY version
"""


# -- optimize_zorder: partial OPTIMIZE + OPTIMIZE ZORDER + vacuum dry-run -----


def q_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance surface in one scripted sequence: a fragmented ingest
    (8-task scatter) → capped partial OPTIMIZE (``optimize_partitions``
    rewrites exactly the 2 worst partitions, untouched partitions keep
    their version) → ``OPTIMIZE ZORDER BY (user_id, event_id)``
    (``compact_versioned(zorder_cols=…)``) proving layout changed AND
    content didn't — per-file spans of BOTH dims are bounded where the
    size target forced intra-partition splits — → ``vacuum(dry_run=True)``
    reporting without touching, then the real vacuum reclaiming it.  The
    oracle checks content preservation (plain source rollup); every
    layout claim is asserted in-fixture."""
    import glob as _glob

    from ..io.publish import (
        compact_versioned,
        init_table,
        optimize_partitions,
        read_manifest,
        read_snapshot,
        vacuum,
        version_dir,
    )

    e = _events(spark, sf_dir)

    # fragment the way real pipelines do: an 8-task write scatters every
    # hive partition across small files (localCheckpoint pins the task
    # count so AQE can't coalesce it back).  The OPTIMIZE/ZORDER/vacuum
    # sequence is the operator under test; the fragmented ingest is a
    # cacheable setup prefix (VERDICT r15 task 5 second tranche) — the
    # hardlink clone preserves the exact file layout the assertions need.
    def _build(fx: str) -> None:
        init_table(
            spark,
            _events(spark, sf_dir).repartition(8).localCheckpoint(eager=True),
            os.path.join(fx, "table"),
            "event_date",
        )

    pristine = os.path.join(
        shared_fixture_root("zfrag8", sf_dir, "1", _build), "table"
    )
    root = hardlink_clone(pristine, _scratch_root("d2a_zorder", sf_dir))
    before = read_manifest(root)

    v_opt, done = optimize_partitions(
        spark, root, "event_date", "event_id", min_files=2, max_partitions=2
    )
    if len(done) != 2:
        raise AssertionError(f"capped OPTIMIZE rewrote {len(done)} partitions")
    m_opt = read_manifest(root)
    untouched_kept = all(
        m_opt["partitions"][p] == v
        for p, v in before["partitions"].items()
        if p not in done
    )
    if not untouched_kept:
        raise AssertionError("partial OPTIMIZE moved untouched partitions")

    # the pre-compaction fingerprint reads the version-pinned immutable
    # snapshot, so it runs concurrently with the ZORDER rewrite itself
    # (guide §2.6; the pin makes the read identical at any pool size —
    # compaction only adds a new version dir and swaps the pointer)
    fp, v_z = _overlap(
        lambda: _fingerprint(spark, root, version=m_opt["version"]),
        lambda: compact_versioned(
            spark,
            root,
            "event_date",
            zorder_cols=("user_id", "event_id"),
            target_file_bytes=8 * 1024,
        ),
    )
    if _fingerprint(spark, root) != fp:
        raise AssertionError("ZORDER compaction changed content")
    m_z = read_manifest(root)
    if set(m_z["partitions"].values()) != {v_z}:
        raise AssertionError("ZORDER did not collapse to one live version")
    if "_zk" in [c for c, _t in m_z["schema"]]:
        raise AssertionError("Morton key leaked into the schema")

    # per-file spans: both dims bounded wherever the byte target forced
    # intra-partition splits (at tiny scale each partition is one file and
    # covers its full range — only assert when splitting actually engaged).
    # Footer row-group statistics give the exact per-file min/max for
    # integral columns without reading a single data page (guide §6 —
    # metadata-only verification of a layout claim).
    import pyarrow.parquet as pq

    spans = []
    for fpath in _glob.glob(
        os.path.join(version_dir(root, v_z), "**", "*.parquet"), recursive=True
    ):
        md = pq.read_metadata(fpath)
        names = md.schema.names
        iu, ii = names.index("user_id"), names.index("event_id")
        u_lo = u_hi = i_lo = i_hi = None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci, acc in ((iu, "u"), (ii, "i")):
                st = row_group.column(ci).statistics
                if st is None or not st.has_min_max:
                    continue
                if acc == "u":
                    u_lo = st.min if u_lo is None else min(u_lo, st.min)
                    u_hi = st.max if u_hi is None else max(u_hi, st.max)
                else:
                    i_lo = st.min if i_lo is None else min(i_lo, st.min)
                    i_hi = st.max if i_hi is None else max(i_hi, st.max)
        if u_lo is not None and i_lo is not None:
            spans.append((u_hi - u_lo, i_hi - i_lo))
    if len(spans) > len(m_z["partitions"]):
        b = e.agg(
            F.max("user_id") - F.min("user_id"),
            F.max("event_id") - F.min("event_id"),
        ).collect()[0]
        frac_u = sum(1 for su, _ in spans if su <= 0.7 * b[0]) / len(spans)
        frac_i = sum(1 for _, si in spans if si <= 0.7 * b[1]) / len(spans)
        if frac_u < 0.3 or frac_i < 0.3:
            raise AssertionError(
                f"Z-order files unbounded: frac_u={frac_u:.2f} frac_i={frac_i:.2f}"
            )

    would = vacuum(root, retain_last=1, claim_ttl_seconds=0.0, dry_run=True)
    if not would:
        raise AssertionError("dry-run vacuum reported nothing to reclaim")
    if any(not os.path.isdir(version_dir(root, v)) for v in would):
        raise AssertionError("dry-run vacuum touched version directories")
    removed = vacuum(root, retain_last=1, claim_ttl_seconds=0.0)
    if sorted(removed) != sorted(would):
        raise AssertionError("real vacuum diverged from its dry run")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


OPTIMIZE_ZORDER_SQL = f"""
WITH post AS (
  SELECT event_id, event_type, value FROM events
)
{_TYPE_ROLLUP_SQL}
"""


# -- check_constraints: declarative write-time guards -------------------------


def q_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints (``init_table(constraints=…)``): a violating
    MERGE refuses atomically — no version claim, no orphan directory,
    snapshot intact — a satisfying MERGE lands, and the constraint set
    survives compaction.  The oracle replays the accepted writes only."""
    from ..io.publish import (
        ConstraintViolationError,
        compact_versioned,
        init_table,
        merge_into_versioned,
        read_manifest,
        read_snapshot,
        vacuum,
    )

    from ..io.publish import clone_table

    e = _events(spark, sf_dir)
    cons = {
        "positive_id": "event_id >= 0",
        "known_type": "event_type IN ('view','click','purchase','signup','error')",
    }

    # The operator under test is the constraint ENFORCEMENT on the
    # mutations (refusal atomicity, satisfying merge, compaction
    # survival) — the constrained base table is a cacheable setup
    # prefix (VERDICT r15 task 5).  clone_table copies the manifest
    # wholesale, constraints included, so the per-call clone enforces
    # identically while every mutation stays call-local.
    def _build(fx: str) -> None:
        init_table(
            spark, e, os.path.join(fx, "table"), "event_date", constraints=cons
        )

    base_tbl = os.path.join(
        shared_fixture_root("consbase", sf_dir, "1", _build), "table"
    )
    root = _scratch_root("d2a_constraints", sf_dir)
    clone_table(base_tbl, root)

    ok = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 50.0
    )
    merge_into_versioned(spark, root, ok, ["event_id"], "event_date")

    bad = e.filter(F.col("event_type") == "click").withColumn(
        "event_type", F.lit("zzz")
    )
    try:
        merge_into_versioned(spark, root, bad, ["event_id"], "event_date")
        raise AssertionError("violating merge was accepted")
    except ConstraintViolationError:
        pass
    if [f for f in os.listdir(root) if f.startswith("_CLAIM.")]:
        raise AssertionError("refused merge left a stale claim")
    if vacuum(root, claim_ttl_seconds=0.0, retain_last=2) != []:
        raise AssertionError("refused merge left an orphan directory")

    # the leak check reads the version-pinned post-merge snapshot (the
    # refused merge moved nothing), so it runs concurrently with the
    # compaction (guide §2.6); the orphan/claim checks above stay BEFORE
    # the compaction, which would otherwise create fresh reclaimables
    v_ok = read_manifest(root)["version"]
    leaked, _ = _overlap(
        lambda: read_snapshot(spark, root, "event_date", version=v_ok)
        .filter(F.col("event_type") == "zzz")
        .count(),
        lambda: compact_versioned(spark, root, "event_date", "event_id"),
    )
    if leaked:
        raise AssertionError("refused merge leaked rows")
    if read_manifest(root)["constraints"] != cons:
        raise AssertionError("constraints lost across compaction")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


CHECK_CONSTRAINTS_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN value + 50 ELSE value END AS value
  FROM events
)
{_TYPE_ROLLUP_SQL}
"""


# -- table_follower_rollup: change-feed follower maintaining a view -----------


def q_table_follower_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-branch change-feed follower (``io/publish.py: TableFollower``)
    maintaining a retraction rollup across bootstrap → MERGE → DELETE:
    each poll sees exactly the committed span, an uncommitted poll
    replays identically (at-least-once, asserted in-fixture), and the
    folded view must hash-match the oracle's full recompute of the
    post-change table — the incremental-view contract that at 100 TB
    reads one delta instead of rescanning the table."""
    from ..io.publish import (
        TableFollower,
        delete_from_versioned,
        merge_into_versioned,
        read_snapshot,
    )
    from ..operators.views import apply_changes, rollup_state

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_follower", sf_dir)
    keys = ["event_date", "event_type"]
    f = TableFollower(root, "event_date", ["event_id"], os.path.join(root, "_cur"))

    ch, v1 = f.poll(spark)
    # the bootstrap span is version-pinned inside poll(), and the empty
    # seed is pinned to the same version explicitly, so the bootstrap
    # purity check + fold reads only immutable v1 state — independent of
    # the MERGE commit, which only adds _v2 + a new manifest pointer.
    # Run the two as concurrent driver jobs (guide §2.6); the follower's
    # poll-order semantics are untouched (poll 2 happens strictly after
    # both, and cursor commits are consumer-side).
    empty = rollup_state(
        read_snapshot(spark, root, "event_date", version=v1).limit(0), keys,
        sum_cols={"value": 2},
    )
    src = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 3.0
    )

    def _bootstrap_fold():
        if ch.filter(F.col("change_type") != "added").count():
            raise AssertionError("bootstrap span must be pure adds")
        return apply_changes(
            empty, ch, ["event_id"], keys, sum_cols={"value": 2}
        ).localCheckpoint(eager=True)

    view, _ = _overlap(
        _bootstrap_fold,
        lambda: merge_into_versioned(spark, root, src, ["event_id"], "event_date"),
    )
    f.commit(v1)

    ch2, v2 = f.poll(spark)
    # the span is consumed twice (replay assertion + fold) and each pass
    # is a full two-snapshot diff join — checkpoint once, delta-sized;
    # lazy, so the span count below materializes it in its own job
    ch2 = ch2.localCheckpoint(eager=False)
    replay, v_r = f.poll(spark)  # crash window: uncommitted → same span
    # the two counts read disjoint immutable state (the checkpointed
    # span; the replayed diff) — concurrent jobs
    n_ch2, n_replay = _overlap(lambda: ch2.count(), lambda: replay.count())
    if v_r != v2 or n_replay != n_ch2:
        raise AssertionError("uncommitted poll did not replay the span")

    # the fold reads the checkpointed span + view; the DELETE mutates
    # only the table — independent, overlap (cursor commit for v2 stays
    # before poll 3, so the follower sees the same spans)
    def _fold2():
        return apply_changes(
            view, ch2, ["event_id"], keys, sum_cols={"value": 2}
        ).localCheckpoint(eager=True)

    view, _ = _overlap(
        _fold2,
        lambda: delete_from_versioned(
            spark, root, "event_date", F.col("event_type") == "signup"
        ),
    )
    f.commit(v2)

    ch3, v3 = f.poll(spark)
    # final fold: lazy checkpoint — the declared query's own action
    # materializes it (one fewer driver job; same lineage cut)
    view = apply_changes(
        view, ch3, ["event_id"], keys, sum_cols={"value": 2}
    ).localCheckpoint(eager=False)
    f.commit(v3)
    if f.poll(spark)[0] is not None:
        raise AssertionError("caught-up follower returned a span")
    return view.orderBy("event_date", "event_type")


TABLE_FOLLOWER_SQL = """
WITH post AS (
  SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
         CASE WHEN event_type = 'click' THEN value + 3 ELSE value END AS value
  FROM events
  WHERE event_type <> 'signup'
)
SELECT event_date, event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
FROM post
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- csv_orc_roundtrip: interchange-format contracts --------------------------


def q_csv_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + ORC source/sink contracts (``io/formats.py``): the events
    table round-trips through a gzipped quoted CSV (schema-explicit scan,
    no inference — the JSON-bearing ``props`` column stresses the
    quote/escape path) and through ORC (schema drift checked at plan
    time), and both read-backs must checksum identically to the source.
    ``ts`` travels as epoch-µs (CSV timestamp rendering is
    millisecond-lossy by spec, so the long column IS the contract)."""
    from pyspark.sql import types as T

    from ..io.formats import read_csv, read_orc, write_csv, write_orc

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    root = _scratch_root("d2a_formats", sf_dir)
    csv_path, orc_path = os.path.join(root, "csv"), os.path.join(root, "orc")
    write_csv(e, csv_path, n_files=4)
    write_orc(e, orc_path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back_csv = read_csv(spark, csv_path, schema).withColumn("fmt", F.lit("csv"))
    back_orc = read_orc(spark, orc_path, expected_schema=schema).withColumn(
        "fmt", F.lit("orc")
    )
    both = back_csv.unionByName(back_orc.select(*back_csv.columns))
    checksum = F.conv(F.substring(F.md5(F.col("props")), 1, 8), 16, 10).cast("long")
    # checksums are mod-reduced per row before summing so the group sums
    # stay far inside int64 at any corpus scale (1e6 * rows-per-group):
    # epoch-us alone is ~1.7e15/row and overflows a long sum at sf>=0.1
    return (
        both.groupBy("fmt", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("v_sum"),
            F.sum(F.col("ts_us") % 1_000_000).alias("ts_sum"),
            F.sum(checksum % 1_000_000).alias("props_checksum"),
        )
        .orderBy("fmt", "event_type")
    )


CSV_ORC_ROUNDTRIP_SQL = f"""
WITH fmts AS (SELECT 'csv' AS fmt UNION ALL SELECT 'orc')
SELECT f.fmt, e.event_type, COUNT(*) AS n,
       {DSUM_SQL("e.value", 2)} AS v_sum,
       CAST(SUM(epoch_us(e.ts) % 1000000) AS BIGINT) AS ts_sum,
       CAST(SUM(CAST(('0x' || substr(md5(e.props), 1, 8)) AS UBIGINT) % 1000000)
            AS BIGINT) AS props_checksum
FROM events e CROSS JOIN fmts f
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- update_set: UPDATE ... SET (round-11 registration queue) -----------------
#
# Built ahead with its oracle settled; NOT in QUERIES/ORACLES yet — the
# round-10 gate window is full, and a registered-but-never-windowed query
# would sit uncertified.  Wire both dicts in round 11 (2 lines).


def q_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET, copy-on-write with partition-move support
    (``io/publish.py: update_versioned``): a non-moving per-column
    update (clicks take ``value*1.5 + 1``) then a partition-moving one
    (every 5th signup relocates to a literal future date), with UPDATE's
    row-count invariance and the MERGE ownership rules asserted
    in-fixture — bystander partitions keep their version, old and new
    homes take the fresh one.  The oracle replays both SETs as CASE
    projections (disjoint predicates, so order does not matter)."""
    from ..io.publish import (
        read_manifest,
        read_snapshot,
        update_versioned,
    )

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_update", sf_dir)
    n0 = e.count()

    v1 = update_versioned(
        spark, root, "event_date",
        F.col("event_type") == "click",
        {"value": F.col("value") * 1.5 + 1},
    )
    moved_cond = (F.col("event_type") == "signup") & (F.col("event_id") % 5 == 0)
    snap1 = read_snapshot(spark, root, "event_date")
    moved_parts = {
        str(r[0])
        for r in snap1.filter(moved_cond).select("event_date").distinct().collect()
    }
    v2 = update_versioned(
        spark, root, "event_date",
        moved_cond,
        {"event_date": F.lit("2041-01-01")},
    )
    m = read_manifest(root)
    if m["operation"] != "update":
        raise AssertionError("UPDATE not recorded as update commit")
    touched = moved_parts | {"2041-01-01"}
    for p, ver in m["partitions"].items():
        want = v2 if p in touched else v1
        if int(ver) != want:
            raise AssertionError(
                f"ownership violated: partition {p} at v{ver}, expected v{want}"
            )
    snap2 = read_snapshot(spark, root, "event_date")
    if snap2.count() != n0:
        raise AssertionError("UPDATE changed the row count")
    return (
        snap2.groupBy(
            "event_type",
            (F.col("event_date") == "2041-01-01").alias("moved"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("v_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type", "moved")
    )


UPDATE_SET_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' THEN value * 1.5 + 1 ELSE value END AS value,
         CASE WHEN event_type = 'signup' AND event_id % 5 = 0
              THEN '2041-01-01' ELSE strftime(ts, '%Y-%m-%d') END AS event_date
  FROM events
)
SELECT event_type, event_date = '2041-01-01' AS moved, COUNT(*) AS n,
       {DSUM_SQL("value", 2)} AS v_sum,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM post
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- update_mor: merge-on-read UPDATE (round-11 registration queue) -----------


def q_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE ... SET (``update_versioned(
    mode="merge_on_read")``): the commit writes a deletion vector for the
    matched rows' pre-images plus their replacements as an append-delta —
    no partition rewrites — and readers apply vectors by sequence, so a
    SECOND overlapping update kills the first update's replacement rows
    while its own survive.  Scripted with result parity against a
    copy-on-write twin after every commit (the MoR/CoW drift pin,
    extending the ``deletion_vectors`` property to UPDATE), no-rewrite
    and metadata-rowcount-invariance asserted from the manifest.  The
    oracle replays the stacked SETs as one CASE projection."""
    from ..io.publish import (
        read_manifest,
        read_snapshot,
        snapshot_rowcount,
        update_versioned,
    )

    e = _events(spark, sf_dir)
    mor = _cloned_events(spark, "d2a_updmor", sf_dir)
    cow = _cloned_events(spark, "d2a_updcow", sf_dir)

    upds = [
        (F.col("event_type") == "click", {"value": F.col("value") * 2}),
        (
            (F.col("event_type") == "click") & (F.col("event_id") % 3 == 0),
            {"value": F.col("value") + 7},
        ),
    ]

    # The MoR and CoW commit chains write to DISJOINT roots, so the two
    # chains run as concurrent driver threads (guide §2.6) — each chain
    # stays strictly sequential, so per-table commit order/history is
    # byte-identical to the sequential script.  The per-commit parity
    # fingerprints batch into ONE action afterwards via version-pinned
    # reads (see _fingerprint_many): immutable version directories make
    # the deferred read bit-identical to the in-between read.
    def _chain(root: str, **kw) -> list[int]:
        return [
            update_versioned(spark, root, "event_date", cond, sets, **kw)
            for cond, sets in upds
        ]

    # the source rowcount (the metadata-invariance anchor) only reads
    # the immutable source parquet — a third independent thunk
    mor_vs, cow_vs, n0 = _overlap(
        lambda: _chain(mor, mode="merge_on_read", key_cols=["event_id"]),
        lambda: _chain(cow),
        lambda: e.count(),
    )
    fps = _fingerprint_many(
        spark,
        [(mor, {"version": v}) for v in mor_vs]
        + [(cow, {"version": v}) for v in cow_vs],
    )
    for i in range(len(upds)):
        if fps[i] != fps[len(upds) + i]:
            raise AssertionError(
                "merge-on-read UPDATE diverged from copy-on-write"
            )

    m = read_manifest(mor)
    if m["operation"] != "update_mor":
        raise AssertionError("MoR update not recorded as update_mor")
    if not all(int(x) == 1 for x in m["partitions"].values()):
        raise AssertionError("MoR update rewrote data partitions")
    if not m.get("appends"):
        raise AssertionError("MoR update recorded no append-deltas")
    if snapshot_rowcount(mor) != n0:
        raise AssertionError("UPDATE changed the metadata rowcount")
    return _type_rollup(read_snapshot(spark, mor, "event_date"))


UPDATE_MOR_SQL = f"""
WITH post AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' AND event_id % 3 = 0
                THEN value * 2 + 7
              WHEN event_type = 'click' THEN value * 2
              ELSE value END AS value
  FROM events
)
{_TYPE_ROLLUP_SQL}
"""


# -- multi_statement_txn: BEGIN ... COMMIT (round-11 registration queue) ------


def q_multi_statement_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement transaction (``io/transaction.py: Transaction``):
    UPDATE + DELETE + MERGE staged against one pinned snapshot and
    published as ONE atomic version — staging invisible (asserted from
    the manifest mid-flight), exactly one version number consumed, the
    statement batch recorded as the commit operation.  Statements see
    each other in order; the oracle replays the same algebra as chained
    CTEs (update projection → delete filter → source-presence merge)."""
    from ..io.publish import read_manifest, read_snapshot
    from ..io.transaction import Transaction

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_txn", sf_dir)
    v0 = read_manifest(root)["version"]

    src = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("value", F.col("value") + 1000)
        .unionByName(
            e.filter(F.col("event_type") == "error")
            .withColumn("event_id", F.col("event_id") + 70_000_000)
            .withColumn("event_type", F.lit("promo"))
            .withColumn("value", F.col("value") + 0.5)
        )
    )
    txn = Transaction(spark, root, "event_date")
    txn.update(F.col("event_type") == "click", {"value": F.col("value") * 2})
    txn.delete((F.col("event_type") == "view") & (F.col("event_id") % 4 == 0))
    txn.merge(src, ["event_id"])
    if read_manifest(root)["version"] != v0:
        raise AssertionError("staging moved the table before commit")
    v = txn.commit()
    if v != v0 + 1:
        raise AssertionError("transaction did not publish as ONE version")
    m = read_manifest(root)
    if m["operation"] != "txn(update,delete,merge)":
        raise AssertionError(f"wrong txn operation record: {m['operation']}")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


MULTI_STATEMENT_TXN_SQL = f"""
WITH p1 AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
  FROM events
),
p2 AS (
  SELECT * FROM p1 WHERE NOT (event_type = 'view' AND event_id % 4 = 0)
),
src AS (
  SELECT event_id, event_type, value + 1000 AS value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id + 70000000, 'promo', value + 0.5
  FROM events WHERE event_type = 'error'
),
post AS (
  SELECT * FROM p2
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.event_id = p2.event_id)
  UNION ALL
  SELECT * FROM src
)
{_TYPE_ROLLUP_SQL}
"""


# -- secondary_index_lookup: CDF-maintained value index (r11 queue) -----------


def q_secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary value index (``io/index.py``): an exact (value →
    partitions, n) sidecar table bootstrapped from a snapshot and then
    maintained INCREMENTALLY through the change feed — one transaction
    (a merge into a brand-new partition + a date-scoped delete, composed
    through ``io/transaction.py``) lands on the base table, one
    ``refresh_value_index`` catches the index up (recomputing only the
    touched partitions' pairs, idempotently), and the point lookups go
    through ``indexed_read``'s partition-filter pruning.  The delete is
    date-scoped on purpose: the followed span churns 5 of ~30
    partitions, so the refresh exercises ``table_changes``'s
    manifest-level pruning — the delta-sized maintenance path the index
    exists for (full-churn refresh is covered by the model/crash nets,
    not re-paid per gate run).  In-fixture
    pins: the index version equals the table version, the synthetic
    user's lookup prunes to exactly its one home partition, and the read
    refuses nothing (exactness is asserted by the oracle comparison).
    The oracle replays the post state with plain WHEREs."""
    from ..io.index import (
        create_value_index,
        index_lookup_partitions,
        indexed_read,
        refresh_value_index,
    )
    from ..io.publish import read_manifest
    from ..io.transaction import Transaction

    e = _events(spark, sf_dir)
    syn_user = 999_999_999

    def _build(fx: str) -> None:
        from ..io.publish import clone_table

        root = os.path.join(fx, "table")
        idx = os.path.join(fx, "idx")
        # clone INSIDE the fixture root (not _cloned_events' scratch
        # path, which is recreated per call): the clone's fallback
        # reference to the cached events base stays valid because this
        # fixture's key covers the same source content
        clone_table(_events_base(spark, sf_dir), root)
        create_value_index(spark, root, "event_date", "user_id", ["event_id"], idx)
        syn = (
            e.filter(F.col("event_id") % 97 == 0)
            .withColumn("event_id", F.col("event_id") + 80_000_000)
            .withColumn("user_id", F.lit(syn_user))
            .withColumn("event_type", F.lit("synthetic"))
            .withColumn("event_date", F.lit("2040-01-01"))
        )
        txn = Transaction(spark, root, "event_date")
        txn.merge(syn, ["event_id"]).delete(
            (F.col("event_type") == "error") & (F.col("event_date") < "2024-01-05")
        )
        txn.commit()
        if refresh_value_index(spark, idx) != read_manifest(root)["version"]:
            raise AssertionError("index did not catch up to the table version")
        homes = index_lookup_partitions(spark, idx, syn_user)
        if homes != {"2040-01-01"}:
            raise AssertionError(f"index pruning is not exact: {sorted(homes)}")

    # operator under test is the indexed point READ — the clone + txn +
    # incremental-refresh script is cacheable setup (VERDICT r14 task 3);
    # the maintenance path keeps its per-round teeth in the model/crash
    # test nets, and in this build, which runs once in every process.
    # Re-pin the cheap metadata-only invariants every call: index
    # version == table version, and the synthetic user still prunes to
    # its one partition.
    from ..io.index import _follower as _idx_follower
    from ..io.index import _meta as _idx_meta

    fx = shared_fixture_root("sidx", sf_dir, "1", _build)
    idx = os.path.join(fx, "idx")
    pos = _idx_follower(idx, _idx_meta(idx)).position()
    if pos != read_manifest(os.path.join(fx, "table"))["version"]:
        raise AssertionError("cached index is behind its cached table")
    if index_lookup_partitions(spark, idx, syn_user) != {"2040-01-01"}:
        raise AssertionError("cached index pruning is not exact")
    u_min = e.agg(F.min("user_id")).collect()[0][0]
    out = indexed_read(spark, idx, syn_user, refresh=False).unionByName(
        indexed_read(spark, idx, int(u_min), refresh=False)
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("v_sum"),
            F.countDistinct("event_date").alias("n_dates"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("user_id")
    )


SECONDARY_INDEX_LOOKUP_SQL = f"""
WITH post AS (
  SELECT event_id, user_id, value, strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
  WHERE NOT (event_type = 'error' AND strftime(ts, '%Y-%m-%d') < '2024-01-05')
  UNION ALL
  SELECT event_id + 80000000, 999999999, value, '2040-01-01'
  FROM events WHERE event_id % 97 = 0
),
keys AS (SELECT MIN(user_id) AS u FROM events UNION ALL SELECT 999999999)
SELECT user_id, COUNT(*) AS n,
       {DSUM_SQL("value", 2)} AS v_sum,
       COUNT(DISTINCT event_date) AS n_dates,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM post JOIN keys ON post.user_id = keys.u
GROUP BY 1
ORDER BY 1
"""


# -- cross_table_txn: atomic multi-table catalog commit (r11 queue) -----------


def q_cross_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic cross-table publish (``io/catalog.py``): an events table
    and its per-user totals rollup live under one catalog; a synthetic
    batch lands in the events table and the matching rollup row in the
    totals table, and BOTH become visible in one catalog pointer swap.
    In-fixture pins: mid-transaction the catalog still serves the old
    consistent pair (the new user is invisible through the catalog even
    though the table pointer already shows it), and after commit the
    rollup-equals-totals invariant holds exactly (integer cents, one
    distributed full-outer mismatch count).  The oracle recomputes the
    final totals table from the source."""
    from ..io.catalog import (
        CatalogTransaction,
        catalog_read,
        catalog_register,
        create_catalog,
    )
    from ..io.publish import init_table, merge_into_versioned, read_snapshot

    def totals_of(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "v_cents"
                ),
            )
            .withColumn("bucket", F.pmod("user_id", F.lit(8)).cast("string"))
        )

    e = _events(spark, sf_dir)
    a_root = _cloned_events(spark, "d2a_cat_events", sf_dir)
    croot = _scratch_root("d2a_cat", sf_dir)

    # the cross-table transaction is the operator under test; the totals
    # publish is a cacheable setup prefix (VERDICT r15 task 5 second
    # tranche), cloned per call at hardlink cost
    def _build(fx: str) -> None:
        init_table(
            spark, totals_of(_events(spark, sf_dir)),
            os.path.join(fx, "table"), "bucket",
        )

    b_root = hardlink_clone(
        os.path.join(
            shared_fixture_root("cattotals", sf_dir, "1", _build), "table"
        ),
        _scratch_root("d2a_cat_totals", sf_dir),
    )
    create_catalog(croot)
    catalog_register(croot, "events", a_root)
    catalog_register(croot, "user_totals", b_root)

    syn_user = 888_888_888
    syn = (
        e.filter(F.col("event_id") % 211 == 0)
        .withColumn("event_id", F.col("event_id") + 90_000_000)
        .withColumn("user_id", F.lit(syn_user))
        .withColumn("event_date", F.lit("2041-06-01"))
    )
    ctx = CatalogTransaction(croot)
    v_a = merge_into_versioned(
        spark, ctx.root("events"), syn, ["event_id"], "event_date"
    )
    ctx.advance("events", v_a)
    # the table pointer moved, the catalog view did not
    mid = catalog_read(spark, croot, "events", "event_date").filter(
        F.col("user_id") == syn_user
    )
    if mid.count() != 0:
        raise AssertionError("catalog leaked a pre-publish table version")
    new_b = totals_of(read_snapshot(spark, a_root, "event_date")).filter(
        F.col("user_id") == syn_user
    )
    v_b = merge_into_versioned(
        spark, ctx.root("user_totals"), new_b, ["user_id"], "bucket"
    )
    ctx.advance("user_totals", v_b)
    ctx.commit()

    a = catalog_read(spark, croot, "events", "event_date")
    b = catalog_read(spark, croot, "user_totals", "bucket").select(
        "user_id", "n", "v_cents"
    )
    mismatches = (
        totals_of(a)
        .select("user_id", "n", "v_cents")
        .join(b.withColumnRenamed("n", "bn").withColumnRenamed("v_cents", "bv"),
              ["user_id"], "full_outer")
        .filter(
            ~(F.col("n").eqNullSafe(F.col("bn")))
            | ~(F.col("v_cents").eqNullSafe(F.col("bv")))
        )
        .count()
    )
    if mismatches:
        raise AssertionError(
            f"rollup/totals invariant broken for {mismatches} users"
        )
    return b.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("total_rows"),
        F.sum("v_cents").alias("v_cents_total"),
    )


CROSS_TABLE_TXN_SQL = """
WITH post AS (
  SELECT user_id, value FROM events
  UNION ALL
  SELECT 888888888, value FROM events WHERE event_id % 211 = 0
),
b AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v_cents
  FROM post GROUP BY 1
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       CAST(SUM(v_cents) AS BIGINT) AS v_cents_total
FROM b
"""


# -- multi_table_txn: BEGIN ... COMMIT across catalog tables ------------------


def q_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table BEGIN … COMMIT (``io/catalog.py:
    MultiTableTransaction``): UPDATE + MERGE staged on an events table
    and a MERGE on its per-user totals rollup, all against one
    consistent catalog snapshot, published in ONE catalog pointer swap.
    In-fixture pins: staging moves neither table head nor the catalog;
    the commit advances the catalog exactly one version with both pins
    at their new heads; a second transaction whose LAST member violates
    a CHECK aborts with zero orphan table commits (precheck-all before
    commit-any) and the catalog view unchanged; a member whose head
    moved past its pin is refused at BEGIN; and the rollup-equals-totals
    invariant holds exactly through the catalog view.  The oracle
    recomputes the final totals from the source."""
    from ..io.catalog import (
        MultiTableTransaction,
        catalog_manifest,
        catalog_read,
        catalog_register,
        create_catalog,
    )
    from ..io.publish import (
        ConcurrentWriteError,
        ConstraintViolationError,
        alter_table_columns,
        init_table,
        read_manifest,
    )

    def totals_of(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "v_cents"
                ),
            )
            .withColumn("bucket", F.pmod("user_id", F.lit(8)).cast("string"))
        )

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "event_date"
    )
    croot = _scratch_root("d2a_mtxn_cat", sf_dir)

    # the staged multi-table transaction is the operator under test; the
    # two initial publishes are cacheable setup prefixes (VERDICT r15
    # task 5 second tranche), cloned per call at hardlink cost — the
    # transaction's commits write new version dirs on the clones, and
    # clone_table-style manifest copies carry the totals constraints
    def _build(fx: str) -> None:
        src = _events(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value", "event_date"
        )
        init_table(spark, src, os.path.join(fx, "events"), "event_date")
        init_table(
            spark, totals_of(src), os.path.join(fx, "totals"), "bucket",
            constraints={"n_pos": "n > 0"},
        )

    pristine = shared_fixture_root("mtxnbase", sf_dir, "1", _build)
    a_root = hardlink_clone(
        os.path.join(pristine, "events"),
        _scratch_root("d2a_mtxn_events", sf_dir),
    )
    b_root = hardlink_clone(
        os.path.join(pristine, "totals"),
        _scratch_root("d2a_mtxn_totals", sf_dir),
    )
    create_catalog(croot)
    catalog_register(croot, "events", a_root)
    catalog_register(croot, "user_totals", b_root)
    cat_v0 = catalog_manifest(croot)["version"]
    a_v0 = read_manifest(a_root)["version"]
    b_v0 = read_manifest(b_root)["version"]

    syn_user = 777_777_777
    syn = (
        e.filter(F.col("event_id") % 173 == 0)
        .withColumn("event_id", F.col("event_id") + 91_000_000)
        .withColumn("user_id", F.lit(syn_user))
        .withColumn("event_type", F.lit("synthetic"))
        .withColumn("event_date", F.lit("2042-03-01"))
    )
    # the staged events final state, reconstructed independently so the
    # totals source is a pure plan (staging writes nothing to read back)
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
    mtxn.table("user_totals").merge(totals_of(post), ["user_id"])
    if read_manifest(a_root)["version"] != a_v0:
        raise AssertionError("staging moved the events table head")
    if catalog_manifest(croot)["version"] != cat_v0:
        raise AssertionError("staging moved the catalog")
    v_cat = mtxn.commit()
    if v_cat != cat_v0 + 1:
        raise AssertionError("batch did not publish as ONE catalog version")
    cat = catalog_manifest(croot)
    a_v1 = read_manifest(a_root)["version"]
    b_v1 = read_manifest(b_root)["version"]
    if (
        cat["tables"]["events"]["version"] != a_v1
        or cat["tables"]["user_totals"]["version"] != b_v1
    ):
        raise AssertionError("published pins are not at the member heads")

    # constraint violation in the LAST member: zero orphans, catalog still
    # serving the consistent committed pair
    bad = MultiTableTransaction(
        spark, croot, {"events": "event_date", "user_totals": "bucket"}
    )
    bad.table("events").delete(F.col("event_type") == "synthetic")
    bad.table("user_totals").update(
        F.col("user_id") == syn_user, {"n": F.lit(-1).cast("long")}
    )
    try:
        bad.commit()
        raise AssertionError("CHECK violation did not abort the batch")
    except ConstraintViolationError:
        pass
    if read_manifest(a_root)["version"] != a_v1:
        raise AssertionError("aborted batch left an orphan events commit")
    if read_manifest(b_root)["version"] != b_v1:
        raise AssertionError("aborted batch left an orphan totals commit")
    if catalog_manifest(croot)["version"] != v_cat:
        raise AssertionError("aborted batch moved the catalog")

    # a head moved past its pin outside the catalog is refused at BEGIN
    alter_table_columns(b_root, add=[("note", "string")])
    try:
        MultiTableTransaction(spark, croot, {"user_totals": "bucket"})
        raise AssertionError("stale pin was not refused")
    except ConcurrentWriteError:
        pass

    a = catalog_read(spark, croot, "events", "event_date")
    b = catalog_read(spark, croot, "user_totals", "bucket")
    mismatches = (
        totals_of(a)
        .select("user_id", "n", "v_cents")
        .join(
            b.select(
                "user_id",
                F.col("n").alias("bn"),
                F.col("v_cents").alias("bv"),
            ),
            ["user_id"],
            "full_outer",
        )
        .filter(
            ~(F.col("n").eqNullSafe(F.col("bn")))
            | ~(F.col("v_cents").eqNullSafe(F.col("bv")))
        )
        .count()
    )
    if mismatches:
        raise AssertionError(
            f"rollup/totals invariant broken for {mismatches} users"
        )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("total_rows"),
            F.sum("v_cents").alias("v_cents_sum"),
        )
        .orderBy("bucket")
    )


def q_merge_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through MERGE (``io/publish.py:
    merge_into_versioned(allow_schema_evolution=True)``) — the implicit
    ADD COLUMN door, exercised through its nastiest corner: (1) a
    widening merge adds ``score`` (every partition rewrites, non-source
    rows read typed NULL); (2) ``alter_table_columns`` DROPs it —
    metadata-only, so every file still physically holds the bytes;
    (3) a single-partition evolution merge RE-ADDS ``score`` — and the
    add-log shadowing must make the never-rewritten partitions' stale
    physical bytes read NULL instead of resurrecting, while the merged
    partition's fresh values surface.  A plain widen without the
    add-log record would silently pass (1) and corrupt at (3), which is
    why the fixture scripts all three.  In-fixture pins: schema
    presence/absence per phase, the rejected no-flag widen, and the
    zero-resurrection count; the oracle replays the final state."""
    from ..io.publish import (
        alter_table_columns,
        init_table,
        merge_into_versioned,
        read_manifest,
        read_snapshot,
    )

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "event_date"
    )

    # the widen→drop→re-add sequence is the operator under test; the
    # 5-column initial publish is a cacheable setup prefix (VERDICT r15
    # task 5 second tranche), cloned per call at hardlink cost
    def _build(fx: str) -> None:
        init_table(
            spark,
            _events(spark, sf_dir).select(
                "event_id", "user_id", "event_type", "value", "event_date"
            ),
            os.path.join(fx, "table"),
            "event_date",
        )

    root = hardlink_clone(
        os.path.join(
            shared_fixture_root("widenbase", sf_dir, "1", _build), "table"
        ),
        _scratch_root("d2a_widen", sf_dir),
    )

    src1 = e.filter(F.col("event_type") == "purchase").withColumn(
        "score", F.col("value") / 10
    )
    try:
        merge_into_versioned(spark, root, src1, ["event_id"], "event_date")
        raise AssertionError("unflagged widening merge was not refused")
    except ValueError:
        pass
    merge_into_versioned(
        spark, root, src1, ["event_id"], "event_date",
        allow_schema_evolution=True,
    )
    snap = read_snapshot(spark, root, "event_date")
    if "score" not in snap.columns:
        raise AssertionError("widening merge did not add the column")
    if snap.filter(
        (F.col("event_type") != "purchase") & F.col("score").isNotNull()
    ).count():
        raise AssertionError("non-source rows did not read NULL score")

    alter_table_columns(root, drop=["score"])
    if "score" in read_snapshot(spark, root, "event_date").columns:
        raise AssertionError("DROP COLUMN did not take")

    d0 = e.agg(F.min("event_date")).collect()[0][0]
    src3 = e.filter(F.col("event_date") == d0).withColumn(
        "score", F.col("value") / 20
    )
    merge_into_versioned(
        spark, root, src3, ["event_id"], "event_date",
        allow_schema_evolution=True,
    )
    snap = read_snapshot(spark, root, "event_date")
    # the anti-resurrection pin: every partition except d0 still
    # physically holds phase-1 score bytes, and they must read NULL
    if snap.filter(
        (F.col("event_date") != d0) & F.col("score").isNotNull()
    ).count():
        raise AssertionError("dropped column bytes resurrected after re-add")
    if read_manifest(root)["version"] != 4:
        raise AssertionError("expected versions init/widen/drop/re-add")
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("score").alias("n_score"),
            dsum("score", 4).alias("score_sum"),
            dsum("value", 2).alias("v_sum"),
        )
        .orderBy("event_type")
    )


MERGE_SCHEMA_WIDENING_SQL = """
WITH post AS (
  SELECT event_type, value,
         CASE WHEN strftime(ts, '%Y-%m-%d') =
                   (SELECT MIN(strftime(ts, '%Y-%m-%d')) FROM events)
              THEN value / 20 ELSE NULL END AS score
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       COUNT(score) AS n_score,
       {DSUM4} AS score_sum,
       {DSUM2} AS v_sum
FROM post
GROUP BY 1
ORDER BY 1
""".format(DSUM4=DSUM_SQL("score", 4), DSUM2=DSUM_SQL("value", 2))


MULTI_TABLE_TXN_SQL = """
WITH post AS (
  SELECT user_id,
         CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
  FROM events
  UNION ALL
  SELECT 777777777, value FROM events WHERE event_id % 173 = 0
),
t AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v_cents
  FROM post GROUP BY 1
)
SELECT CAST(user_id % 8 AS VARCHAR) AS bucket,
       COUNT(*) AS n_users,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       CAST(SUM(v_cents) AS BIGINT) AS v_cents_sum
FROM t
GROUP BY 1
ORDER BY 1
"""


# -- shallow_clone_divergence: zero-copy clone (r11 queue) --------------------


def q_shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (``io/publish.py: clone_table``): the clone is
    created without copying a byte (asserted: zero parquet under the
    clone root), reads resolve through the fallback chain to the
    source's immutable directories, and the two tables then diverge
    independently — a delete lands on the clone only, a merge on the
    source only (all four isolation directions pinned with cheap
    filtered counts).  The oracle replays both divergent states and the
    fixture returns their side-tagged rollup."""
    from ..io.publish import (
        clone_table,
        delete_from_versioned,
        merge_into_versioned,
        read_snapshot,
    )

    e = _events(spark, sf_dir)
    src = _cloned_events(spark, "d2a_clone_src", sf_dir)
    dst = _scratch_root("d2a_clone_dst", sf_dir)
    clone_table(src, dst)
    if any(
        f.endswith(".parquet") for _d, _dn, fs in os.walk(dst) for f in fs
    ):
        raise AssertionError("shallow clone copied data files")

    syn = (
        e.filter(F.col("event_id") % 401 == 0)
        .withColumn("event_id", F.col("event_id") + 60_000_000)
        .withColumn("event_type", F.lit("cloned_in"))
    )
    delete_from_versioned(
        spark, dst, "event_date", F.col("event_type") == "click"
    )
    merge_into_versioned(spark, src, syn, ["event_id"], "event_date")

    s = read_snapshot(spark, src, "event_date")
    d = read_snapshot(spark, dst, "event_date")
    if s.filter(F.col("event_type") == "click").count() == 0:
        raise AssertionError("clone delete leaked into the source")
    if d.filter(F.col("event_type") == "click").count() != 0:
        raise AssertionError("clone delete did not apply")
    if s.filter(F.col("event_type") == "cloned_in").count() == 0:
        raise AssertionError("source merge did not apply")
    if d.filter(F.col("event_type") == "cloned_in").count() != 0:
        raise AssertionError("source merge leaked into the clone")
    tagged = s.withColumn("side", F.lit("src")).unionByName(
        d.withColumn("side", F.lit("clone"))
    )
    return (
        tagged.groupBy("side", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("v_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("side", "event_type")
    )


SHALLOW_CLONE_DIVERGENCE_SQL = f"""
WITH post AS (
  SELECT 'src' AS side, event_id, event_type, value FROM events
  UNION ALL
  SELECT 'src', event_id + 60000000, 'cloned_in', value
  FROM events WHERE event_id % 401 = 0
  UNION ALL
  SELECT 'clone', event_id, event_type, value
  FROM events WHERE event_type <> 'click'
)
SELECT side, event_type, COUNT(*) AS n,
       {DSUM_SQL("value", 2)} AS v_sum,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM post
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- branch_merge_disjoint: three-way branch merge (r11 queue) ----------------


def q_branch_merge_disjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way branch merge (``io/publish.py: merge_branch``): the
    branch drops the earliest date via a merge-on-read DELETE while main
    concurrently merges new rows into a brand-new date — the exact case
    ``fast_forward`` must refuse (main moved) — and the partition-level
    merge publishes BOTH effects in one main commit, carrying the
    branch's deletion vectors into main's manifest (asserted).  The
    oracle replays both sides' set algebra."""
    from ..io.publish import (
        create_branch,
        delete_from_versioned,
        merge_branch,
        merge_into_versioned,
        read_manifest,
        read_snapshot,
    )

    e = _events(spark, sf_dir)
    root = _cloned_events(spark, "d2a_bmerge", sf_dir)
    victim = e.agg(F.min("event_date")).collect()[0][0]

    create_branch(root, "work")
    delete_from_versioned(
        spark, root, "event_date",
        F.col("event_date") == victim,
        ref="work", mode="merge_on_read", key_cols=["event_id"],
    )
    syn = (
        e.filter(F.col("event_id") % 301 == 0)
        .withColumn("event_id", F.col("event_id") + 61_000_000)
        .withColumn("event_date", F.lit("2042-03-01"))
    )
    merge_into_versioned(spark, root, syn, ["event_id"], "event_date")

    v = merge_branch(root, "work")
    m = read_manifest(root)
    if m["version"] != v or not m["operation"].startswith("merge_branch(work@"):
        raise AssertionError("branch merge not recorded as merge_branch")
    if victim not in m.get("dv", {}).get("files", {}):
        raise AssertionError("branch deletion vectors not carried into main")
    return _type_rollup(read_snapshot(spark, root, "event_date"))


BRANCH_MERGE_DISJOINT_SQL = f"""
WITH post AS (
  SELECT event_id, event_type, value FROM events
  WHERE strftime(ts, '%Y-%m-%d')
        <> (SELECT MIN(strftime(ts, '%Y-%m-%d')) FROM events)
  UNION ALL
  SELECT event_id + 61000000, event_type, value
  FROM events WHERE event_id % 301 = 0
)
{_TYPE_ROLLUP_SQL}
"""


# -- column_evolution: metadata-only ADD/DROP/RENAME (r11 queue) --------------


def q_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column evolution (``io/publish.py:
    alter_table_columns``): one commit adds ``score``, renames ``value``
    to ``amount`` and drops ``props`` with ZERO parquet rewritten
    (asserted by file count), readers map each piece's physical names
    through the rename log, and a post-alter MERGE writes the new
    physical names so the final read mixes pre- and post-alter pieces
    (old rows surface NULL scores, renamed values carry through, the
    rename-followed zone maps still prune).  The oracle replays the
    rename as a SELECT alias and the merge as a UNION."""
    from ..io.publish import (
        alter_table_columns,
        init_table,
        merge_into_versioned,
        read_manifest,
        read_snapshot,
    )

    e = _events(spark, sf_dir)

    # the ALTER + post-alter MERGE are the operators under test; the
    # zone-mapped initial publish is a cacheable setup prefix (VERDICT
    # r15 task 5 second tranche), cloned per call at hardlink cost
    def _build(fx: str) -> None:
        init_table(
            spark, _events(spark, sf_dir), os.path.join(fx, "table"),
            "event_date", stats_cols=["value"],
        )

    pristine = os.path.join(
        shared_fixture_root("colevo", sf_dir, "1", _build), "table"
    )
    root = hardlink_clone(pristine, _scratch_root("d2a_colevo", sf_dir))

    def n_parquet() -> int:
        return sum(
            1
            for _d, _dn, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    before = n_parquet()
    alter_table_columns(
        root,
        add=[("score", "double")],
        drop=["props"],
        rename={"value": "amount"},
    )
    if n_parquet() != before:
        raise AssertionError("ALTER rewrote data files")
    m = read_manifest(root)
    if [n for n, _t in m["schema"]] != [
        "event_id", "ts", "user_id", "event_type", "amount", "event_date",
        "score",
    ]:
        raise AssertionError(f"wrong post-alter schema: {m['schema']}")

    snap = read_snapshot(spark, root, "event_date")
    fresh = (
        snap.filter(F.col("event_type") == "purchase")
        .withColumn("event_id", F.col("event_id") + 55_000_000)
        .withColumn("amount", F.lit(123.0))
        .withColumn("score", F.lit(0.5))
    )
    merge_into_versioned(spark, root, fresh, ["event_id"], "event_date")
    after = read_snapshot(spark, root, "event_date")
    # the rename-followed zone maps still prune: range read returns rows
    hi = after.agg(F.max("amount")).collect()[0][0]
    ranged = read_snapshot(
        spark, root, "event_date", predicate=("amount", float(hi), float(hi))
    )
    if ranged.count() == 0:
        raise AssertionError("renamed zone map lost the range read")
    return (
        after.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("amount", 2).alias("amount_sum"),
            F.count("score").alias("n_scored"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


COLUMN_EVOLUTION_SQL = f"""
WITH post AS (
  SELECT event_id, event_type, value AS amount, CAST(NULL AS DOUBLE) AS score
  FROM events
  UNION ALL
  SELECT event_id + 55000000, event_type, 123.0, 0.5
  FROM events WHERE event_type = 'purchase'
)
SELECT event_type, COUNT(*) AS n,
       {DSUM_SQL("amount", 2)} AS amount_sum,
       COUNT(score) AS n_scored,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM post
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "sync_versioned": q_sync_versioned,
    "table_follower_rollup": q_table_follower_rollup,
    "csv_orc_roundtrip": q_csv_orc_roundtrip,
    "branch_wap_publish": q_branch_wap_publish,
    "deletion_vectors": q_deletion_vectors,
    "cdc_apply_mixed": q_cdc_apply_mixed,
    "spec_evolution": q_spec_evolution,
    "multi_field_spec": q_multi_field_spec,
    "metadata_tables": q_metadata_tables,
    "optimize_zorder": q_optimize_zorder,
    "check_constraints": q_check_constraints,
    "multi_table_txn": q_multi_table_txn,
    "merge_schema_widening": q_merge_schema_widening,
    "update_set": q_update_set,
    "update_mor": q_update_mor,
    "multi_statement_txn": q_multi_statement_txn,
    "secondary_index_lookup": q_secondary_index_lookup,
    "cross_table_txn": q_cross_table_txn,
    "shallow_clone_divergence": q_shallow_clone_divergence,
    "branch_merge_disjoint": q_branch_merge_disjoint,
    "column_evolution": q_column_evolution,
}

ORACLES = {
    "sync_versioned": SYNC_VERSIONED_SQL,
    "table_follower_rollup": TABLE_FOLLOWER_SQL,
    "csv_orc_roundtrip": CSV_ORC_ROUNDTRIP_SQL,
    "branch_wap_publish": BRANCH_WAP_SQL,
    "deletion_vectors": DELETION_VECTORS_SQL,
    "cdc_apply_mixed": CDC_APPLY_SQL,
    "spec_evolution": SPEC_EVOLUTION_SQL,
    "multi_field_spec": MULTI_FIELD_SPEC_SQL,
    "metadata_tables": METADATA_TABLES_SQL,
    "optimize_zorder": OPTIMIZE_ZORDER_SQL,
    "check_constraints": CHECK_CONSTRAINTS_SQL,
    "multi_table_txn": MULTI_TABLE_TXN_SQL,
    "merge_schema_widening": MERGE_SCHEMA_WIDENING_SQL,
    "update_set": UPDATE_SET_SQL,
    "update_mor": UPDATE_MOR_SQL,
    "multi_statement_txn": MULTI_STATEMENT_TXN_SQL,
    "secondary_index_lookup": SECONDARY_INDEX_LOOKUP_SQL,
    "cross_table_txn": CROSS_TABLE_TXN_SQL,
    "shallow_clone_divergence": SHALLOW_CLONE_DIVERGENCE_SQL,
    "branch_merge_disjoint": BRANCH_MERGE_DISJOINT_SQL,
    "column_evolution": COLUMN_EVOLUTION_SQL,
}
