"""Round-5 scale operators: exact heavy hitters, Z-order layout keys,
schema-evolution reads.  Each query has a DuckDB oracle twin.

These extend the engine along the axes a 100-TB deployment hits first:
frequency analysis without a full-histogram shuffle (``functions/heavy.py``),
multi-dim file-skipping layout (``operators/layout.py``), and
mixed-generation schema-on-read (``io/evolution.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DSUM_SQL, dsum
from ..functions.heavy import heavy_hitters
from ..io.evolution import read_evolving, union_generations
from ..io.tables import _scratch_root, load_table
from .protocol_queries import shared_fixture_root
from ..operators.layout import (
    scale_to_bits,
    scale_to_bits_sql,
    zorder_key2,
    zorder_key2_sql,
)

# -- heavy_hitters: exact frequent users, shuffle bounded by the answer -------

HH_M = 120  # report users holding > 1/120 of all events


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters over ``events.user_id``.

    Pass 1 is map-only local counting (``mapInPandas``) emitting only
    locally-frequent candidates — a guaranteed superset of the answer by
    pigeonhole; pass 2 broadcast-semi-joins the candidates and recounts
    exactly.  No shuffle ever carries the full user histogram.
    """
    e = load_table(spark, sf_dir, "events")
    return heavy_hitters(e, "user_id", m=HH_M)


HEAVY_HITTERS_SQL = f"""
SELECT user_id, COUNT(*) AS cnt
FROM events
GROUP BY user_id
HAVING COUNT(*) * {HH_M} > (SELECT COUNT(*) FROM events)
ORDER BY cnt DESC, user_id
"""

# -- zorder_key: Morton layout key over (user, minute) ------------------------


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key for every event over (user_id, minute-of-stream).

    Both dims are rank-scaled to 8 bits against their global min/max (one
    broadcast 1-row aggregate — no second scan materialization), then
    bit-interleaved JVM-side.  The oracle recomputes the identical
    shift/mask chain in SQL, certifying the key bit-for-bit; the layout
    write built on this key is exercised in ``tests/test_layout.py``.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 60000000").alias("minute_idx"),
    )
    stats = e.agg(
        F.min("user_id").alias("u_lo"),
        F.max("user_id").alias("u_hi"),
        F.min("minute_idx").alias("t_lo"),
        F.max("minute_idx").alias("t_hi"),
    )
    j = e.crossJoin(F.broadcast(stats))
    u8 = scale_to_bits("user_id", F.col("u_lo"), F.col("u_hi"), 8)
    t8 = scale_to_bits("minute_idx", F.col("t_lo"), F.col("t_hi"), 8)
    return j.select(
        "event_id",
        u8.alias("u8"),
        t8.alias("t8"),
        zorder_key2(u8, t8).alias("zkey"),
    )


_U8 = scale_to_bits_sql("user_id", "u_lo", "u_hi", 8)
_T8 = scale_to_bits_sql("minute_idx", "t_lo", "t_hi", 8)

ZORDER_KEY_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) // 60000000 AS minute_idx FROM events
),
s AS (
  SELECT MIN(user_id) AS u_lo, MAX(user_id) AS u_hi,
         MIN(minute_idx) AS t_lo, MAX(minute_idx) AS t_hi
  FROM e
),
x AS (
  SELECT event_id, CAST({_U8} AS BIGINT) AS u8, CAST({_T8} AS BIGINT) AS t8
  FROM e, s
)
SELECT event_id, u8, t8, CAST({zorder_key2_sql("u8", "t8")} AS BIGINT) AS zkey
FROM x
"""

# -- schema_evolution_read: mixed-generation scan -----------------------------


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two schema generations of ``documents`` and read them as one.

    Generation 1 (odd doc_ids) has the legacy 3-column schema; generation 2
    (even doc_ids) adds ``source``, ``n_chars`` and a new computed
    ``quality`` double.  The merged scan (``read_evolving`` — footer-union
    ``mergeSchema``) and the explicit ``union_generations`` alignment must
    agree; the query returns per-lang stats over the merged relation where
    legacy rows surface as typed nulls.  The oracle reproduces the split
    from the source table directly.
    """
    docs = load_table(spark, sf_dir, "documents")
    gen1 = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text", "lang")
    gen2 = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("quality", (F.length("text") / F.lit(100.0)).cast("double"))
    )
    root = _scratch_root("d2a_evo", sf_dir)
    p1, p2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    gen1.write.mode("overwrite").parquet(p1)
    gen2.write.mode("overwrite").parquet(p2)

    merged = read_evolving(spark, p1, p2)
    explicit = union_generations(
        [spark.read.parquet(p1), spark.read.parquet(p2)]
    ).select(*sorted(merged.columns))
    merged = merged.select(*sorted(merged.columns))

    def profile(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("source").isNull().cast("long")).alias("n_legacy"),
            F.sum("n_chars").alias("chars_new"),
            dsum("quality", 2).alias("quality_sum"),
        )

    # both read paths must produce identical stats; surface that as a
    # verified boolean instead of asserting driver-side
    a = profile(merged)
    b = profile(explicit).withColumnRenamed("n_total", "n_total_b").select(
        "lang",
        "n_total_b",
        F.col("n_legacy").alias("n_legacy_b"),
        F.col("chars_new").alias("chars_new_b"),
        F.col("quality_sum").alias("quality_sum_b"),
    )
    return (
        a.join(b, "lang")
        .select(
            "lang",
            "n_total",
            "n_legacy",
            "chars_new",
            "quality_sum",
            (
                (F.col("n_total") == F.col("n_total_b"))
                & (F.col("n_legacy") == F.col("n_legacy_b"))
                & (F.col("chars_new").eqNullSafe(F.col("chars_new_b")))
                & (F.col("quality_sum").eqNullSafe(F.col("quality_sum_b")))
            ).alias("paths_agree"),
        )
        .orderBy("lang")
    )


SCHEMA_EVOLUTION_SQL = f"""
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT) AS chars_new,
       {DSUM_SQL("CASE WHEN doc_id % 2 = 0 THEN length(text) / 100.0 END", 2)}
         AS quality_sum,
       TRUE AS paths_agree
FROM documents
GROUP BY lang
ORDER BY lang
"""

# -- merge_upsert: copy-on-write MERGE INTO over partitioned parquet ---------


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO round-trip (operators/merge.py): reset a
    date-partitioned copy of events, upsert a source batch (purchase
    values +100 as UPDATEs; every-7th click's value set to NULL — the
    NULL-ing update `coalesce` resolution gets wrong; next-day signup
    clones as INSERTs into new partitions), read the table back, and
    aggregate per partition.

    The oracle replays the same UPDATE+INSERT set-algebra directly over
    the source table, so a hash match certifies the whole write path —
    partition-pruned rewrite, source-presence merge resolution (NULLs
    stick), dynamic partition overwrite, new-partition creation — not
    just the join.  ``n_nulls`` makes the NULL-update observable on its
    own, beyond its effect on ``v_sum``.
    """
    from ..operators.merge import merge_into
    from .protocol_queries import hardlink_clone

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    path = _scratch_root("d2a_merge", sf_dir)

    # The operator under test is the MERGE write path — the partitioned
    # reset copy is a cacheable setup prefix (VERDICT r15 task 5): pay
    # the full partitioned write once per process, then reset
    # per call at hardlink cost.  The merge's dynamic partition
    # overwrite replaces files (new inodes + unlink), never writes into
    # an existing one, so the cached pristine copy is never reachable
    # from the clone's mutations; the per-call reset keeps the query a
    # pure function of the source table across repeated runs.
    def _build(fx: str) -> None:
        e.write.mode("overwrite").partitionBy("event_date").parquet(
            os.path.join(fx, "table")
        )

    pristine = os.path.join(
        shared_fixture_root("mergebase", sf_dir, "1", _build), "table"
    )
    hardlink_clone(pristine, path)
    spark.catalog.refreshByPath(path)

    upd = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 100.0
    )
    nul = e.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 7 == 0)
    ).withColumn("value", F.lit(None).cast("double"))
    ins = (
        e.filter(F.col("event_type") == "signup")
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    ins = ins.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    merge_into(
        spark,
        path,
        upd.unionByName(nul).unionByName(ins),
        ["event_id"],
        "event_date",
    )

    after = spark.read.parquet(path)
    return (
        after.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", 2).alias("v_sum"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
        )
        .orderBy("event_date")
    )


MERGE_UPSERT_SQL = f"""
WITH merged AS (
  SELECT ts,
         CASE WHEN event_type = 'purchase' THEN value + 100
              WHEN event_type = 'click' AND event_id % 7 = 0 THEN NULL
              ELSE value END
           AS value
  FROM events
  UNION ALL
  SELECT ts + INTERVAL 1 DAY AS ts, value FROM events
  WHERE event_type = 'signup'
)
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_rows,
       {DSUM_SQL("value", 2)} AS v_sum,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
FROM merged
GROUP BY 1
ORDER BY 1
"""


def q_merge_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic MERGE + OPTIMIZE + GC over a versioned table (io/publish.py).

    Full protocol round-trip: publish events as a versioned table
    (``init_table``), MERGE a batch that exercises all three hard cases —
    NULL-ing updates (purchases), partition-MOVING updates (signups +2
    days, old home rewritten), and new-key INSERTs (error clones, +1 day)
    — through ``merge_into_versioned`` (fresh ``_v{{N}}`` dir + one
    ``os.replace`` manifest swap: readers see old or new, never mixed),
    then ``compact_versioned`` (atomic OPTIMIZE back to one live version)
    and ``vacuum`` (GC unreferenced versions).  The per-day aggregate of
    the final snapshot must hash-match the oracle's direct set-algebra
    replay — certifying merge resolution, snapshot reconstruction,
    compaction content-preservation, and GC safety in one row set.
    Crash-injection (old-or-new, never mixed) is pinned in
    tests/test_publish.py.
    """
    from ..io.publish import (
        compact_versioned,
        init_table,
        merge_into_versioned,
        read_snapshot,
        vacuum,
    )
    from .protocol_queries import _pristine_versioned_events

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # The operator under test is the MERGE→OPTIMIZE→VACUUM protocol; the
    # initial `init_table` publish is a cacheable setup prefix (VERDICT
    # r15 task 5 second tranche): built once per process, cloned
    # per call at hardlink cost — every later commit writes NEW version
    # dirs and vacuum only unlinks the clone's links, so the cached
    # pristine table is never reachable from the mutations.
    root = _pristine_versioned_events(spark, "d2a_vtable", sf_dir)

    nul = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.lit(None).cast("double")
    )
    mov = e.filter(F.col("event_type") == "signup").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAY")
    )
    mov = mov.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    ins = (
        e.filter(F.col("event_type") == "error")
        .withColumn("event_id", F.col("event_id") + 20_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    ins = ins.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    merge_into_versioned(
        spark, root, nul.unionByName(mov).unionByName(ins), ["event_id"], "event_date"
    )
    compact_versioned(spark, root, "event_date", "event_id")
    vacuum(root)

    snap = read_snapshot(spark, root, "event_date")
    return (
        snap.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", 2).alias("v_sum"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
        )
        .orderBy("event_date")
    )


MERGE_VERSIONED_SQL = f"""
WITH merged AS (
  SELECT ts, CAST(NULL AS DOUBLE) AS value FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT ts + INTERVAL 2 DAY AS ts, value FROM events WHERE event_type = 'signup'
  UNION ALL
  SELECT ts, value FROM events WHERE event_type NOT IN ('purchase', 'signup')
  UNION ALL
  SELECT ts + INTERVAL 1 DAY AS ts, value FROM events WHERE event_type = 'error'
)
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_rows,
       {DSUM_SQL("value", 2)} AS v_sum,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
FROM merged
GROUP BY 1
ORDER BY 1
"""

def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction roundtrip (``io/compact.py``).

    Fragments a date-partitioned copy of events into hundreds of KB-scale
    files (``repartition(8)`` before ``partitionBy`` — every task writes
    every partition, the classic ingest anti-pattern), compacts it with
    range-clustered size-targeted rewrite, and aggregates the compacted
    table per day.  The oracle recomputes the same aggregate straight from
    the source table, so a hash match certifies compaction is
    content-preserving; the file-count collapse itself is pinned in
    tests/test_compact.py.
    """
    from ..io.compact import compact_dataset

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    src = _scratch_root("d2a_frag", sf_dir)
    dst = _scratch_root("d2a_compact", sf_dir)
    e.repartition(8).write.mode("overwrite").partitionBy("event_date").parquet(src)
    spark.catalog.refreshByPath(src)
    after = compact_dataset(
        spark, src, dst, ["event_date"], "event_id", target_file_bytes=64 << 20
    )
    return (
        after.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", 2).alias("v_sum"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_date")
    )


COMPACTION_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_rows,
       {DSUM_SQL("value", 2)} AS v_sum,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events
GROUP BY 1
ORDER BY 1
"""


def q_snapshot_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruned scan over a versioned table (``io/publish.py``).

    Publishes events as a versioned table with per-partition min/max
    stats on ``event_id`` (the zone-map half of a table format's
    metadata), then reads the middle-fifth id range through
    ``read_snapshot(predicate=…)`` — partitions whose recorded range
    cannot intersect are skipped BEFORE any file is opened (actual
    skipping pinned in tests/test_publish.py; sequential ids make date
    partitions id-disjoint, the layout this serves).  The oracle applies
    the identical BETWEEN directly, so a hash match proves skipping
    never changes results — zone maps are I/O advice, not semantics.
    """
    from ..io.publish import init_table, read_snapshot

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )

    def _build(fx: str) -> None:
        init_table(
            spark, e, os.path.join(fx, "table"), "event_date",
            stats_cols=["event_id"],
        )

    # operator under test is the zone-map pruned READ — the table
    # publish is cacheable setup (VERDICT r14 task 3)
    root = os.path.join(
        shared_fixture_root("zone", sf_dir, "1", _build), "table"
    )
    b = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    span = int(b[1]) - int(b[0])
    lo, hi = int(b[0]) + span * 2 // 5, int(b[0]) + span * 3 // 5
    snap = read_snapshot(
        spark, root, "event_date", predicate=("event_id", lo, hi)
    )
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", 2).alias("v_sum"),
            F.min("event_id").alias("id_lo"),
            F.max("event_id").alias("id_hi"),
        )
        .orderBy("event_type")
    )


SNAPSHOT_PRUNED_SQL = f"""
WITH b AS (SELECT MIN(event_id) AS lo0, MAX(event_id) AS hi0 FROM events),
sel AS (
  SELECT e.* FROM events e, b
  WHERE e.event_id BETWEEN b.lo0 + (b.hi0 - b.lo0) * 2 // 5
                       AND b.lo0 + (b.hi0 - b.lo0) * 3 // 5
)
SELECT event_type,
       COUNT(*) AS n_rows,
       {DSUM_SQL("value", 2)} AS v_sum,
       MIN(event_id) AS id_lo,
       MAX(event_id) AS id_hi
FROM sel
GROUP BY event_type
ORDER BY event_type
"""


def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two committed versions of a versioned
    table (``io/publish.py: table_changes``): publish events (v1), MERGE
    a batch of value updates + NULL-ing updates + inserts (v2), then
    diff the two TIME-TRAVEL reads — immutable per-version manifests make
    v1 addressable after v2 commits.  Result: per (change_type,
    changed_cols) counts; the oracle replays the merge set-algebra and
    the null-safe diff directly over the source table, so a hash match
    certifies versioned reads, the diff classification, AND the
    changed-column attribution in one row set."""
    from ..io.publish import (
        init_table,
        merge_into_versioned,
        read_manifest,
        table_changes,
    )

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )

    def _build(fx: str) -> None:
        root = os.path.join(fx, "table")
        init_table(spark, e, root, "event_date")
        upd = e.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") + 100.0
        )
        nul = e.filter(
            (F.col("event_type") == "view") & (F.col("event_id") % 11 == 0)
        ).withColumn("value", F.lit(None).cast("double"))
        ins = (
            e.filter(F.col("event_type") == "error")
            .withColumn("event_id", F.col("event_id") + 30_000_000)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        )
        ins = ins.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        merge_into_versioned(
            spark, root, upd.unionByName(nul).unionByName(ins),
            ["event_id"], "event_date",
        )

    # operator under test is the change-feed READ between two committed
    # versions — the init+merge fixture is cacheable setup (VERDICT r14
    # task 3); v2 is the fixture head, re-read from its manifest
    root = os.path.join(
        shared_fixture_root("cdf", sf_dir, "1", _build), "table"
    )
    v2 = read_manifest(root)["version"]
    cdf = table_changes(spark, root, "event_date", ["event_id"], 1, v2)
    return (
        cdf.groupBy("change_type", "changed_cols")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type", "changed_cols")
    )


TABLE_CHANGES_SQL = """
WITH old AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
         strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
), new AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         CASE WHEN event_type = 'purchase' THEN value + 100
              WHEN event_type = 'view' AND event_id % 11 = 0 THEN NULL
              ELSE value END AS value,
         props, strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
  UNION ALL
  SELECT event_id + 30000000, epoch_us(ts + INTERVAL 1 DAY), user_id,
         event_type, value, props,
         strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d')
  FROM events WHERE event_type = 'error'
), j AS (
  SELECT CASE WHEN o.event_id IS NULL THEN 'added'
              WHEN n.event_id IS NULL THEN 'removed'
              WHEN o.ts_us       IS DISTINCT FROM n.ts_us
                OR o.user_id     IS DISTINCT FROM n.user_id
                OR o.event_type  IS DISTINCT FROM n.event_type
                OR o.value       IS DISTINCT FROM n.value
                OR o.props       IS DISTINCT FROM n.props
                OR o.event_date  IS DISTINCT FROM n.event_date
              THEN 'changed' END AS change_type,
         CASE WHEN o.event_id IS NULL OR n.event_id IS NULL THEN ''
              ELSE concat_ws(',',
                CASE WHEN o.ts_us IS DISTINCT FROM n.ts_us THEN 'ts' END,
                CASE WHEN o.user_id IS DISTINCT FROM n.user_id THEN 'user_id' END,
                CASE WHEN o.event_type IS DISTINCT FROM n.event_type THEN 'event_type' END,
                CASE WHEN o.value IS DISTINCT FROM n.value THEN 'value' END,
                CASE WHEN o.props IS DISTINCT FROM n.props THEN 'props' END,
                CASE WHEN o.event_date IS DISTINCT FROM n.event_date THEN 'event_date' END)
         END AS changed_cols
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
)
SELECT change_type, changed_cols, COUNT(*) AS n
FROM j WHERE change_type IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


QUANTILES = [0.5, 0.95, 0.99]


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of l_extendedprice in two bounded aggregate
    passes (``functions/selection.py``) — distributed selection instead of
    the global sort `percentile_disc` implies; the oracle ranks every row
    with ROW_NUMBER and picks the same ``max(1, ceil(q·n))`` order
    statistic, so a hash match proves the histogram-refinement walk exact.
    """
    from ..functions.selection import exact_quantiles

    return exact_quantiles(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", QUANTILES
    )


EXACT_QUANTILES_SQL = f"""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS s FROM lineitem
  WHERE l_extendedprice IS NOT NULL
), n AS (SELECT COUNT(*) AS n FROM v),
ranked AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM v)
SELECT qs.q, ranked.s AS value_scaled
FROM (VALUES {", ".join(f"({q})" for q in QUANTILES)}) qs(q)
CROSS JOIN n
JOIN ranked ON ranked.rn = GREATEST(1, CAST(CEIL(qs.q * n.n) AS BIGINT))
ORDER BY qs.q
"""


PCONT_QS = [0.25, 0.5, 0.95, 0.99]


def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact INTERPOLATED percentiles of l_extendedprice
    (``functions/selection.py: exact_percentile_cont``): the
    ``percentile_cont`` convention (index ``h = q·(n−1)``, linear
    interpolation between bracketing order statistics) through the same
    bounded histogram-refinement core as ``exact_quantiles`` — both
    bracketing ranks for all qs fetched in one refinement.  The
    interpolation ships as exact integers (``frac_num``/``interp_rem``
    over fixed 10⁶ denominators), so the oracle's independent
    ROW_NUMBER + integer-arithmetic replay must hash-match bit-for-bit —
    no cross-engine floating-point appeal."""
    from ..functions.selection import exact_percentile_cont

    return exact_percentile_cont(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", PCONT_QS
    )


PCONT_SQL = f"""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS s FROM lineitem
  WHERE l_extendedprice IS NOT NULL
), n AS (SELECT COUNT(*) AS n FROM v),
ranked AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM v),
loc AS (
  SELECT q.q,
         (CAST(q.p AS BIGINT) * (n.n - 1)) // 1000000 AS lo0,
         (CAST(q.p AS BIGINT) * (n.n - 1)) % 1000000 AS frac,
         n.n AS n
  FROM (VALUES {", ".join(f"(CAST({q} AS DOUBLE), {round(q * 10**6)})" for q in PCONT_QS)}) q(q, p)
  CROSS JOIN n
)
SELECT l.q, rl.s AS lo_scaled, rh.s AS hi_scaled,
       CAST(l.frac AS BIGINT) AS frac_num,
       CAST(l.frac * (rh.s - rl.s) AS BIGINT) AS interp_rem
FROM loc l
JOIN ranked rl ON rl.rn = l.lo0 + 1
JOIN ranked rh ON rh.rn = CASE WHEN l.lo0 + 2 > l.n THEN l.n ELSE l.lo0 + 2 END
ORDER BY l.q
"""


HIST_BINS = 8


def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-bin equi-depth histogram of l_extendedprice
    (``functions/selection.py: equi_depth_histogram``): edges from one
    bounded order-statistics refinement, masses from one B-counter
    aggregate — the CBO-statistics primitive, no global sort; the oracle
    recomputes edges by ROW_NUMBER and masses by direct counting."""
    from ..functions.selection import equi_depth_histogram

    return equi_depth_histogram(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", HIST_BINS
    )


EQUI_DEPTH_SQL = f"""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS s FROM lineitem
  WHERE l_extendedprice IS NOT NULL
), n AS (SELECT COUNT(*) AS n FROM v),
ranked AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM v),
edges AS (
  SELECT ib.i, r.s AS hi
  FROM (VALUES {", ".join(f"({i})" for i in range(1, 9))}) ib(i)
  CROSS JOIN n
  JOIN ranked r ON r.rn = (ib.i * n.n + {8} - 1) // {8}
),
cums AS (
  SELECT e.i, e.hi,
         (SELECT COUNT(*) FROM v WHERE v.s <= e.hi) AS cum
  FROM edges e
)
SELECT CAST(i AS INTEGER) AS bin, hi AS hi_scaled, cum AS cum_rows,
       cum - COALESCE(LAG(cum) OVER (ORDER BY i), 0) AS n_rows
FROM cums ORDER BY bin
"""


CDF_PROBES = (900.0, 25000.0, 50000.0, 75000.0, 200000.0)


def q_cdf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact empirical-CDF evaluation at literal probe prices: one
    aggregate computes ``count(x <= p)`` for every probe (map-side
    combined, |probes| counters — the inverse lookup of the quantile
    family: quantiles map rank→value, this maps value→rank).  The
    fraction ships as exact ppm integers (``(n_le · 10⁶) div n``), so
    the oracle's direct recount must hash-match bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.col("l_extendedprice")).alias("_n")] + [
        F.sum((F.col("l_extendedprice") <= F.lit(p)).cast("long")).alias(f"_c{i}")
        for i, p in enumerate(CDF_PROBES)
    ]
    one = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(float(p)).alias("probe"),
            F.col(f"_c{i}").alias("n_le"),
            F.expr(f"(_c{i} * 1000000) div _n").alias("frac_ppm"),
        )
        for i, p in enumerate(CDF_PROBES)
    ]
    return one.select(F.inline(F.array(*structs))).orderBy("probe")


CDF_PROBE_SQL = f"""
SELECT p.probe,
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= p.probe)
            AS BIGINT) AS n_le,
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= p.probe)
            AS BIGINT) * 1000000
         // (SELECT COUNT(l_extendedprice) FROM lineitem) AS frac_ppm
FROM (VALUES {", ".join(f"(CAST({p} AS DOUBLE))" for p in CDF_PROBES)}) p(probe)
ORDER BY p.probe
"""


def q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON flattening via a Python UDTF
    (``functions/udtfs.py: JsonFlatten``): one (path, leaf) row per scalar
    leaf of each event's ``props`` payload, lateral-joined to the event id
    — the semi-structured schema-discovery primitive ``from_json`` (known
    schema) and ``explode`` (typed arrays) cannot express.  Arrow-batched;
    the DuckDB oracle recomputes the same rows through its native
    ``json_keys``/``json_extract``."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    # a single-file scan is ONE partition; per-row Python eval (~100 µs)
    # would run serially — spread the UDTF across the worker pool first
    # (measured 11 s → ~1 s warm at sf0.1; the shuffle is cheap vs Python)
    load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("d2a_props_src")
    return spark.sql(
        "SELECT e.event_id, f.path, f.leaf "
        "FROM d2a_props_src e, LATERAL json_flatten(e.props) f"
    )


JSON_FLATTEN_SQL = """
SELECT event_id,
       '$.' || k AS path,
       CAST(json_extract(props, '$.' || k) AS VARCHAR) AS leaf
FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events) t
"""


#: CMS probe keys: 40 real users + 8 keys absent from the data (their
#: estimates are pure collision noise — still bounded by the ε·N slack).
CMS_PROBES = list(range(40)) + [10_000_001 + i for i in range(8)]


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–Min point-frequency estimates over events.user_id vs exact
    anchors (``functions/sketches.py: cms_probe_summary``): the mergeable
    frequency sketch with its two structural guarantees (never
    undercounts; overcounts ≤ ε·N w.h.p.) pinned as derived booleans the
    oracle sets TRUE, same scheme as ``sketch_stats``."""
    from ..functions.sketches import cms_probe_summary

    return cms_probe_summary(
        load_table(spark, sf_dir, "events"), "user_id", CMS_PROBES
    )


CMS_SQL = f"""
SELECT p.k AS key,
       COALESCE(c.n, 0) AS exact_n,
       TRUE AS no_undercount,
       TRUE AS within_eps
FROM (VALUES {", ".join(f"({p})" for p in CMS_PROBES)}) p(k)
LEFT JOIN (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
) c ON c.user_id = p.k
ORDER BY key
"""


def q_snapshot_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup over a versioned table (``io/publish.py``).

    Publishes events with per-partition bloom filters on ``event_id``
    (the equality-probe complement of ``snapshot_pruned_scan``'s range
    zone maps — Delta/Iceberg bloom-index metadata at partition
    granularity), then reads one concrete id through
    ``read_snapshot(eq_predicate=…)``: partitions whose filter proves the
    id absent are skipped before any file opens; a false positive only
    costs an extra partition read, never a wrong row (skipping pinned in
    tests/test_publish.py).  The oracle applies the identical equality
    directly — bloom metadata is I/O advice, never semantics."""
    from ..io.publish import init_table, read_snapshot

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )

    def _build(fx: str) -> None:
        init_table(
            spark, e, os.path.join(fx, "table"), "event_date",
            bloom_cols=["event_id"],
        )

    # operator under test is the bloom-advised point READ — the table
    # publish is cacheable setup (VERDICT r14 task 3)
    root = os.path.join(
        shared_fixture_root("bloom", sf_dir, "1", _build), "table"
    )
    b = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    thr = int(b[0]) + (int(b[1]) - int(b[0])) * 7 // 10
    probe = int(
        e.filter(F.col("event_id") >= thr).agg(F.min("event_id")).collect()[0][0]
    )
    snap = read_snapshot(
        spark, root, "event_date", eq_predicate=("event_id", probe)
    )
    return snap.select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_scaled"),
    ).orderBy("event_id")


SNAPSHOT_BLOOM_SQL = """
WITH b AS (SELECT MIN(event_id) AS lo0, MAX(event_id) AS hi0 FROM events),
p AS (
  SELECT MIN(event_id) AS probe FROM events, b
  WHERE event_id >= b.lo0 + (b.hi0 - b.lo0) * 7 // 10
)
SELECT event_id, event_type, user_id,
       CAST(ROUND(value * 100) AS BIGINT) AS value_scaled
FROM events, p
WHERE event_id = p.probe
ORDER BY event_id
"""


def q_cdc_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-retraction view maintenance (``operators/views.py:
    apply_changes``) over a real change feed.

    Publish events as a versioned table, build a mergeable
    :func:`...operators.views.rollup_state` view (count + fixed-point
    sum + min/max per (event_date, event_type)), then drive every CDC
    shape through one merge + one delete: value updates (purchases
    +100), GROUP-MOVING updates (signups +3 days — retract from the old
    date, add to the new), new-key inserts (error clones, +1 day), and
    deletes (every 7th view row).  The view refreshes from
    ``table_changes(include_images=True)`` alone — pre-images weight −1,
    post-images +1, extrema recomputed only for touched groups — and the
    oracle recomputes the rollup from scratch over the post-change
    table, so a hash match certifies the incremental refresh is
    bit-identical to a full recompute.  At 100 TB this is the difference
    between rescanning the table and reading one delta.
    """
    from ..io.publish import (
        delete_from_versioned,
        merge_into_versioned,
        read_manifest,
        read_snapshot,
        table_changes,
    )
    from ..operators.views import apply_changes, rollup_state
    from .protocol_queries import _overlap, _pristine_versioned_events

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # The operator under test is the CDC feed + incremental view refresh;
    # the initial publish is a cacheable setup prefix (VERDICT r15 task 5
    # second tranche) — the merge/delete under test write new version
    # dirs on the per-call hardlink clone.
    root = _pristine_versioned_events(spark, "d2a_cdcview", sf_dir)

    keys = ["event_date", "event_type"]
    # pin the seed view to the pristine version explicitly: its full-table
    # rollup then reads only immutable v1 state, independent of the
    # merge/delete commit chain, so the two run as concurrent driver jobs
    # (guide §2.6) — pinned read ≡ the live read the sequential script did
    v0 = read_manifest(root)["version"]
    seed = rollup_state(
        read_snapshot(spark, root, "event_date", version=v0),
        keys,
        sum_cols={"value": 2},
        minmax_cols=["event_id"],
    )

    upd = e.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 100.0
    )
    mov = e.filter(F.col("event_type") == "signup").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 DAY")
    )
    mov = mov.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    ins = (
        e.filter(F.col("event_type") == "error")
        .withColumn("event_id", F.col("event_id") + 40_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    ins = ins.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))

    def _commits() -> int:
        merge_into_versioned(
            spark, root, upd.unionByName(mov).unionByName(ins),
            ["event_id"], "event_date",
        )
        return delete_from_versioned(
            spark,
            root,
            "event_date",
            (F.col("event_type") == "view") & (F.col("event_id") % 7 == 0),
        )

    view, v3 = _overlap(
        lambda: seed.localCheckpoint(eager=True),
        _commits,
    )

    cdf = table_changes(
        spark, root, "event_date", ["event_id"], 1, v3, include_images=True
    )
    # no checkpoint here: the refresh is ONE action, so Catalyst's
    # ReusedExchange computes the diff subtree once across the post/pre/
    # extrema consumers — measured flat-to-worse with an eager
    # materialization (unlike the follower fixture, whose consumers are
    # separate actions)
    new_snap = read_snapshot(spark, root, "event_date")
    refreshed = apply_changes(
        view,
        cdf,
        ["event_id"],
        keys,
        sum_cols={"value": 2},
        minmax_cols=["event_id"],
        new_snapshot=new_snap,
    )
    return refreshed.orderBy("event_date", "event_type")


CDC_VIEW_SQL = """
WITH post AS (
  SELECT event_id,
         CASE WHEN event_type = 'signup' THEN ts + INTERVAL 3 DAY ELSE ts END AS ts,
         event_type,
         CASE WHEN event_type = 'purchase' THEN value + 100 ELSE value END AS value
  FROM events
  WHERE NOT (event_type = 'view' AND event_id % 7 = 0)
  UNION ALL
  SELECT event_id + 40000000, ts + INTERVAL 1 DAY, event_type, value
  FROM events WHERE event_type = 'error'
)
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM post
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_delete_restore_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML + time-machine surface of the versioned table in one scripted
    sequence: create → MERGE (insert error clones, +1 day) → DELETE FROM
    (all signups) → RESTORE back to the pre-delete snapshot, then read
    ``table_history`` — version, operation, live-partition count, and
    the metadata-only ``COUNT(*)`` every commit records (no file opens).

    Every history cell is a deterministic function of the source table,
    so the oracle replays the same set-algebra per version with scalar
    subqueries; a hash match certifies DELETE's copy-on-write row
    accounting, RESTORE-as-new-commit (history stays append-only: v4
    re-references v2's data without rewinding), and the manifest
    row-count metadata that serves ``SELECT COUNT(*)`` at 100 TB without
    touching a single parquet footer.
    """
    from ..io.publish import (
        delete_from_versioned,
        merge_into_versioned,
        restore_version,
        table_history,
    )
    from .protocol_queries import _pristine_versioned_events

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # The operator under test is the DML + RESTORE + history surface; the
    # initial publish is a cacheable setup prefix (VERDICT r15 task 5
    # second tranche) — history files are hardlinked into the per-call
    # clone, and every later commit appends new manifests on the clone.
    root = _pristine_versioned_events(spark, "d2a_history", sf_dir)

    ins = (
        e.filter(F.col("event_type") == "error")
        .withColumn("event_id", F.col("event_id") + 50_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    ins = ins.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    v2 = merge_into_versioned(spark, root, ins, ["event_id"], "event_date")
    delete_from_versioned(spark, root, "event_date", F.col("event_type") == "signup")
    restore_version(root, v2)

    hist = table_history(root)  # bounded: one row per commit (4 here)
    return spark.createDataFrame(
        [
            (h["version"], h["operation"], h["n_partitions"], h["n_rows"])
            for h in hist
        ],
        "version long, operation string, n_partitions long, n_rows long",
    ).orderBy("version")


DELETE_RESTORE_HISTORY_SQL = """
WITH base AS (
  SELECT event_id, ts, event_type, strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
), merged AS (
  SELECT event_id, event_type, event_date FROM base
  UNION ALL
  SELECT event_id + 50000000, event_type,
         strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d')
  FROM base WHERE event_type = 'error'
), after_delete AS (
  SELECT * FROM merged WHERE event_type <> 'signup'
)
SELECT 1 AS version, 'create' AS operation,
       (SELECT COUNT(DISTINCT event_date) FROM base) AS n_partitions,
       (SELECT COUNT(*) FROM base) AS n_rows
UNION ALL
SELECT 2, 'merge',
       (SELECT COUNT(DISTINCT event_date) FROM merged),
       (SELECT COUNT(*) FROM merged)
UNION ALL
SELECT 3, 'delete',
       (SELECT COUNT(DISTINCT event_date) FROM after_delete),
       (SELECT COUNT(*) FROM after_delete)
UNION ALL
SELECT 4, 'restore(v2)',
       (SELECT COUNT(DISTINCT event_date) FROM merged),
       (SELECT COUNT(*) FROM merged)
ORDER BY version
"""


#: Hidden-partitioning probe window: 2024-01-10 00:00:00 UTC .. last
#: microsecond of 2024-01-15 — six of the ~31 daily partitions the
#: events table spans, so pruning MUST engage (asserted in the query).
_HIDDEN_LO_US = 1_704_844_800_000_000
_HIDDEN_HI_US = 1_705_363_199_999_999


def q_hidden_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning end-to-end (``io/hidden.py``):
    publish events partitioned by the RECORDED transform ``days(ts)``
    (the layout column never appears in the schema), MERGE through the
    spec (purchases +100 — the writer derives the partition value, the
    caller never sees it), then read back with a predicate on the
    SOURCE column ``ts``.  The reader maps the predicate to partition
    pruning through the recorded transform; the query itself asserts
    the pruned partition count (six days of ~31) so a silently-unpruned
    read fails loudly rather than passing on correctness alone.  The
    oracle filters the source column directly — pruning must be pure
    I/O advice, invisible in the result.
    """
    from ..io.hidden import (
        init_hidden_table,
        may_match,
        merge_into_hidden,
        read_hidden,
        read_spec,
    )
    from ..io.publish import read_manifest

    e = load_table(spark, sf_dir, "events")

    def _build(fx: str) -> None:
        root = os.path.join(fx, "table")
        init_hidden_table(spark, e, root, ["days", "ts"])
        upd = e.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") + 100.0
        )
        merge_into_hidden(spark, root, upd, ["event_id"])

    # operator under test is the transform-pruned READ — the init+merge
    # fixture is cacheable setup (VERDICT r14 task 3); the pruning
    # assertion below stays per-call (metadata-only, cheap)
    root = os.path.join(
        shared_fixture_root("hidden", sf_dir, "1", _build), "table"
    )
    pred = ("between", "ts", _HIDDEN_LO_US, _HIDDEN_HI_US)
    spec = read_spec(root)
    parts = list(read_manifest(root)["partitions"])
    kept = [p for p in parts if may_match(spec, p, pred)]
    if not (len(kept) <= 6 and len(kept) < len(parts)):
        raise AssertionError(
            f"hidden-partition pruning did not engage: kept {len(kept)} of "
            f"{len(parts)} partitions for a six-day window"
        )

    snap = read_hidden(spark, root, predicate=pred)
    return (
        snap.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 2).alias("v_sum"))
        .orderBy("event_type")
    )


HIDDEN_PARTITION_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       {DSUM_SQL("CASE WHEN event_type = 'purchase' THEN value + 100 ELSE value END", 2)} AS v_sum
FROM events
WHERE epoch_us(ts) BETWEEN {_HIDDEN_LO_US} AND {_HIDDEN_HI_US}
GROUP BY 1
ORDER BY 1
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (``operators/bloomjoin.py``): the
    probe side (all events) is reduced by a driver-built bloom bitmap
    over a selective build key set before the exact join, so the join
    shuffle carries only possibly-matching rows — at 100 TB the
    difference between shuffling the table and shuffling the matching
    fraction.  Bloom negatives are definitive, so the exact semi-join
    afterwards removes only false positives; the oracle is the plain
    IN-subquery the whole construction must equal.  The reduction is
    asserted in-fixture (the bitmap must actually drop rows)."""
    from ..operators.bloomjoin import bloom_semi_reduce, build_key_bloom

    e = load_table(spark, sf_dir, "events")
    build = (
        e.filter((F.col("event_type") == "error") & (F.col("user_id") % 13 == 0))
        .select("user_id")
        .distinct()
    )
    words = build_key_bloom(build, "user_id")
    reduced = bloom_semi_reduce(e, words, "user_id").localCheckpoint(eager=True)
    n_all, n_reduced = e.count(), reduced.count()
    if not n_reduced < n_all:
        raise AssertionError("bloom reduction dropped nothing")
    exact = reduced.join(F.broadcast(build), "user_id", "left_semi")
    return (
        exact.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 2).alias("v_sum"))
        .orderBy("event_type")
    )


BLOOM_SEMI_JOIN_SQL = f"""
SELECT event_type, COUNT(*) AS n, {DSUM_SQL("value", 2)} AS v_sum
FROM events
WHERE user_id IN (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'error' AND user_id % 13 = 0
)
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "heavy_hitters": q_heavy_hitters,
    "bloom_semi_join": q_bloom_semi_join,
    "exact_quantiles": q_exact_quantiles,
    "percentile_cont": q_percentile_cont,
    "equi_depth_hist": q_equi_depth_hist,
    "cdf_probe": q_cdf_probe,
    "json_flatten": q_json_flatten,
    "cms_counts": q_cms_counts,
    "zorder_key": q_zorder_key,
    "schema_evolution": q_schema_evolution,
    "merge_upsert": q_merge_upsert,
    "merge_versioned": q_merge_versioned,
    "snapshot_pruned_scan": q_snapshot_pruned,
    "snapshot_bloom_scan": q_snapshot_bloom,
    "table_changes": q_table_changes,
    "compaction_roundtrip": q_compaction,
    "cdc_view_maintenance": q_cdc_view_maintenance,
    "delete_restore_history": q_delete_restore_history,
    "hidden_partition_pruning": q_hidden_partition_pruning,
}

ORACLES = {
    "heavy_hitters": HEAVY_HITTERS_SQL,
    "bloom_semi_join": BLOOM_SEMI_JOIN_SQL,
    "exact_quantiles": EXACT_QUANTILES_SQL,
    "percentile_cont": PCONT_SQL,
    "equi_depth_hist": EQUI_DEPTH_SQL,
    "cdf_probe": CDF_PROBE_SQL,
    "json_flatten": JSON_FLATTEN_SQL,
    "cms_counts": CMS_SQL,
    "zorder_key": ZORDER_KEY_SQL,
    "schema_evolution": SCHEMA_EVOLUTION_SQL,
    "merge_upsert": MERGE_UPSERT_SQL,
    "merge_versioned": MERGE_VERSIONED_SQL,
    "snapshot_pruned_scan": SNAPSHOT_PRUNED_SQL,
    "snapshot_bloom_scan": SNAPSHOT_BLOOM_SQL,
    "table_changes": TABLE_CHANGES_SQL,
    "compaction_roundtrip": COMPACTION_SQL,
    "cdc_view_maintenance": CDC_VIEW_SQL,
    "delete_restore_history": DELETE_RESTORE_HISTORY_SQL,
    "hidden_partition_pruning": HIDDEN_PARTITION_SQL,
}
