"""Stream–stream joins: watermarked interval join over the event stream.

The last Structured Streaming operator class the engine exposes: joining
two live streams (here clicks × errors from the same event bus) on an
equi-key plus an event-time interval.  Batch twin:
``operators/temporal.py: range_join`` — same semantics, bucketed equi-join
instead of join state.

Scale design: Spark keeps BOTH sides in the state store, sharded by the
equi-key (user_id), and the watermark + the time-interval condition bound
how long each row is retained — a click can only match errors in the
preceding ``horizon``, so once the watermark passes ``click_ts − horizon``
the buffered error rows age out (and symmetrically for clicks).  State size
is O(events per watermark horizon per key shard), independent of stream
lifetime; without the interval condition on BOTH sides' event time the
state would grow forever, which is why :func:`stream_click_error_join`
hardcodes the two-sided bound rather than accepting a bare equi-join.

The reference has no streaming join (its pipeline is a stateless per-tick
pull, ``/root/reference/src/core.py:41-48``); this belongs to the
driver-mandated streaming extension surface (SURVEY.md §2.9/§2.11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import read_events_stream, run_to_completion

#: Match window: clicks within 6 hours after an error (same as the batch
#: range-join query, temporal_queries.py).
HORIZON_US = 21600 * 1_000_000


def interval_join(
    clicks: DataFrame,
    errors: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked inner interval join: click × error pairs where the click
    lands within :data:`HORIZON_US` after the error, same user.

    Both inputs must be streaming frames carrying ``(user_id,
    click_ts/click_event_id)`` and ``(user_id, err_ts/err_event_id)``.
    Output: one row per matching pair with the click→error lag.
    """
    c = clicks.withWatermark("click_ts", watermark)
    e = errors.withWatermark("err_ts", watermark)
    joined = c.join(
        e,
        F.expr(
            "user_id = err_user_id AND "
            "click_ts >= err_ts AND "
            "click_ts <= err_ts + INTERVAL 6 HOURS"
        ),
        "inner",
    )
    return joined.select(
        "err_event_id",
        "click_event_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("err_ts")).alias("lag_us"),
    )


def stream_click_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming interval join over the events parquet.

    Two streaming scans of the same bus (a stream self-join, which Spark
    supports for inner joins), split by event_type; single availableNow
    batch, so the watermark drops nothing and the result is
    oracle-comparable to the batch inequality join.  Multi-batch state
    aging is the watermark mechanics already pinned by
    ``tests/test_streaming.py``'s late-data cases.
    """
    path = os.path.join(sf_dir, "events.parquet")
    clicks = (
        read_events_stream(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    errors = (
        read_events_stream(spark, path)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            F.col("user_id").alias("err_user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    out = run_to_completion(
        interval_join(clicks, errors),
        output_mode="append",
        state_partitions=2,  # gate-corpus sizing; scale with keys/executors
    )
    return out


STREAM_INTERVAL_JOIN_SQL = """
SELECT r.event_id AS err_event_id,
       l.event_id AS click_event_id,
       l.user_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND l.ts >= r.ts
 AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
"""


def interval_join_outer(
    clicks: DataFrame,
    errors: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """LEFT OUTER watermarked interval join: every matched click×error
    pair, PLUS a null-error row for each click the watermark has proven
    unmatchable.

    The null-emission mechanics are the hard part of outer stream–stream
    joins: an unmatched click cannot emit immediately (an error with
    ``err_ts ≤ click_ts`` may still arrive), so its state is held until
    the joint watermark — ``min(max click_ts, max err_ts) − delay`` under
    the default multipleWatermarkPolicy=min — passes ``click_ts``, at
    which point the engine emits the null row and evicts.  A click the
    final watermark never covers stays in state and is NEVER emitted:
    output completeness is traded for bounded state, and the registered
    query's oracle pins that cutoff BY VALUE (clicks newer than
    ``final_wm`` are absent from the result).
    """
    c = clicks.withWatermark("click_ts", watermark)
    e = errors.withWatermark("err_ts", watermark)
    joined = c.join(
        e,
        F.expr(
            "user_id = err_user_id AND "
            "click_ts >= err_ts AND "
            "click_ts <= err_ts + INTERVAL 6 HOURS"
        ),
        "left_outer",
    )
    return joined.select(
        "err_event_id",
        "click_event_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("err_ts")).alias("lag_us"),
    )


def _build_sliced_replay(spark: SparkSession, sf_dir: str) -> str:
    """Events split into three time-range slice files with pinned
    modification times (the file source schedules by mtime), so a
    ``maxFilesPerTrigger=1`` run replays them as three real micro-batches
    in event-time order — the setup that makes cross-batch watermark
    advancement observable."""
    import glob
    import shutil

    from datalake2anomali_spark.io.tables import _scratch_root, load_table

    root = _scratch_root("d2a_sliced", sf_dir)
    inp = os.path.join(root, "input")
    os.makedirs(inp)
    e = load_table(spark, sf_dir, "events")
    r = e.agg(
        F.min(F.expr("unix_micros(ts)")).alias("lo"),
        F.max(F.expr("unix_micros(ts)")).alias("hi"),
    ).collect()[0]
    cut1 = r.lo + (r.hi - r.lo) // 3
    cut2 = r.lo + 2 * (r.hi - r.lo) // 3
    us = F.expr("unix_micros(ts)")
    slices = [
        e.filter(us <= cut1),
        e.filter((us > cut1) & (us <= cut2)),
        e.filter(us > cut2),
    ]
    for i, df in enumerate(slices):
        tmp = os.path.join(root, f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(inp, f"{i:02d}.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))
    return inp


def stream_click_error_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LEFT OUTER streaming interval join, three real
    micro-batches (time-sliced replay), watermark-driven null emission.

    The oracle is the batch left join RESTRICTED by the streaming
    completeness cutoff: unmatched clicks emit (with null error) only if
    the final joint watermark passed them — so a hash match certifies the
    matched pairs, the null rows, AND the exact eviction boundary.
    """
    inp = _build_sliced_replay(spark, sf_dir)
    clicks = (
        read_events_stream(spark, inp, max_files_per_trigger=1)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    errors = (
        read_events_stream(spark, inp, max_files_per_trigger=1)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            F.col("user_id").alias("err_user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    stream = (
        interval_join_outer(clicks, errors)
        .withColumn("matched", F.col("err_event_id").isNotNull())
    )
    out = run_to_completion(stream, output_mode="append", state_partitions=2)
    return out


def interval_join_full(
    clicks: DataFrame,
    errors: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """FULL OUTER watermarked interval join — the last cell of the
    stream–stream join matrix (inner / left outer above).

    Null emission is now two-sided and ASYMMETRIC in time, because the
    interval condition holds each side for a different horizon: an
    unmatched click evicts (emitting its null-error row) once the joint
    watermark passes ``click_ts`` — no later error can satisfy
    ``err_ts ≤ click_ts`` — but an unmatched error must wait until the
    watermark passes ``err_ts + horizon``, since any click in the next 6
    hours could still match it.  Both cutoffs are pinned BY VALUE in the
    registered query's oracle; rows the final watermark never covers
    stay in state and are never emitted (bounded state over
    completeness, the streaming contract).
    """
    c = clicks.withWatermark("click_ts", watermark)
    e = errors.withWatermark("err_ts", watermark)
    joined = c.join(
        e,
        F.expr(
            "user_id = err_user_id AND "
            "click_ts >= err_ts AND "
            "click_ts <= err_ts + INTERVAL 6 HOURS"
        ),
        "full_outer",
    )
    return joined.select(
        "err_event_id",
        "click_event_id",
        F.coalesce("user_id", "err_user_id").alias("join_user_id"),
        (F.unix_micros("click_ts") - F.unix_micros("err_ts")).alias("lag_us"),
    )


def stream_click_error_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end FULL OUTER streaming interval join, three real
    micro-batches (time-sliced replay): matched pairs + null-error rows
    for watermark-expired clicks + null-click rows for watermark-expired
    errors, each side against its own eviction deadline."""
    inp = _build_sliced_replay(spark, sf_dir)
    clicks = (
        read_events_stream(spark, inp, max_files_per_trigger=1)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    errors = (
        read_events_stream(spark, inp, max_files_per_trigger=1)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            F.col("user_id").alias("err_user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    stream = interval_join_full(clicks, errors).withColumn(
        "side",
        F.when(
            F.col("err_event_id").isNotNull()
            & F.col("click_event_id").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("click_event_id").isNotNull(), F.lit("click_only"))
        .otherwise(F.lit("error_only")),
    )
    out = run_to_completion(stream, output_mode="append", state_partitions=2)
    return out


#: Oracle for the FULL outer join: the inner matches, plus each side's
#: unmatched rows restricted by ITS eviction deadline under the joint
#: final watermark w = min(max click_ts, max err_ts) − delay — clicks cut
#: at click_ts < w, errors at err_ts + horizon < w.
STREAM_INTERVAL_JOIN_FULL_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
), wm AS (
  SELECT LEAST((SELECT MAX(epoch_us(ts)) FROM clicks),
               (SELECT MAX(epoch_us(ts)) FROM errors)) - 600000000 AS w
)
SELECT r.event_id AS err_event_id, l.event_id AS click_event_id,
       l.user_id AS join_user_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us,
       'both' AS side
FROM clicks l JOIN errors r
  ON l.user_id = r.user_id
 AND l.ts >= r.ts
 AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
UNION ALL
SELECT CAST(NULL AS BIGINT), l.event_id, l.user_id,
       CAST(NULL AS BIGINT), 'click_only'
FROM clicks l, wm
WHERE epoch_us(l.ts) < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM errors r
    WHERE r.user_id = l.user_id
      AND l.ts >= r.ts
      AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
  )
UNION ALL
SELECT r.event_id, CAST(NULL AS BIGINT), r.user_id,
       CAST(NULL AS BIGINT), 'error_only'
FROM errors r, wm
WHERE epoch_us(r.ts) + 21600000000 < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM clicks l
    WHERE l.user_id = r.user_id
      AND l.ts >= r.ts
      AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
  )
"""


#: Oracle for the outer join: batch left join RESTRICTED by the streaming
#: completeness cutoff.  The joint final watermark under the default
#: multipleWatermarkPolicy=min is min(max click_ts, max err_ts) − delay
#: (verified empirically: at sf0.001 exactly the one unmatched click above
#: that line is withheld); unmatched clicks emit their null row iff
#: click_ts < that watermark.
STREAM_INTERVAL_JOIN_OUTER_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
), wm AS (
  SELECT LEAST((SELECT MAX(epoch_us(ts)) FROM clicks),
               (SELECT MAX(epoch_us(ts)) FROM errors)) - 600000000 AS w
), matched AS (
  SELECT r.event_id AS err_event_id, l.event_id AS click_event_id,
         l.user_id, epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
  FROM clicks l JOIN errors r
    ON l.user_id = r.user_id
   AND l.ts >= r.ts
   AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
)
SELECT err_event_id, click_event_id, user_id, lag_us, TRUE AS matched
FROM matched
UNION ALL
SELECT CAST(NULL AS BIGINT) AS err_event_id, l.event_id AS click_event_id,
       l.user_id, CAST(NULL AS BIGINT) AS lag_us, FALSE AS matched
FROM clicks l, wm
WHERE epoch_us(l.ts) < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM errors r
    WHERE r.user_id = l.user_id
      AND l.ts >= r.ts
      AND epoch_us(l.ts) <= epoch_us(r.ts) + 21600000000
  )
"""
