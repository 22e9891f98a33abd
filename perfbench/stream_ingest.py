"""``stream_ingest``: availableNow ticks into a versioned table.

Between ticks the generator lands a seeded slice of sf0.1-shaped ``events``
as a new parquet file.  A tick is ``streaming.incremental.read_events_stream``
→ ``foreachBatch(exactly_once_batch(merge_into_versioned))`` into an
``event_date``-partitioned table with an ``availableNow`` trigger and a
durable checkpoint.  Slices are random samples of the month, so every merge
touches every partition.  Once every event has landed, slices repeat with
new values, and the merges turn into updates.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datalake2anomali_spark.io.publish import (
    init_table,
    merge_into_versioned,
    read_manifest,
    read_snapshot,
    snapshot_rowcount,
)
from datalake2anomali_spark.streaming.incremental import exactly_once_batch, read_events_stream

from .common import gen_events, median

PART = "event_date"
SLICE = 5_000
WARMUP_TICKS = 2
_PROGRESS_KEYS = {
    "streaming.planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
}


def _with_date(df):
    return df.withColumn(PART, F.date_format("ts", "yyyy-MM-dd"))


def _rollup_pd(df: pd.DataFrame) -> dict:
    g = df.assign(cents=np.round(df["value"].to_numpy() * 100).astype(np.int64)).groupby(PART)
    out = pd.DataFrame({"n": g.size(), "cents": g["cents"].sum(), "ids": g["event_id"].nunique()})
    return {k: tuple(int(x) for x in row) for k, row in out.iterrows()}


class StreamIngest:
    def __init__(self, run, rng: np.random.Generator, traced: bool):
        self.run = run
        self.spark = run.spark
        self.rng = rng
        self.traced = traced
        self.layers: dict[str, list[float]] = {}
        self.ticks = 0
        self.root = run.path("events_table")
        self.landing = run.path("landing")
        self.ckpt = run.path("checkpoint")
        self._merge = None  # (ms, jobs) of the last traced foreachBatch merge

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        ev = gen_events(self.rng).to_pandas()
        ev[PART] = ev["ts"].dt.strftime("%Y-%m-%d")
        self.events = ev
        order = self.rng.permutation(len(ev))
        self.slices = [order[i : i + SLICE] for i in range(0, len(order), SLICE)]
        # the model: current value per event id; NaN = not landed yet
        self.value = np.full(len(ev), np.nan)
        first = self._slice_table(0)
        src = self.run.path("initial.parquet")
        pq.write_table(first, src)
        init_table(self.spark, _with_date(self.spark.read.parquet(src)), self.root, PART)
        os.makedirs(self.landing)
        self.apply = exactly_once_batch(self._apply, self.run.path("ledger"))

    def _slice_table(self, j: int) -> pa.Table:
        """Slice j; after every event has landed, slices repeat with new values."""
        idx = self.slices[j % len(self.slices)]
        rows = self.events.iloc[idx].drop(columns=[PART]).copy()
        if j >= len(self.slices):
            rows["value"] = np.round(rows["value"].to_numpy() + j, 2)
        self.value[idx] = rows["value"].to_numpy()
        return pa.Table.from_pandas(rows, preserve_index=False)

    def _apply(self, batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not self.traced:
            merge_into_versioned(spark, self.root, _with_date(batch_df), ["event_id"], PART)
            return
        # the stream's batches run on the stream-execution thread, so the
        # job group is set here, on that thread
        with self.run.jobs.group("merge") as g:
            t = time.perf_counter()
            merge_into_versioned(spark, self.root, _with_date(batch_df), ["event_id"], PART)
            ms = (time.perf_counter() - t) * 1000.0
        self._merge = (ms, g["jobs"])

    def warmup(self) -> list[dict]:
        return [self.step(traced=False) for _ in range(WARMUP_TICKS)]

    # -- one tick ----------------------------------------------------------
    def step(self, traced: bool = False) -> dict:
        self.ticks += 1
        table = self._slice_table(self.ticks)
        before = read_manifest(self.root)["version"]
        pq.write_table(table, f"{self.landing}/part-{self.ticks:05d}.parquet")
        t0 = time.perf_counter()
        if traced:
            ctx = contextlib.ExitStack()
            ctx.enter_context(self.run.trace.span("streaming.tick"))
            ctx.enter_context(self.run.jobs.no_stray_jobs())
            ctx.enter_context(self.run.jobs.group("tick"))
        else:
            ctx = contextlib.nullcontext()
        with ctx:
            stream = read_events_stream(self.spark, self.landing)
            t1 = time.perf_counter()
            q = (
                stream.writeStream.foreachBatch(self.apply)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            t2 = time.perf_counter()
            q.awaitTermination()
            after = read_manifest(self.root)["version"]
        ms = (time.perf_counter() - t0) * 1000.0
        ok = after == before + 1 and snapshot_rowcount(self.root) == int(np.count_nonzero(~np.isnan(self.value)))
        res = {"ms": ms, "ok": ok, "items": table.num_rows, "kind": "tick"}
        if traced:
            t = time.perf_counter()
            self._record(q, (t2 - t1) * 1000.0)
            res["trace_ms"] = (time.perf_counter() - t) * 1000.0
        return res

    def _record(self, q, start_ms: float) -> None:
        progress = [p for p in q.recentProgress if p.numInputRows]
        add = self.layers.setdefault
        add("streaming.start_ms", []).append(start_ms)
        add("streaming.batches_per_tick", []).append(float(len(progress)))
        for name, key in _PROGRESS_KEYS.items():
            add(name, []).append(float(sum(p.durationMs.get(key, 0) for p in progress)))
        if self._merge is not None:
            add("publish.merge_ms", []).append(self._merge[0])
            add("publish.jobs.merge", []).append(float(self._merge[1]))
            self._merge = None

    # -- final check -------------------------------------------------------
    def finish(self) -> bool:
        """The table's per-date rollup equals the rollup of everything landed."""
        snap = read_snapshot(self.spark, self.root, PART)
        got = {
            r[PART]: (int(r["n"]), int(r["cents"]), int(r["ids"]))
            for r in snap.groupBy(F.col(PART).cast("string").alias(PART))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
                F.countDistinct("event_id").alias("ids"),
            )
            .collect()
        }
        landed = ~np.isnan(self.value)
        model = self.events[landed].assign(value=self.value[landed])
        return got == _rollup_pd(model)

    def summary(self, results: list[dict]) -> dict:
        return {
            "stream.tick_ms": median([r["ms"] for r in results]),
            "stream.events_per_s": sum(r["items"] for r in results) / (sum(r["ms"] for r in results) / 1000.0),
        }

