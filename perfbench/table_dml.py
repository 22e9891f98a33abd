"""``table_dml``: seeded DML and reads on a versioned ``orders`` table.

The table is built by ``io.publish.init_table`` from sf0.1-shaped
``orders`` (150k rows, unique ``o_orderkey``, 80 monthly partitions, zone
maps on ``o_totalprice``, a bloom filter on ``o_orderkey``).  Each operation
is one public ``io.publish`` call.  A pandas model of the table applies the
same operations; it supplies the input-validity guards (every operation
matches rows, every commit rewrites the partitions it was designed to) and
the final order-insensitive comparison.
"""

from __future__ import annotations

import dataclasses
import time
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from datalake2anomali_spark.io.publish import (
    delete_from_versioned,
    init_table,
    merge_into_versioned,
    read_manifest,
    read_snapshot,
    update_versioned,
    version_dir,
)

from .common import dir_bytes, gen_orders, median
from .metrics import NARROW_COMMITS

PART = "o_month"
KEY = "o_orderkey"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", PART]

#: One round of the schedule.  An operation is a commit followed by a read
#: of the table it produced, so a commit-side change that slows readers
#: shows in the same number.  The kinds and their order are fixed so that
#: every seed measures the same mix; the seed picks months, keys, values and
#: versions.  Untraced runs measure whole rounds of the four narrow pairs
#: (one-partition MERGE, UPDATE and DELETE both ways, read back all four
#: ways; about 13 s); the traced run measures one round of all six.
ROUND = [
    ("merge_narrow", "read_full"),
    ("update_narrow", "read_bloom"),
    ("delete_mor", "read_zone"),
    ("delete_cow", "read_asof"),
    ("merge_wide", "read_full"),
    ("update_wide", "read_bloom"),
]
E2E_ROUND = ROUND[:4]
#: init_table already runs the write, stats and bloom paths; the warm-up
#: pair adds the read and merge-on-read paths at little cost
WARMUP = [("delete_mor", "read_asof")]


@dataclasses.dataclass
class Plan:
    """One operation: ``call`` runs the public function (a commit returns
    its version, a read its row count); ``matched`` is how many model rows
    it touches.  Commits carry the model update and the number of
    partitions they are designed to rewrite; reads carry the expected
    result."""

    call: Callable
    matched: int
    update_model: Callable | None = None
    designed: int = 0
    want: int | None = None
    df: object = None  # a read's DataFrame, set when it runs


class GuardError(RuntimeError):
    """The generated input would not measure what the operation claims."""


def _cond_spark(months, mod, rem):
    return F.col(PART).isin(list(months)) & ((F.col(KEY) % mod) == rem)


def _cond_pd(df, months, mod, rem):
    return df[PART].isin(list(months)) & ((df[KEY] % mod) == rem)


def _fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    """Order-insensitive (rows, hash-sum) of a table in COLS."""
    d = df[COLS].copy()
    d["o_orderdate"] = pd.to_datetime(d["o_orderdate"]).astype("datetime64[us]").astype("int64")
    d["o_totalprice"] = d["o_totalprice"].astype("float64")
    h = pd.util.hash_pandas_object(d, index=False).to_numpy(dtype=np.uint64)
    return len(d), int(h.sum(dtype=np.uint64))


class TableDml:
    def __init__(self, run, rng: np.random.Generator, traced: bool):
        self.run = run
        self.spark = run.spark
        self.rng = rng
        self.traced = traced
        self.layers: dict[str, list[float]] = {}
        self.n = 0
        self.root = run.path("orders_table")

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        orders = gen_orders(self.rng).to_pandas()
        orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
        orders[PART] = orders["o_orderdate"].to_numpy().astype("datetime64[M]").astype(str)
        if orders[KEY].duplicated().any():
            raise GuardError("DML key o_orderkey is not unique")
        self.model = orders
        self.next_key = int(orders[KEY].max()) + 1
        src = self.run.path("orders.parquet")
        orders.drop(columns=[PART]).to_parquet(src, index=False)
        df = self.spark.read.parquet(src).withColumn(PART, F.date_format("o_orderdate", "yyyy-MM"))
        init_table(self.spark, df, self.root, PART, stats_cols=["o_totalprice"], bloom_cols=[KEY])
        self.schema = self.spark.read.parquet(src).withColumn(PART, F.lit("")).schema
        v = read_manifest(self.root)["version"]
        self.history = {v: len(self.model)}
        if len(read_manifest(self.root)["partitions"]) != self.model[PART].nunique():
            raise GuardError("initial table partitions differ from the input's months")

    def warmup(self) -> list[dict]:
        return [self._pair(pair, traced=False) for pair in WARMUP]

    # -- operations --------------------------------------------------------
    def _round(self) -> list:
        return ROUND if self.traced else E2E_ROUND

    def step(self, traced: bool = False) -> dict:
        pair = self._round()[self.n % len(self._round())]
        self.n += 1
        return self._pair(pair, traced)

    def _pair(self, pair: tuple[str, str], traced: bool) -> dict:
        commit, read = (self._run(kind, traced) for kind in pair)
        res = {
            "kind": "+".join(pair),
            "ms": commit["ms"] + read["ms"],
            "ok": commit["ok"] and read["ok"],
            "items": 1,
            "parts": [commit, read],
        }
        if traced:
            res["trace_ms"] = commit["trace_ms"] + read["trace_ms"]
        return res

    def round_done(self) -> bool:
        return self.n % len(self._round()) == 0

    def _months(self) -> np.ndarray:
        return np.sort(self.model[PART].unique())

    def _pick_month(self) -> str:
        return str(self.rng.choice(self._months()))

    def _plan(self, kind: str):
        """The seeded operation of ``kind`` against the current model."""
        m = self.model
        rng = self.rng
        spark = self.spark
        if kind in ("merge_narrow", "merge_wide"):
            if kind == "merge_narrow":
                months = [self._pick_month()]
                per_month, new_rows = 200, 20
            else:
                months = list(self._months())
                months.pop(int(rng.integers(len(months))))
                per_month, new_rows = 3, 0
            picks = []
            for mo in months:
                rows = m.index[m[PART] == mo].to_numpy()
                picks.append(rng.choice(rows, size=min(per_month, len(rows)), replace=False))
            upd = m.loc[np.concatenate(picks)].copy()
            upd["o_totalprice"] = np.round(upd["o_totalprice"].to_numpy() + rng.uniform(1, 100, len(upd)), 2)
            upd["o_orderstatus"] = rng.choice(["O", "F", "P"], len(upd))
            new = upd.head(0)
            if new_rows:
                new = upd.head(new_rows).copy()
                new[KEY] = np.arange(self.next_key, self.next_key + new_rows, dtype=np.int64)
                self.next_key += new_rows
            src_pd = pd.concat([upd, new], ignore_index=True)[COLS]
            source = spark.createDataFrame(src_pd, self.schema)

            def update_model():
                keep = self.model[~self.model[KEY].isin(src_pd[KEY])]
                self.model = pd.concat([keep, src_pd], ignore_index=True)

            return Plan(
                lambda: merge_into_versioned(spark, self.root, source, [KEY], PART),
                matched=len(upd), update_model=update_model, designed=len(months),
            )
        if kind in ("update_narrow", "update_wide", "delete_cow", "delete_mor"):
            if kind == "update_wide":
                months = list(self._months())
                months.pop(int(rng.integers(len(months))))
                mod = 50
            else:
                months = [self._pick_month()]
                mod = 10
            # a remainder whose rows reach every target month (the last
            # month, 2001-08, holds a single day of orders)
            sub = m[m[PART].isin(months)]
            cover = sub.groupby(sub[KEY] % mod)[PART].nunique()
            valid = cover.index[cover == len(months)].to_numpy()
            if len(valid) == 0:
                raise GuardError(f"{kind}: no predicate reaches all {len(months)} target months")
            rem = int(rng.choice(valid))
            mask = _cond_pd(m, months, mod, rem)
            cond = _cond_spark(months, mod, rem)
            designed = 0 if kind == "delete_mor" else len(months)
            if kind.startswith("update"):
                status = str(rng.choice(["O", "F", "P"]))

                def update_model():
                    hit = _cond_pd(self.model, months, mod, rem)
                    self.model.loc[hit, "o_totalprice"] = self.model.loc[hit, "o_totalprice"] + 1.0
                    self.model.loc[hit, "o_orderstatus"] = status

                call = lambda: update_versioned(  # noqa: E731
                    spark, self.root, PART, cond,
                    {"o_totalprice": F.col("o_totalprice") + F.lit(1.0), "o_orderstatus": F.lit(status)},
                )
            else:
                def update_model():
                    self.model = self.model[~_cond_pd(self.model, months, mod, rem)].reset_index(drop=True)

                mode = "merge_on_read" if kind == "delete_mor" else "copy_on_write"
                call = lambda: delete_from_versioned(  # noqa: E731
                    spark, self.root, PART, cond, mode=mode, key_cols=[KEY]
                )
            return Plan(call, int(mask.sum()), update_model=update_model, designed=designed)
        # reads: the timed call includes read_snapshot's own planning
        if kind == "read_full":
            kw, want = {}, len(m)
            action = lambda df: df.agg(F.count(F.lit(1))).first()[0]  # noqa: E731
        elif kind == "read_zone":
            lo = float(rng.uniform(1_000, 500_000))
            hi = lo + 10_000.0
            kw = {"predicate": ("o_totalprice", lo, hi)}
            want = int(((m["o_totalprice"] >= lo) & (m["o_totalprice"] <= hi)).sum())
            action = lambda df: df.count()  # noqa: E731
        elif kind == "read_bloom":
            kw = {"eq_predicate": (KEY, int(rng.choice(m[KEY].to_numpy())))}
            want = 1
            action = lambda df: len(df.collect())  # noqa: E731
        elif kind == "read_asof":
            versions = sorted(self.history)[:-1] or sorted(self.history)
            v = int(rng.choice(versions))
            kw, want = {"version": v}, self.history[v]
            action = lambda df: df.count()  # noqa: E731
        else:
            raise ValueError(kind)
        plan = Plan(None, want, want=want)

        def call():
            plan.df = read_snapshot(spark, self.root, PART, **kw)
            return action(plan.df)

        plan.call = call
        return plan

    def _run(self, kind: str, traced: bool) -> dict:
        p = self._plan(kind)
        if p.matched < 1:
            raise GuardError(f"{kind}: matches no row")
        if traced:
            with self.run.trace.span(f"publish.{kind}"), self.run.jobs.no_stray_jobs():
                with self.run.jobs.group(kind) as g:
                    t0 = time.perf_counter()
                    out = p.call()
                    ms = (time.perf_counter() - t0) * 1000.0
        else:
            t0 = time.perf_counter()
            out = p.call()
            ms = (time.perf_counter() - t0) * 1000.0
        res = {"ms": ms, "ok": True, "items": 1, "kind": kind}
        if p.want is not None:
            res["ok"] = out == p.want
        else:
            p.update_model()
            manifest = read_manifest(self.root)
            if manifest["version"] != out:
                raise RuntimeError(f"{kind}: commit v{out} is not the published version")
            rewritten = sum(1 for ver in manifest["partitions"].values() if int(ver) == out)
            if rewritten != p.designed:
                raise GuardError(f"{kind}: rewrote {rewritten} partitions, designed for {p.designed}")
            self.history[out] = len(self.model)
        if traced:
            t1 = time.perf_counter()
            self._add(f"publish.{kind}_ms", ms)
            self._add(f"publish.jobs.{kind}", g["jobs"])
            if p.want is not None:
                self._add(f"publish.files_scanned.{kind}", len(p.df.inputFiles()))
            else:
                self._add(f"publish.partitions_rewritten.{kind}", rewritten)
                self._add(f"publish.bytes_written.{kind}", dir_bytes(version_dir(self.root, out)))
            res["trace_ms"] = (time.perf_counter() - t1) * 1000.0
        return res

    def _add(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    # -- final check -------------------------------------------------------
    def finish(self) -> bool:
        snap = read_snapshot(self.spark, self.root, PART).toPandas()
        ok = _fingerprint(snap) == _fingerprint(self.model)
        if self.traced:
            plain = self.run.path("live_copy")
            read_snapshot(self.spark, self.root, PART).write.parquet(plain)
            self._add("dml.bytes_per_live_byte", dir_bytes(self.root) / dir_bytes(plain))
        return ok

    def summary(self, results: list[dict]) -> dict:
        commits = [r["parts"][0] for r in results]
        return {
            "dml.narrow_commit_ms": median([r["ms"] for r in commits if r["kind"] in NARROW_COMMITS]),
            "dml.wide_commit_ms": median([r["ms"] for r in commits if r["kind"] not in NARROW_COMMITS]),
            "dml.read_ms": median([r["parts"][1]["ms"] for r in results]),
        }
