"""``connector``: one cycle of the paper's CTI connector per operation.

EP-A: ``datalake_bulksearch`` over Q seeded saved-query hashes →
``ioc.metrics.instrumented_indicators`` → ``ioc.payload`` →
``sinks.write_intelligence`` into a file-backed API with a payload cap, so
the larger partitions bisect.  EP-B: ``ioc.derive`` → incremental cursor →
``route_upserts`` → ``write_tipreport_upserts`` → ``high_watermark``.  Every
cycle writes into a fresh sink directory and is checked against an
independent expectation before the next cycle starts.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from datalake2anomali_spark.ioc.derive import derive_advisories, derive_existing_tipreports
from datalake2anomali_spark.ioc.metrics import instrumented_indicators
from datalake2anomali_spark.ioc.payload import objects_json, prepare_objects
from datalake2anomali_spark.ioc.specs import QuerySpec, specs_df
from datalake2anomali_spark.ioc.transforms import generate_indicators
from datalake2anomali_spark.ioc.upsert import high_watermark, incremental_advisories, route_upserts
from datalake2anomali_spark.sinks.anomali import (
    OK_STATUSES,
    FileBackedAnomaliApi,
    write_intelligence,
    write_tipreport_upserts,
)
from datalake2anomali_spark.sources.datalake import BULK_FORMAT, register_sources
from datalake2anomali_spark.sources.mock_backend import result_count

from .common import gen_orders, median, span_s, write_parquet
from .probe_api import ProbeApi, read_probe

#: saved queries per cycle; each is one source partition
N_QUERIES = 4
#: the mock backend returns 50..199 rows per saved query; the benchmark
#: draws queries of this size so every seed does the same amount of work
QUERY_ROWS = range(120, 131)
QUERY_FIELDS = ["atom_type", "atom_value", ".hashes.md5", "threat_scores", "tags"]
#: payload cap: a partition's ~90 objects exceed it, so every partition's
#: first request is size-rejected and bisects
MAX_PAYLOAD_BYTES = 12_000
META = {
    "allow_update": True,
    "enrich": True,
    "classification": "private",
    "expiration_ts": "2026-01-01T00:00:00",
}
WARMUP_CYCLES = 1
#: EP-B's advisories and sink state derive from ``orders`` (FIXTURES B4/B5).
#: 20k rows keep EP-B's one-request-per-row sink at ~900 requests,
#: so a cycle fits the benchmark's per-run time budget several times.
ORDERS_ROWS = 20_000


def _canon(obj) -> str:
    return json.dumps(obj, sort_keys=True)


class Connector:
    def __init__(self, run, rng: np.random.Generator, traced: bool):
        self.run = run
        self.spark = run.spark
        self.rng = rng
        self.traced = traced
        self.layers: dict[str, list[float]] = {}
        self.cycles = 0
        self._prefix_obs = None  # Observation of the traced transforms prefix

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        spark = self.spark
        register_sources(spark)
        self.sf_dir = self.run.path("sf")
        self.orders = gen_orders(self.rng, ORDERS_ROWS)
        write_parquet(self.orders, os.path.join(self.sf_dir, "orders.parquet"))
        hashes = []
        while len(hashes) < N_QUERIES:
            h = self.rng.bytes(8).hex()
            if result_count(h) in QUERY_ROWS:
                hashes.append(h)
        severities = ["low", "medium", "high", "very-high"]
        specs = [
            QuerySpec(
                h,
                f"dataset_{i % 4}",
                severities[i % 4],
                {"domain": "custom_dom_itype", "md5": "custom_md5_itype"} if i % 3 == 0 else None,
            )
            for i, h in enumerate(hashes)
        ]
        self.specs = specs_df(spark, specs)
        self.bulk = (
            spark.read.format(BULK_FORMAT)
            .option("query_hashes", json.dumps(hashes))
            .option("query_fields", json.dumps(QUERY_FIELDS))
            .load()
        )
        # independent expectation: the stock (non-instrumented) EP-A chain,
        # and EP-B's routes from the orders table alone
        expected = objects_json(prepare_objects(generate_indicators(self.bulk, self.specs)))
        self.expected_objects = Counter(
            _canon(json.loads(r.object_json)) for r in expected.select("object_json").collect()
        )
        if not self.expected_objects:
            raise RuntimeError("connector inputs produce no indicators")
        self.expected_routes = self._expected_routes(self.orders)

    def warmup(self) -> list[dict]:
        return [self._cycle(f"sink-warm-{i}", traced=False) for i in range(WARMUP_CYCLES)]

    @staticmethod
    def _expected_routes(orders) -> dict[int, int | None]:
        """advisory id → tipreport id (None = insert), from the orders table
        alone: advisories are orderkeys ≡ 0 (mod 7), existing reports carry
        keys ≡ 0 (mod 14) at id+1e6, the cursor is the newest report's
        order date minus two years (FIXTURES B4/B5)."""
        k = orders["o_orderkey"].to_numpy()
        d = orders["o_orderdate"].to_numpy()
        state = (k % 14 == 0) | (k % 11 == 0)
        newest = d[state].max().astype("datetime64[D]").item()
        try:
            cursor = newest.replace(year=newest.year - 2)
        except ValueError:  # 29 February: Spark's interval arithmetic clamps
            cursor = newest.replace(year=newest.year - 2, day=28)
        cursor = np.datetime64(cursor, "us")
        fresh = (k % 7 == 0) & (d > cursor)
        return {int(i): (int(i) + 1_000_000 if i % 14 == 0 else None) for i in k[fresh]}

    # -- one cycle ---------------------------------------------------------
    def _ep_a(self, api, span) -> None:
        """EP-A; with ``span`` set (traced), first time the cumulative
        prefixes scan / +transforms / +payload, one action each."""
        if span is not None:
            with span("sources.scan") as s, self.run.jobs.group("scan") as g:
                s["rows"] = self.bulk.select(F.sum(F.length("raw")), F.count(F.lit(1))).first()[1]
            s["jobs"] = g["jobs"]
            with span("ioc.instrumented_indicators"):
                ind, self._prefix_obs = instrumented_indicators(self.bulk, self.specs)
                ind.agg(F.sum(F.hash(*ind.columns))).first()
            with span("ioc.payload"):
                objs = objects_json(prepare_objects(instrumented_indicators(self.bulk, self.specs)[0]))
                objs.agg(F.sum(F.hash("object_json"))).first()
        with _maybe(span, "sinks.write_intelligence"):
            ind, _obs = instrumented_indicators(self.bulk, self.specs)
            write_intelligence(objects_json(prepare_objects(ind)), api, META)

    def _ep_b(self, api, span):
        spark = self.spark
        adv = derive_advisories(spark, self.sf_dir)
        existing = derive_existing_tipreports(spark, self.sf_dir)
        fresh = incremental_advisories(adv, existing)
        payload = F.to_json(
            F.struct(
                F.col("id").alias("advisory_id"),
                "title",
                F.col("timestamp_updated").cast("string").alias("updated"),
                "tags",
            )
        )
        routed = route_upserts(fresh, existing).withColumn("payload_json", payload)
        if span is not None:
            with span("ioc.route_upserts"):
                routed.agg(F.sum(F.hash("id", "action", "tipreport_id"))).first()
        with _maybe(span, "sinks.write_tipreport_upserts"):
            write_tipreport_upserts(routed, api)
        with _maybe(span, "ioc.high_watermark"):
            return high_watermark(existing).first().watermark

    def step(self, traced: bool = False) -> dict:
        """One measured connector cycle, then its check."""
        self.cycles += 1
        return self._cycle(f"sink-{self.cycles}", traced)

    def _cycle(self, tag: str, traced: bool) -> dict:
        sink_dir = self.run.path(tag)
        api_cls = ProbeApi if traced else FileBackedAnomaliApi
        trace = self.run.trace if traced else None
        span = trace.span if traced else None
        first_span = len(trace.spans) if traced else 0
        guard = self.run.jobs.no_stray_jobs() if traced else contextlib.nullcontext()
        group = self.run.jobs.group("cycle") if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        with _maybe(span, "connector.cycle"), guard, group:
            self._ep_a(functools.partial(api_cls, sink_dir, MAX_PAYLOAD_BYTES), span)
            t1 = time.perf_counter()
            watermark = self._ep_b(functools.partial(api_cls, sink_dir), span)
        t2 = time.perf_counter()
        res = {"ms": (t2 - t0) * 1000.0, "ep_a_s": t1 - t0, "ep_b_s": t2 - t1}
        res["kind"] = f"cycle (EP-A {t1 - t0:.2f}s, EP-B {t2 - t1:.2f}s)"
        res.update(self._check(sink_dir, watermark))
        if traced:
            spans = {s["name"]: s for s in trace.spans[first_span:]}
            self._record_layers(sink_dir, spans)
        shutil.rmtree(sink_dir, ignore_errors=True)
        return res

    def _check(self, sink_dir: str, watermark) -> dict:
        """Every expected indicator acknowledged exactly once; every routed
        advisory inserted or updated exactly once, updates under the right
        tipreport id."""
        api = FileBackedAnomaliApi(sink_dir)
        got = Counter(_canon(o) for p in api.received("intelligence") for o in p["objects"])
        inserts = [p["advisory_id"] for p in api.received("tipreport_insert")]
        updates = [(p["advisory_id"], p["id"]) for p in api.received("tipreport_update")]
        want = self.expected_routes
        ok = (
            got == self.expected_objects
            and Counter(inserts) + Counter(a for a, _ in updates) == Counter(want.keys())
            and all(want[a] is None for a in inserts)
            and all(want[a] == tid for a, tid in updates)
            and watermark is not None
        )
        n_ind, n_bul = sum(got.values()), len(inserts) + len(updates)
        return {"ok": ok, "indicators": n_ind, "bulletins": n_bul, "items": n_ind + n_bul}

    def finish(self) -> bool:
        return True  # every cycle is checked on its own

    def summary(self, results: list[dict]) -> dict:
        return {
            "connector.cycle_s": median([r["ms"] for r in results]) / 1000.0,
            "connector.indicators_per_s": sum(r["indicators"] for r in results)
            / sum(r["ep_a_s"] for r in results),
            "connector.bulletins_per_s": sum(r["bulletins"] for r in results)
            / sum(r["ep_b_s"] for r in results),
        }

    def _record_layers(self, sink_dir: str, spans: dict) -> None:
        # self time of a lazy stage = its prefix action minus the previous one
        scan = span_s(spans["sources.scan"])
        transform = span_s(spans["ioc.instrumented_indicators"])
        payload = span_s(spans["ioc.payload"])
        route = span_s(spans["ioc.route_upserts"])
        # the sink consumes the chain through foreachPartition (an RDD
        # action), which never completes the chain's Observation; the
        # counters come from the transforms prefix's own Observation
        m = self._prefix_obs.get
        writers = read_probe(sink_dir)
        intel = [r for w in writers for r in w if r["kind"] == "intelligence"]
        upserts = [r for w in writers for r in w if r["kind"] != "intelligence"]
        sent = sum(r["objects"] for r in intel)
        acked = sum(r["objects"] for r in intel if r["status"] in OK_STATUSES)
        vals = {
            "sources.scan_s": scan,
            "sources.partitions": self.bulk.rdd.getNumPartitions(),
            "sources.rows": spans["sources.scan"]["rows"],
            "sources.jobs": spans["sources.scan"]["jobs"],
            "ioc.transform_s": transform - scan,
            "ioc.payload_s": payload - transform,
            "ioc.rows_parsed": m["n_parsed"],
            "ioc.discard_unsupported_type": m["n_unsupported_type"],
            "ioc.discard_missing_md5": m["n_missing_md5"],
            "ioc.indicators": m["n_indicators"],
            "ioc.route_s": route,
            "ioc.inserts": sum(1 for r in upserts if r["kind"] == "tipreport_insert"),
            "ioc.updates": sum(1 for r in upserts if r["kind"] == "tipreport_update"),
            "sinks.write_s": span_s(spans["sinks.write_intelligence"]) - payload,
            "sinks.partitions": sum(1 for w in writers if any(r["kind"] == "intelligence" for r in w)),
            "sinks.requests": len(intel),
            "sinks.size_rejects": sum(1 for r in intel if r["status"] == 400),
            "sinks.request_ms_p50": median([r["ms"] for r in intel]),
            "sinks.useful_ratio": acked / sent if sent else 0.0,
            "sinks.upsert_s": span_s(spans["sinks.write_tipreport_upserts"]) - route,
            "sinks.upsert_requests": len(upserts),
        }
        for k, v in vals.items():
            self.layers.setdefault(k, []).append(float(v))


@contextlib.contextmanager
def _maybe(span, name: str):
    if span is None:
        yield None
    else:
        with span(name) as rec:
            yield rec
