from __future__ import annotations

import json

import pytest

from datalake2anomali_spark.sinks import (
    FileBackedAnomaliApi,
    TokenBucket,
    upload_payload_bisecting,
    write_intelligence,
    write_tipreport_upserts,
)
from datalake2anomali_spark.sinks.anomali import SIZE_REJECT_MESSAGE

META = {"classification": "private", "allow_update": True}


def test_token_bucket_paces():
    t = {"now": 0.0}
    sleeps = []

    def clock():
        return t["now"]

    def sleep(s):
        sleeps.append(s)
        t["now"] += s

    tb = TokenBucket(rate_per_sec=2.0, burst=1, clock=clock, sleep=sleep)
    for _ in range(4):
        tb.acquire()
    # first token is free (full bucket), each further token waits ~0.5s
    assert len(sleeps) == 3
    assert all(abs(s - 0.5) < 1e-9 for s in sleeps)


def test_bisection_splits_and_preserves_all_objects():
    received = []

    def send(payload):
        if len(json.dumps(payload).encode()) > 200:
            return 400, {"message": SIZE_REJECT_MESSAGE}
        received.append(payload["objects"])
        return 202, {}

    objects = [{"domain": f"evil{i}.example", "confidence": 90} for i in range(17)]
    stats = upload_payload_bisecting(None, META, objects, _send=send)
    assert stats["uploaded"] == 17
    assert stats["rejected"] == 0
    assert stats["requests"] > len(received)  # some requests were rejects
    flat = [o for batch in received for o in batch]
    # every object delivered exactly once, order-insensitively
    assert sorted(flat, key=lambda o: o["domain"]) == sorted(
        objects, key=lambda o: o["domain"]
    )


def test_bisection_poison_object_rejected_not_fatal():
    def send(payload):
        if len(json.dumps(payload).encode()) > 200:
            return 400, {"message": SIZE_REJECT_MESSAGE}
        return 202, {}

    objects = [{"domain": "ok.example"}, {"domain": "x" * 500}]
    stats = upload_payload_bisecting(None, META, objects, _send=send)
    assert stats["uploaded"] == 1
    assert stats["rejected"] == 1


def test_write_intelligence_distributed_bisection(spark, tmp_path):
    outdir = str(tmp_path)
    rows = [(json.dumps({"domain": f"d{i}.example", "confidence": i % 100}),) for i in range(200)]
    df = spark.createDataFrame(rows, "object_json string").repartition(4)

    write_intelligence(
        df,
        api_factory=lambda: FileBackedAnomaliApi(outdir, max_payload_bytes=2000),
        meta=META,
        target_objects_per_request=64,
    )

    api = FileBackedAnomaliApi(outdir)
    payloads = api.received("intelligence")
    assert len(payloads) > 4  # the 64-object optimistic chunks had to split
    for p in payloads:
        assert len(json.dumps(p, sort_keys=True).encode()) <= 2000
        assert p["meta"] == META
    domains = sorted(o["domain"] for p in payloads for o in p["objects"])
    assert domains == sorted(f"d{i}.example" for i in range(200))


def test_write_tipreport_upserts_routes(spark, tmp_path):
    outdir = str(tmp_path)
    rows = [
        ("insert", None, json.dumps({"name": "adv-1", "body": "b1"})),
        ("update", 41, json.dumps({"name": "adv-2", "body": "b2"})),
        ("insert", None, json.dumps({"name": "adv-3", "body": "b3"})),
    ]
    df = spark.createDataFrame(rows, "action string, tipreport_id int, payload_json string")
    write_tipreport_upserts(df, api_factory=lambda: FileBackedAnomaliApi(outdir))

    api = FileBackedAnomaliApi(outdir)
    inserts = api.received("tipreport_insert")
    updates = api.received("tipreport_update")
    assert sorted(p["name"] for p in inserts) == ["adv-1", "adv-3"]
    assert [p["id"] for p in updates] == [41]
    assert updates[0]["name"] == "adv-2"


def test_patch_tipreport_records_the_tipreport_id_over_a_payload_id(tmp_path):
    """An update payload may carry its own ``id`` (an advisory id from the
    source); the recorded request still names the tipreport it patches."""
    api = FileBackedAnomaliApi(str(tmp_path))
    status, _ = api.patch_tipreport(41, {"id": "adv-7", "name": "adv-7"})
    assert status == 202
    (rec,) = api.received("tipreport_update")
    assert rec["id"] == 41 and rec["name"] == "adv-7"
