"""Timing/counting transport for the traced connector run.

A subclass of the engine's ``FileBackedAnomaliApi`` — the transport seam the
sink tests already substitute.  Every request appends one JSON line to
``<outdir>/_probe/<writer>.jsonl`` (kind, status, milliseconds, objects), one
file per writer instance, i.e. per sink partition.  It runs inside Spark's
Python workers, so it must stay importable as ``perfbench.probe_api``.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from datalake2anomali_spark.sinks.anomali import FileBackedAnomaliApi

PROBE_DIR = "_probe"


class ProbeApi(FileBackedAnomaliApi):
    def __init__(self, outdir: str, max_payload_bytes: int | None = None):
        super().__init__(outdir, max_payload_bytes)
        os.makedirs(os.path.join(outdir, PROBE_DIR), exist_ok=True)
        self._log = os.path.join(outdir, PROBE_DIR, f"{uuid.uuid4().hex}.jsonl")

    def _timed(self, kind: str, call, objects: int):
        t = time.perf_counter()
        status, body = call()
        ms = (time.perf_counter() - t) * 1000.0
        with open(self._log, "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"kind": kind, "status": status, "ms": ms, "objects": objects}) + "\n")
        return status, body

    def patch_intelligence(self, payload: dict):
        return self._timed(
            "intelligence",
            lambda: super(ProbeApi, self).patch_intelligence(payload),
            len(payload.get("objects", ())),
        )

    def post_tipreport(self, payload: dict):
        return self._timed(
            "tipreport_insert", lambda: super(ProbeApi, self).post_tipreport(payload), 1
        )

    def patch_tipreport(self, tipreport_id: int, payload: dict):
        return self._timed(
            "tipreport_update",
            lambda: super(ProbeApi, self).patch_tipreport(tipreport_id, payload),
            1,
        )


def read_probe(outdir: str) -> list[list[dict]]:
    """Per-writer request records of one sink run."""
    d = os.path.join(outdir, PROBE_DIR)
    if not os.path.isdir(d):
        return []
    writers = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), encoding="utf-8") as fh:
            writers.append([json.loads(line) for line in fh if line.strip()])
    return writers
