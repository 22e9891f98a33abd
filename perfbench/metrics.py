"""The benchmark's metric catalogue; ``BENCHMARK.json`` lists the same names.

End-to-end metrics are reported by every workload, each from that
workload's own closed-loop operation (see README.md).  Per-layer metrics
are reported by every traced run; a layer a workload does not call reports
0, which is the measured value (no calls, no time).
"""

from __future__ import annotations

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_ms", "ms", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_PUBLISH_COMMITS = ["merge_narrow", "merge_wide", "update_narrow", "update_wide", "delete_cow", "delete_mor"]
_PUBLISH_READS = ["read_full", "read_zone", "read_bloom", "read_asof"]
PUBLISH_OPS = _PUBLISH_COMMITS + _PUBLISH_READS
NARROW_COMMITS = {"merge_narrow", "update_narrow", "delete_cow", "delete_mor"}


def _publish() -> list[tuple[str, str, str]]:
    out = []
    for op in PUBLISH_OPS:
        out.append((f"publish.{op}_ms", "ms", "lower"))
        out.append((f"publish.jobs.{op}", "count", "lower"))
    for op in _PUBLISH_COMMITS:
        out.append((f"publish.partitions_rewritten.{op}", "count", "lower"))
        out.append((f"publish.bytes_written.{op}", "bytes", "lower"))
    for op in _PUBLISH_READS:
        out.append((f"publish.files_scanned.{op}", "count", "lower"))
    out.append(("publish.merge_ms", "ms", "lower"))
    out.append(("publish.jobs.merge", "count", "lower"))
    return out


PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("jvm.gc_ms", "ms", "lower"),
        ("jvm.heap_used_mb", "MB", "lower"),
        ("sources.scan_s", "s", "lower"),
        ("sources.partitions", "count", "lower"),
        ("sources.rows", "count", "higher"),
        ("sources.jobs", "count", "lower"),
        ("ioc.transform_s", "s", "lower"),
        ("ioc.payload_s", "s", "lower"),
        ("ioc.rows_parsed", "count", "higher"),
        ("ioc.discard_unsupported_type", "count", "lower"),
        ("ioc.discard_missing_md5", "count", "lower"),
        ("ioc.indicators", "count", "higher"),
        ("ioc.route_s", "s", "lower"),
        ("ioc.inserts", "count", "higher"),
        ("ioc.updates", "count", "higher"),
        ("sinks.write_s", "s", "lower"),
        ("sinks.partitions", "count", "lower"),
        ("sinks.requests", "count", "lower"),
        ("sinks.size_rejects", "count", "lower"),
        ("sinks.request_ms_p50", "ms", "lower"),
        ("sinks.useful_ratio", "ratio", "higher"),
        ("sinks.upsert_s", "s", "lower"),
        ("sinks.upsert_requests", "count", "lower"),
    ]
    + _publish()
    + [
        ("streaming.start_ms", "ms", "lower"),
        ("streaming.planning_ms", "ms", "lower"),
        ("streaming.get_batch_ms", "ms", "lower"),
        ("streaming.add_batch_ms", "ms", "lower"),
        ("streaming.wal_commit_ms", "ms", "lower"),
        ("streaming.batches_per_tick", "count", "lower"),
        # the workload-level breakdown of op_ms / items_per_s
        ("connector.cycle_s", "s", "lower"),
        ("connector.indicators_per_s", "1/s", "higher"),
        ("connector.bulletins_per_s", "1/s", "higher"),
        ("dml.narrow_commit_ms", "ms", "lower"),
        ("dml.wide_commit_ms", "ms", "lower"),
        ("dml.read_ms", "ms", "lower"),
        ("dml.bytes_per_live_byte", "ratio", "lower"),
        ("stream.tick_ms", "ms", "lower"),
        ("stream.events_per_s", "1/s", "higher"),
        ("trace.overhead_ms", "ms", "lower"),
    ]
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def record(values: dict, names) -> dict:
    """``{name: {"value", "unit"}}`` for every name; absent values are 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names}
