"""Benchmark entry point.

    python3 perfbench/run.py --workload {connector,table_dml,stream_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Set-up (JVM launch, seeded inputs, state,
fixed warm-up) is timed as ``setup_s``; then closed-loop operations run
until ``--seconds`` have been measured (a traced ``table_dml`` run also
finishes its round of all ten operation kinds).  Each operation is checked;
a final check compares the workload's end state with an independent model.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``).  Everything else the JVM and Python workers print goes to
stderr.  Any failure exits non-zero without a result line.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from perfbench import metrics  # noqa: E402
from perfbench.common import WORK, JobCounter, SparkRun, Trace, median  # noqa: E402
from perfbench.connector import Connector  # noqa: E402
from perfbench.stream_ingest import StreamIngest  # noqa: E402
from perfbench.table_dml import TableDml  # noqa: E402

WORKLOADS = {"connector": Connector, "table_dml": TableDml, "stream_ingest": StreamIngest}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def measure(run: SparkRun, args) -> dict:
    """Set up, warm up, run the closed loop and check; returns the record."""
    traced = bool(args.trace)
    rng = np.random.default_rng(args.seed)
    run.start()
    run.jobs = JobCounter(run.spark)
    run.trace = Trace(f"{args.workload}-{args.seed}-{os.getpid()}")
    log(f"session started in {run.start_s:.2f}s")
    wl = WORKLOADS[args.workload](run, rng, traced)
    wl.setup()
    log("inputs and state built")
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t
    log(f"warm-up done in {warmup_s:.2f}s")
    setup_s = time.perf_counter() - T_PROCESS

    gc0 = run.jvm_gc_ms()
    traced_ops, plain_ops = [], []
    t0 = time.perf_counter()
    while True:
        # the traced connector alternates traced and untraced cycles, so the
        # same run measures the tracing overhead
        trace_this = traced and not (isinstance(wl, Connector) and len(plain_ops) < len(traced_ops))
        res = wl.step(traced=trace_this)
        log(f"{res['kind']}: {res['ms']:.1f} ms, ok={res['ok']}, traced={trace_this}")
        (traced_ops if trace_this else plain_ops).append(res)
        if time.perf_counter() - t0 >= args.seconds and _round_done(wl, traced, traced_ops, plain_ops):
            break
    final_ok = wl.finish()
    log(f"final check ok={final_ok}")
    gc_ms = run.jvm_gc_ms() - gc0
    heap_mb = run.jvm_heap_used_mb()

    ops = traced_ops + plain_ops
    failed = sum(1 for r in ops if not r["ok"]) + (0 if final_ok else 1)
    attempted = len(ops) + 1  # the final state check counts as one operation
    rec = {"attempted": attempted, "failed": failed}
    if not traced:
        rec["values"] = {
            "setup_s": setup_s,
            "op_ms": median([r["ms"] for r in ops]),
            "items_per_s": sum(r["items"] for r in ops) / (sum(r["ms"] for r in ops) / 1000.0),
        }
        return rec
    values = {k: median(v) for k, v in wl.layers.items()}
    values.update(
        {
            "session.start_s": run.start_s,
            "session.warmup_s": warmup_s,
            "jvm.gc_ms": gc_ms,
            "jvm.heap_used_mb": heap_mb,
        }
    )
    values.update(wl.summary(plain_ops or traced_ops))
    values["trace.overhead_ms"] = _overhead_ms(traced_ops, plain_ops)
    rec["values"] = values
    run.trace.write(os.path.join(WORK, "traces", f"{run.trace.run_id}.jsonl"))
    return rec


def _round_done(wl, traced: bool, traced_ops, plain_ops) -> bool:
    """table_dml measures whole rounds of its schedule; the traced connector
    needs at least one traced and one untraced cycle."""
    if isinstance(wl, TableDml):
        return wl.round_done()
    if isinstance(wl, Connector) and traced:
        return bool(traced_ops) and bool(plain_ops)
    return True


def _overhead_ms(traced: list[dict], plain: list[dict]) -> float:
    """Tracing overhead per operation.  Connector: traced minus untraced
    cycle time, from alternating cycles of one run (the traced cycle re-runs
    the lazy chain's prefixes).  Others: the median time spent in code that
    only a traced operation runs (job groups, manifest diffs, file sizes)."""
    if plain:
        return median([r["ms"] for r in traced]) - median([r["ms"] for r in plain])
    return median([r["trace_ms"] for r in traced])


def main(argv=None) -> int:
    args = parse_args(argv)
    # JVM and Python-worker output share fd 1 with us; route it to stderr so
    # the result is the last line of stdout
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    run = SparkRun(args.workload, args.seed)
    try:
        rec = measure(run, args)
    finally:
        peak_rss_mb = run.close()
    values = rec["values"]
    if args.trace:
        names = [n for n, _, _ in metrics.PER_LAYER]
    else:
        values["peak_rss_mb"] = peak_rss_mb
        names = [n for n, _, _ in metrics.END_TO_END]
    out = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics.record(values, names),
    }
    result_out.write(json.dumps(out) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
