"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Positional args select a query subset for targeted A/Bs (the full-run
JSON contract is unchanged):

    python bench.py decontaminate setsim_join     # just these two
    python bench.py --repeat 3 decontaminate      # 3 warm passes each

With --repeat, "queries_warm" reports the LAST warm pass — the most
steady-state one — not an average.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from datalake2anomali_spark.io.tables import load_table
from datalake2anomali_spark.llm.dedup import minhash_dedup_pairs, simhash_near_pairs
from datalake2anomali_spark.llm.similarity import (
    ann_hyperplane_topk,
    ann_ivf_topk,
    embedding_neardup_lsh,
)
from datalake2anomali_spark.plans.llm_queries import _query_vectors
from datalake2anomali_spark.session import get_spark

# The registered queries() entries for the approximate operators bundle the
# operator PLUS its exact twin plus the comparison joins — that is the
# correctness harness (plans/llm_queries.py, run by the driver's oracle gate
# at sf0.01).  The bench measures the operator itself: same names, same
# parameters, raw output.  (The exact twins are benchmarked under their own
# entries: dedup_ngram_jaccard, embedding_neardup, ann_cosine_topk.)
RAW_OPS = {
    "dedup_minhash_lsh": lambda spark, sf: minhash_dedup_pairs(
        load_table(spark, sf, "documents"), threshold=0.8
    ),
    "dedup_simhash": lambda spark, sf: simhash_near_pairs(
        load_table(spark, sf, "documents"), max_distance=3
    ),
    "ann_lsh_topk": lambda spark, sf: ann_hyperplane_topk(
        load_table(spark, sf, "embeddings"), _query_vectors(spark, sf),
        k=5, n_tables=8, bits_per_table=4,
    ),
    "ann_ivf_topk": lambda spark, sf: ann_ivf_topk(
        load_table(spark, sf, "embeddings"), _query_vectors(spark, sf),
        k=5, n_cells=16, nprobe=6,
    ),
    "embedding_neardup_lsh": lambda spark, sf: embedding_neardup_lsh(
        load_table(spark, sf, "embeddings"), threshold=0.4, n_tables=16, bits_per_table=4,
    ),
    "dedup_incremental": lambda spark, sf: _raw_dedup_incremental(spark, sf),
    # Adversarial-skew pair (round-5 verdict #8): the same zipfian join+agg
    # through the unsalted plan and through salted_join/salted_agg, so every
    # BENCH_r{N} carries both timings.  Wall-clock on ONE box is expected to
    # be ~level (a shared CPU pool absorbs stragglers); the cluster-scale
    # signal is the partition histogram recorded in docs/BENCH_NOTES.md
    # (operators/skew.py: partition_skew_stats).
    "skew_zipf_unsalted": lambda spark, sf: _zipf_join(spark, sf, salted=False),
    "skew_zipf_salted": lambda spark, sf: _zipf_join(spark, sf, salted=True),
}

# Queries whose in-callable ("build"-bucket) time IS the operator under
# test, not fixture scripting: driver-side iterative loops (label
# propagation, star contraction, k-core peel + h-index fixpoint, Lloyd
# iterations, PCA covariance+eig, BPE merge rounds, PageRank power
# steps) and eager operator-internal checkpoints (triangle orientation).
# The per-round exec drift gate would otherwise structurally under-cover
# them (VERDICT r15 task 3); tools/bench_compare.py folds these rows'
# build bucket into the exec side.
OPERATOR_LOOP = (
    "pagerank",
    "pagerank_dangling",
    "dedup_clusters",
    "dedup_clusters_star",
    "k_core_decomposition",
    "embedding_kmeans",
    "pca_project",
    "bpe_tokenize",
    "triangle_count",
)

_ZIPF_REP = 8  # lineitem × 8 ≈ 4.8M probe rows at sf0.1
_ZIPF_SALTS = 8


def _zipf_probe(spark, sf):
    """Zipfian probe: ~10% of rows on one hot key ("one user with 10% of
    events"), the rest uniform over 1500 keys; deterministic hashes."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.withColumn(
        "rep", F.explode(F.sequence(F.lit(1), F.lit(_ZIPF_REP)))
    ).withColumn(
        "k",
        F.when(F.pmod(F.xxhash64("l_orderkey", "rep"), F.lit(10)) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("l_orderkey", "rep", F.lit(7)), F.lit(1500))),
    )


def _zipf_join(spark, sf, salted: bool):
    """Join the zipfian probe to a 1500-row dim (merge-hinted: broadcast
    would sidestep the shuffle under test) and aggregate per key."""
    from pyspark.sql import functions as F

    from datalake2anomali_spark.operators import skew

    probe = _zipf_probe(spark, sf)
    build = spark.range(1500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("payload")
    )
    if not salted:
        return (
            probe.join(build.hint("merge"), "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        )
    joined = skew.salted_join(
        probe,
        build.hint("merge"),
        keys=["k"],
        salt_from=["l_orderkey", "l_linenumber", "rep"],
        n_salts=_ZIPF_SALTS,
    )
    return skew.salted_agg(
        joined,
        keys=["k"],
        partials={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "s": (F.sum("l_quantity"), F.sum("s")),
        },
        salt_from=["l_orderkey", "l_linenumber", "rep"],
        n_salts=_ZIPF_SALTS,
    )


def _raw_dedup_incremental(spark, sf):
    from datalake2anomali_spark.llm.dedup import dedup_against
    from datalake2anomali_spark.llm.pipeline import md5_bucket_col
    from datalake2anomali_spark.plans.llm_queries import NGRAM_MAX_DF

    docs = load_table(spark, sf, "documents")
    bucket = md5_bucket_col("doc_id")
    return dedup_against(
        docs.filter(bucket >= 60), docs.filter(bucket < 60),
        threshold=0.8, max_df=NGRAM_MAX_DF,
    )


def _tail_digest(
    cold: dict[str, float], warm: dict[str, float], budget: int = 1150
) -> tuple[dict[str, float], dict[str, float]]:
    """Top rows by cold total, as many as fit ``budget`` serialized
    chars across both maps — the driver records only the last ~2,000
    chars of stdout, so the LAST line carries a bounded per-query digest
    (VERDICT r16 task 2) while the full record stays on the line above.
    Ordering is biggest-first: the expensive rows are exactly the ones a
    round-over-round or core-scaling comparison needs."""
    out_c: dict[str, float] = {}
    out_w: dict[str, float] = {}
    # json.dumps({name: v}) is the entry plus 2 chars — its share of the
    # braces or the ', ' separator — so the fragments sum exactly to the
    # serialized map; 2 more are held for a warm map left empty ('{}')
    used = 2
    for name in sorted(cold, key=lambda n: (-cold[n], n)):
        cost = len(json.dumps({name: cold[name]}))
        if name in warm:
            cost += len(json.dumps({name: warm[name]}))
        if used + cost > budget:
            break
        used += cost
        out_c[name] = cold[name]
        if name in warm:
            out_w[name] = warm[name]
    return out_c, out_w


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    repeat = 1
    if "--repeat" in args:
        i = args.index("--repeat")
        repeat = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    spark = get_spark("bench")
    qs = {**entrymod.queries(), **RAW_OPS}
    if args:
        unknown = [a for a in args if a not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}; known: {sorted(qs)}")
        qs = {name: qs[name] for name in args}
    timings: dict[str, float] = {}
    # warm the JVM + parquet footers once so timings measure the queries
    entrymod.entry(spark).count()
    # ... and the Python worker pool (Arrow serializer import + fork costs
    # ~1-2 s once per session; without this the first pandas_udf query
    # foots that shared bill)
    spark.range(10_000).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ... and the Python DataSource runner (a separate plan-serialization +
    # worker path from pandas_udf; one tiny scan warms it)
    from datalake2anomali_spark.sources import register_sources

    register_sources(spark)
    spark.read.format("worldwatch_advisories").load().write.format("noop").mode(
        "overwrite"
    ).save()
    # Two passes: the cold pass pays each distinct plan's one-time codegen +
    # Python-worker costs (2-5 s for the first run of a plan shape); the warm
    # pass isolates steady-state execution so a regression in either bucket
    # is attributable.  "value" stays the cold total for cross-round
    # comparability.
    warm_timings: dict[str, float] = {}
    # Per-query split (VERDICT r13 task 3): "build" is the time spent
    # INSIDE the query callable — for the scripted protocol fixtures
    # that is the multi-commit fixture scripting (clones, stacked
    # commits, fingerprints), which runs eagerly before the DataFrame is
    # returned; "exec" is the returned DataFrame's noop-write action,
    # i.e. the measured operator plan.  For plain lazy queries build≈0.
    # queries[name] stays build+exec so cross-round records compare.
    build_timings: dict[str, dict[str, float]] = {"cold": {}, "warm": {}}
    exec_timings: dict[str, dict[str, float]] = {"cold": {}, "warm": {}}
    # Fixture-cache disclosure: the fixture cache lives for one process,
    # so the cold pass always builds (builds>0) and later passes of the
    # same invocation hit it; report hits vs builds per pass.
    from datalake2anomali_spark.plans.protocol_queries import CACHE_COUNTERS

    cache_stats: dict[str, dict[str, int]] = {}
    run_idx = 0
    passes = [(timings, "cold")] + [(warm_timings, "warm")] * repeat
    for out, tag in passes:
        c0 = dict(CACHE_COUNTERS)
        for name, fn in qs.items():
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            out[name] = round(t2 - t0, 3)
            build_timings[tag][name] = round(t1 - t0, 3)
            exec_timings[tag][name] = round(t2 - t1, 3)
            # queries persist intermediates (signature/index reuse within a
            # query); drop them between timings so later queries aren't taxed
            # by storage-memory pressure from earlier ones
            spark.catalog.clearCache()
            # ... and periodically force the weak-ref ContextCleaner to run:
            # without a JVM GC, shuffle/broadcast/checkpoint blocks from
            # EVERY prior query stay resident (measured 3-4x tail slowdown
            # across an 84-query pass; periodicGC.interval=1min in
            # session.py bounds long gaps, this bounds the within-pass pile)
            run_idx += 1
            if run_idx % 10 == 0:
                spark.sparkContext._jvm.System.gc()
        # accumulate across same-tag passes (--repeat runs several warm
        # passes; a plain assignment would record only the last one) and
        # record the pass count so hit-rate consumers can normalize —
        # queries_warm holds only the LAST warm pass's timings
        delta = {k: CACHE_COUNTERS[k] - c0[k] for k in CACHE_COUNTERS}
        prev = cache_stats.get(tag, dict.fromkeys(CACHE_COUNTERS, 0))
        cache_stats[tag] = {k: prev[k] + delta[k] for k in CACHE_COUNTERS}
        cache_stats[tag]["passes"] = prev.get("passes", 0) + 1
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    value_warm = round(sum(warm_timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "value_warm": value_warm,
                "queries_warm": warm_timings,
                "queries_build": build_timings["cold"],
                "queries_exec": exec_timings["cold"],
                "queries_warm_build": build_timings["warm"],
                "queries_warm_exec": exec_timings["warm"],
                "operator_loop": sorted(set(OPERATOR_LOOP) & set(timings)),
                "fixture_cache": cache_stats,
                "sf": float(sf) if sf else None,
            }
        )
    )
    # The per-query map above has outgrown the driver's 2,000-char tail
    # capture (every BENCH_r*.json since r03 recorded parsed=null), so the
    # LAST stdout line is a compact summary guaranteed to fit the tail —
    # now carrying a budget-bounded top-N per-query digest (biggest cold
    # rows first) so the driver's round-over-round and core-scaling
    # comparisons see per-query numbers again (VERDICT r16 task 2); the
    # full record is the line above / docs/bench_local_r17_final.json
    # (older rounds' records: ``git show a3c568b:docs/bench_local_r16_final.json``).
    dig_c, dig_w = _tail_digest(timings, warm_timings)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "value_warm": value_warm,
                "build_sec": round(sum(build_timings["cold"].values()), 3),
                "exec_sec": round(sum(exec_timings["cold"].values()), 3),
                "n_queries": len(timings),
                "queries": dig_c,
                "queries_warm": dig_w,
                "fixture_cache_hits": cache_stats["cold"]["hits"],
                "fixture_cache_builds": cache_stats["cold"]["builds"],
                "sf": float(sf) if sf else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
