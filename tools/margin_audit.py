"""Measured-margin audit for EVERY bounded-approximation gate in the
registry — one command per tier: the five ANN recall gates and the two
LSH dedup gates (measured ad hoc in r13, unified here), plus
``sketch_stats`` (HLL++ relative error + quantile rank error),
``cms_counts`` (ε·N overcount), ``snapshot_bloom_scan`` (partition-bloom
skip rate on absent probes), and ``bloom_semi_join`` (bitmap FPR on the
reduced probe side).

    python tools/margin_audit.py /root/testdata/sf0.01 [gate ...]

For each gate it prints the MEASURED worst-case error next to the
asserted bound, at the registered configuration — the same
one-scale-up policy that caught ann_pq_topk's m=16 recall failure in
r13 (VERDICT r13 task 4).  Output is one JSON line per gate so the
committed margin table in BENCH_NOTES can quote it verbatim.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datalake2anomali_spark.io.tables import load_table  # noqa: E402
from datalake2anomali_spark.session import get_spark  # noqa: E402


def audit_sketch_stats(spark, sf_dir: str) -> dict:
    """Worst-case measured HLL++ relative error and quantile rank-error
    fraction at the registered sketch_stats config (events grouped by
    event_type, id=user_id, value=value, rsd=0.05, accuracy=10000)."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.col("value")).alias("n"),
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.05).alias("hll"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
        ).alias("qa"),
    )
    ranks = (
        e.select("event_type", "value")
        .join(F.broadcast(agg.select("event_type", "qa")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("qa")[0]).cast("long")).alias("le50"),
            F.sum((F.col("value") <= F.col("qa")[1]).cast("long")).alias("le95"),
        )
    )
    rows = agg.join(ranks, "event_type").collect()
    hll_rel = max(abs(r["hll"] - r["exact"]) / r["exact"] for r in rows)
    # the gate's slack is rank_frac_bound·n + 2; report the measured
    # rank-error FRACTION net of the +2 absolute term
    r50 = max(max(0.0, abs(r["le50"] - 0.5 * r["n"]) - 2) / r["n"] for r in rows)
    r95 = max(max(0.0, abs(r["le95"] - 0.95 * r["n"]) - 2) / r["n"] for r in rows)
    return {
        "gate": "sketch_stats",
        "hll_rel_err": round(hll_rel, 4),
        "hll_bound": 0.15,
        "rank_frac_p50": round(r50, 5),
        "rank_frac_p95": round(r95, 5),
        "rank_frac_bound": 0.03,
        "groups": len(rows),
    }


def audit_cms_counts(spark, sf_dir: str) -> dict:
    """Worst-case measured CMS overcount vs the ε·N slack at the
    registered cms_counts config (events.user_id, ε=0.001, δ=0.01,
    seed=42, the registered probe set)."""
    from datalake2anomali_spark.functions.sketches import cms_probe_summary
    from datalake2anomali_spark.plans.scale_queries import CMS_PROBES

    e = load_table(spark, sf_dir, "events")
    n_total = e.agg(F.count(F.col("user_id"))).collect()[0][0]
    slack = math.ceil(0.001 * n_total)
    # re-derive the raw estimates (cms_probe_summary returns booleans;
    # the audit needs the distances)
    sk_bytes = e.agg(
        F.count_min_sketch(
            F.col("user_id"), F.lit(0.001), F.lit(0.99), F.lit(42)
        ).alias("sk")
    ).collect()[0]["sk"]
    jvm = spark._jvm
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sk_bytes))
    )
    exact = {
        r["k"]: r["n"]
        for r in e.filter(F.col("user_id").isin(CMS_PROBES))
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    worst_over, undercounts = 0, 0
    for p in CMS_PROBES:
        est = sk.estimateCount(jvm.java.lang.Long.parseLong(str(int(p))))
        true_n = int(exact.get(p, 0))
        worst_over = max(worst_over, est - true_n)
        if est < true_n:
            undercounts += 1
    return {
        "gate": "cms_counts",
        "worst_overcount": worst_over,
        "slack_eps_n": slack,
        "over_vs_slack": round(worst_over / slack, 4) if slack else None,
        "undercounts": undercounts,
        "n_probes": len(CMS_PROBES),
    }


def audit_snapshot_bloom(spark, sf_dir: str) -> dict:
    """Partition-bloom efficacy at the registered snapshot_bloom_scan
    publish (events bloom-indexed on event_id): for ABSENT probe ids,
    the fraction of partitions the bloom fails to skip (false-positive
    rate).  Correctness never depends on this — a saturated filter only
    stops skipping — but the I/O advice is the operator's point, so its
    decay with per-partition key count is the scale signal."""
    from datalake2anomali_spark.io.publish import (
        _bloom_may_contain,
        _manifest_bloom_geometry,
        init_table,
        read_manifest,
    )
    from datalake2anomali_spark.io.tables import _scratch_root

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # the per-process scratch dir is removed at exit, so a failed build
    # or probe never strands the table copy in tmpfs (ADVICE r14)
    root = _scratch_root("d2a_bloomaudit", sf_dir)
    init_table(spark, e, root, "event_date", bloom_cols=["event_id"])
    manifest = read_manifest(root)
    blooms = manifest["bloom"]
    m, k = _manifest_bloom_geometry(manifest)
    hi = e.agg(F.max("event_id")).collect()[0][0]
    keys_per_part = (
        e.groupBy("event_date").agg(F.countDistinct("event_id").alias("d"))
    ).agg(F.max("d"), F.avg("d")).collect()[0]
    probes = [int(hi) + 1 + i for i in range(200)]
    tested = fps = 0
    for pval, cols in blooms.items():
        hx = cols.get("event_id")
        if hx is None:
            continue
        for v in probes:
            tested += 1
            if _bloom_may_contain(hx, v, m=m, k=k):
                fps += 1
    return {
        "gate": "snapshot_bloom_scan",
        "m_bits": m,
        "k": k,
        "partitions": len(blooms),
        "max_keys_per_partition": int(keys_per_part[0]),
        "avg_keys_per_partition": round(float(keys_per_part[1]), 1),
        "absent_probe_fp_rate": round(fps / tested, 4) if tested else None,
        "design_note": "fp_rate≈(1-exp(-k·n/m))^k at n keys/partition",
    }


def audit_bloom_semi_join(spark, sf_dir: str) -> dict:
    """Measured bitmap FPR on the reduced probe side at the registered
    bloom_semi_join config (events probe, selective error-user build
    side, DEFAULT_M_BITS/DEFAULT_K geometry) vs the ~1% design point."""
    from datalake2anomali_spark.operators.bloomjoin import (
        bloom_semi_reduce,
        build_key_bloom,
    )

    e = load_table(spark, sf_dir, "events")
    build = (
        e.filter((F.col("event_type") == "error") & (F.col("user_id") % 13 == 0))
        .select("user_id")
        .distinct()
    )
    n_keys = build.count()
    words = build_key_bloom(build, "user_id")
    reduced = bloom_semi_reduce(e, words, "user_id")
    n_all = e.count()
    n_reduced = reduced.count()
    n_true = e.join(F.broadcast(build), "user_id", "left_semi").count()
    denom = n_all - n_true
    fpr = (n_reduced - n_true) / denom if denom else 0.0
    return {
        "gate": "bloom_semi_join",
        "build_keys": n_keys,
        "rows_all": n_all,
        "rows_reduced": n_reduced,
        "rows_true_match": n_true,
        "measured_fpr": round(fpr, 5),
        "design_fpr": 0.01,
    }


def _counts(approx, exact, keys) -> tuple[int, int, int]:
    """(n_exact, n_caught, n_false) for a pair-recall gate."""
    a = approx.select(*keys).persist()
    e = exact.select(*keys).persist()
    n_exact = e.count()
    n_caught = a.join(e, keys, "left_semi").count()
    n_false = a.join(e, keys, "left_anti").count()
    a.unpersist()
    e.unpersist()
    return n_exact, n_caught, n_false


def _ann_audit(name: str, bound: float, build_approx):
    """Measured recall@5 for an ANN gate at its registered config —
    the same comparison the registered derived check pins as a boolean,
    surfaced as the float so the margin is committed, not implied."""

    def run(spark, sf_dir: str) -> dict:
        from datalake2anomali_spark.llm.similarity import cosine_topk
        from datalake2anomali_spark.plans.llm_queries import _query_vectors

        emb = load_table(spark, sf_dir, "embeddings")
        qv = _query_vectors(spark, sf_dir)
        n_exact, n_caught, _ = _counts(
            build_approx(emb, qv),
            cosine_topk(emb, qv, k=5),
            ["query_id", "neighbor_id"],
        )
        return {
            "gate": name,
            "recall_at_5": round(n_caught / n_exact, 4) if n_exact else None,
            "bound": bound,
            "n_exact": n_exact,
        }

    return run


def audit_dedup_minhash_lsh(spark, sf_dir: str) -> dict:
    """Measured recall (bound 0.9) + precision (exact-verify, must be 1)
    of the registered MinHash-LSH dedup gate on the capped corpus."""
    from datalake2anomali_spark.llm.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from datalake2anomali_spark.plans.llm_queries import _capped_docs

    docs = _capped_docs(spark, sf_dir)
    n_exact, n_caught, n_false = _counts(
        minhash_dedup_pairs(docs, threshold=0.8),
        ngram_jaccard_pairs(docs, threshold=0.8),
        ["d1", "d2"],
    )
    return {
        "gate": "dedup_minhash_lsh",
        "recall": round(n_caught / n_exact, 4) if n_exact else None,
        "bound": 0.9,
        "false_positives": n_false,
        "n_exact_pairs": n_exact,
    }


def audit_embedding_neardup_lsh(spark, sf_dir: str) -> dict:
    """Measured recall (bound 0.8) + precision of the sign-LSH near-dup
    gate at the registered 16 tables x 4 bits, threshold 0.4."""
    from datalake2anomali_spark.llm.similarity import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_exact, n_caught, n_false = _counts(
        embedding_neardup_lsh(emb, threshold=0.4, n_tables=16, bits_per_table=4),
        embedding_neardup_exact(emb, threshold=0.4),
        ["id1", "id2"],
    )
    return {
        "gate": "embedding_neardup_lsh",
        "recall": round(n_caught / n_exact, 4) if n_exact else None,
        "bound": 0.8,
        "false_positives": n_false,
        "n_exact_pairs": n_exact,
    }


def _ann_builders():
    from datalake2anomali_spark.llm.similarity import (
        ann_hyperplane_topk,
        ann_ivf_topk,
        ann_ivfpq_topk,
        cosine_topk_pq,
        cosine_topk_quantized,
    )

    return {
        "ann_lsh_topk": _ann_audit(
            "ann_lsh_topk", 0.5,
            lambda e, q: ann_hyperplane_topk(e, q, k=5, n_tables=8, bits_per_table=4),
        ),
        "ann_ivf_topk": _ann_audit(
            "ann_ivf_topk", 0.5,
            lambda e, q: ann_ivf_topk(e, q, k=5, n_cells=16, nprobe=6),
        ),
        "ann_topk_quantized": _ann_audit(
            "ann_topk_quantized", 0.9,
            lambda e, q: cosine_topk_quantized(e, q, k=5),
        ),
        "ann_pq_topk": _ann_audit(
            "ann_pq_topk", 0.5,
            lambda e, q: cosine_topk_pq(e, q, m=32, k_codes=64, k=5),
        ),
        "ann_ivfpq_topk": _ann_audit(
            "ann_ivfpq_topk", 0.4,
            lambda e, q: ann_ivfpq_topk(
                e, q, k=5, n_cells=16, nprobe=6, m=32, k_codes=64
            ),
        ),
    }


AUDITS = {
    "sketch_stats": audit_sketch_stats,
    "cms_counts": audit_cms_counts,
    "snapshot_bloom_scan": audit_snapshot_bloom,
    "bloom_semi_join": audit_bloom_semi_join,
    "dedup_minhash_lsh": audit_dedup_minhash_lsh,
    "embedding_neardup_lsh": audit_embedding_neardup_lsh,
    **_ann_builders(),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(AUDITS)
    unknown = [n for n in names if n not in AUDITS]
    if unknown:
        raise SystemExit(f"unknown gates: {unknown}; known: {sorted(AUDITS)}")
    spark = get_spark("margin_audit")
    for n in names:
        rec = AUDITS[n](spark, sf_dir)
        rec["sf_dir"] = sf_dir
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
