"""Copy-on-write MERGE INTO over partitioned parquet (Delta-less upsert).

The lake-side upsert problem at 100 TB: applying a (relatively small)
batch of updates/inserts to a huge partitioned table without rewriting the
table.  Table formats (Delta/Iceberg) solve it transactionally; this is
the same *dataflow* on raw parquet, and the cost model is identical:

1. **Partition pruning by the source.** The affected-partition set is the
   union of (a) the source batch's distinct partition values and (b) the
   partitions of target rows whose key the source touches — (b) is what
   makes a *partition-moving* update correct: the key's old partition is
   rewritten without the row, so the key never exists twice.  (a) is a
   tiny broadcast; (b) is one broadcast semi-join of the target against
   the source's keys — a key-indexed probe of the table, the same cost
   a table format pays to find the files a MERGE touches.  One
   ``distinct`` over the union of (a) and (b) dedupes both.
2. **Full-outer merge on the key.** Column resolution is by an explicit
   source-presence marker (``_in_src``), NOT ``coalesce``: a matched
   source row wins *even where its columns are NULL* (real MERGE
   semantics — ``UPDATE SET c = NULL`` must stick), source-only keys are
   INSERTs, and target-only rows in affected partitions copy through.
3. **Dynamic partition overwrite.** The per-write
   ``partitionOverwriteMode=dynamic`` option (no session conf is touched,
   so concurrent writers cannot race on it) replaces exactly the
   partitions present in the merged output; a
   partition the merge *emptied* (every row moved out) produces no output
   rows, so its stale directory is removed explicitly afterwards (local
   ``shutil``; on a cluster this is the same bounded FileSystem delete a
   table format logs as a remove-file action).  Write cost is
   proportional to the affected partitions, not the table.

Caveat vs a real table format (stated, not hidden): the rewrite is not
atomic — a crash mid-write can leave an affected partition half-replaced.
:func:`..io.publish.merge_into_versioned` is the atomic variant: it
writes a fresh version directory and flips a manifest with one
``os.replace``, so readers observe the old snapshot or the new one, never
a mix.  The merged relation is ``localCheckpoint``-materialized before
the write both to keep executors from re-reading the partitions being
overwritten and because Spark (correctly) refuses to overwrite a path
its plan still scans.

Reference parity: generalizes the reference's per-record upsert routing
(`src/Datalake2Anomali.py:442-449`, SURVEY §2 K4/J4 — INSERT-vs-UPDATE
decided per advisory against sink state) into a set-oriented lake-side
MERGE.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Characters Spark's writer percent-escapes in hive partition directory
#: names (ExternalCatalogUtils.charToEscape): ASCII control chars plus the
#: path/URI-special set.
_HIVE_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(c) for c in range(0x01, 0x20)
)
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _hive_partition_dir(partition_col: str, val) -> str:
    """The directory name Spark's parquet writer produced for ``val`` —
    percent-escaped exactly as ExternalCatalogUtils.escapePathName, with
    NULL mapping to the ``__HIVE_DEFAULT_PARTITION__`` sentinel.  Building
    the path from the raw value instead (ADVICE r6) misses the stale
    directory for any value containing ``:``, ``/`` etc., so the moved-out
    rows resurface and the key duplicates."""
    if val is None:
        return f"{partition_col}={_HIVE_DEFAULT_PARTITION}"
    escaped = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS else ch for ch in str(val)
    )
    return f"{partition_col}={escaped}"


def _merge_resolved(
    hit: DataFrame, source: DataFrame, key_cols: list[str], data_cols: list[str]
) -> DataFrame:
    """Full-outer key merge with explicit source-presence resolution.

    ``_in_src`` is a literal TRUE carried on the source side; after the
    full outer join it is non-NULL exactly for rows that have a source
    half, so ``when(_in_src, s.c).otherwise(t.c)`` takes the source value
    *including source NULLs* — the semantics ``coalesce(s.c, t.c)`` gets
    wrong (same marker scheme as ``operators/quality.py: snapshot_diff``).
    """
    t = hit.alias("t")
    s = source.withColumn("_in_src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols]
    resolved: list[Column] = [
        F.when(F.col("s._in_src").isNotNull(), F.col(f"s.{c}"))
        .otherwise(F.col(f"t.{c}"))
        .alias(c)
        for c in data_cols
    ]
    return t.join(s, cond, "full_outer").select(*resolved)


def _affected_partitions(
    target: DataFrame, source: DataFrame, key_cols: list[str], partition_col: str
) -> DataFrame:
    """Distinct partition values the merge must rewrite: the source rows'
    own partitions plus the partitions currently holding a touched key
    (so a key whose partition value *changes* gets its old home rewritten
    too — without this, the old copy survives and the key duplicates)."""
    old_homes = target.join(
        F.broadcast(source.select(*key_cols)), key_cols, "leftsemi"
    ).select(partition_col)
    return source.select(partition_col).union(old_homes).distinct()


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> None:
    """Upsert ``source`` into the parquet table at ``target_path``.

    ``source`` must carry the full target schema (including the partition
    column).  Matched keys take the source row (UPDATE — source NULLs
    included), unmatched source keys are appended (INSERT) — including
    into brand-new partitions — unmatched target rows in affected
    partitions are copied through, and a matched key whose partition
    value changed moves: written to its new partition, rewritten out of
    its old one.
    """
    target = spark.read.parquet(target_path)
    data_cols = list(target.columns)
    missing = set(data_cols) - set(source.columns)
    if missing:
        raise ValueError(f"source is missing target columns: {sorted(missing)}")

    affected = _affected_partitions(target, source, key_cols, partition_col)
    # null-safe semijoin: a NULL partition (__HIVE_DEFAULT_PARTITION__) must
    # select its rows like any other — plain equality would exclude them,
    # and a partial move out of the NULL partition would then drop stayers
    hit = target.join(
        F.broadcast(affected.withColumnRenamed(partition_col, "_ap")),
        F.col(partition_col).eqNullSafe(F.col("_ap")),
        "leftsemi",
    )
    merged = _merge_resolved(hit, source, key_cols, data_cols)
    # materialize (merged + the affected set) before touching the input
    # path — both plans read it.  Bounded: affected partitions + source.
    affected_vals = {r[0] for r in affected.collect()}
    merged = merged.localCheckpoint(eager=True)

    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )

    # Dynamic overwrite only replaces partitions PRESENT in the output; an
    # affected partition the merge emptied (all rows moved elsewhere) keeps
    # its stale directory — delete it.  Both collects are bounded by the
    # affected-partition count (batch-sized, not table-sized).
    written_vals = {
        r[0] for r in merged.select(partition_col).distinct().collect()
    }
    for val in affected_vals - written_vals:
        shutil.rmtree(
            os.path.join(target_path, _hive_partition_dir(partition_col, val)),
            ignore_errors=True,
        )
    # the session caches the path's file listing; drop it so readers see
    # the rewritten partitions instead of the deleted pre-merge files
    spark.catalog.refreshByPath(target_path)
