"""Parquet loaders for the driver's synthetic star schema.

These are thin wrappers over ``spark.read.parquet`` — scans stay fully
declarative so Catalyst keeps column pruning + predicate pushdown (check with
``df.explain``: ``PushedFilters`` / ``ReadSchema`` reach the parquet scan).

The one normalization: ``events.ts`` must come out as a session-TZ
TimestampType column (session TZ is UTC, session.py) whatever physical type
the driver's generator wrote.  The testdata has flipped between rounds —
TIMESTAMP(NANOS) in rounds 1-2, TIMESTAMP(MICROS) (no UTC adjustment → scans
as TIMESTAMP_NTZ) from round 3 — so :func:`normalize_events_ts` branches on
the *scanned* dtype instead of assuming either:

- LongType (a NANOS file under ``spark.sql.legacy.parquet.nanosAsLong``):
  truncate ns→µs, matching DuckDB's read of the same file.
- TimestampNTZType (a MICROS/MILLIS file without isAdjustedToUTC): cast to
  TimestampType — instant-preserving because the session TZ is UTC, and it
  keeps ``unix_micros``/watermark/window code paths uniform.
- TimestampType: already what we want.

All branches are codegen'd JVM expressions (or no-ops), so pushdown/pruning
on the remaining columns is unaffected; the native-timestamp branches keep
``ts`` itself pushdown-eligible too (the column is not recomputed).

The module also owns the per-process scratch directory
(:func:`_process_dir`, :func:`_scratch_root`) that fixtures, scratch
tables and throwaway streaming checkpoints write into.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: This process's scratch directory (see :func:`_process_dir`).
_PROCESS_DIR: str | None = None


def _process_dir() -> str:
    """One ``d2a_fx_*`` directory per process — on tmpfs when ``/dev/shm``
    is writable, else the system temp dir — holding every cached fixture,
    every per-call scratch table and every throwaway streaming checkpoint.
    Created on first use and removed by an ``atexit`` hook, so nothing
    outlives the process and a new process always starts cold.  It lives
    here, below ``plans/`` and ``streaming/``, so both can use it."""
    global _PROCESS_DIR
    if _PROCESS_DIR is None:
        shm = "/dev/shm"
        base = shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else None
        _PROCESS_DIR = tempfile.mkdtemp(prefix="d2a_fx_", dir=base)
        atexit.register(shutil.rmtree, _PROCESS_DIR, ignore_errors=True)
    return _PROCESS_DIR


def _scratch_root(prefix: str, sf_dir: str) -> str:
    """A per-(fixture, sf) scratch directory, recreated from scratch so the
    query stays a pure function of the source table."""
    root = os.path.join(
        _process_dir(), prefix + "_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(root, ignore_errors=True)
    return root


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events timestamp column to TimestampType (UTC session).

    Branches on the scanned dtype so a testdata regeneration that changes the
    parquet physical type (NANOS ↔ MICROS) cannot break or silently corrupt
    queries — see module docstring for the per-type rationale.
    """
    t = df.schema[col].dataType
    if isinstance(t, T.LongType):
        # nanosAsLong scan of a TIMESTAMP(NANOS) file: ns → µs floor-truncate,
        # identical to DuckDB's read of the same file.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(t, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(t, T.TimestampType):
        return df
    raise TypeError(
        f"events.{col} scanned as unsupported type {t.simpleString()}; "
        "testdata schema drifted — update io/tables.py:normalize_events_ts"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # The scan-affecting confs (nanosAsLong so a NANOS file scans as LONG
        # instead of erroring; inferTimestampNTZ=false so a no-UTC-flag file
        # scans natively as TimestampType) are session-level and set once in
        # session.configure_session — no per-table conf mutation here, so
        # scanned dtypes don't depend on table load order.
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views so plans can be written in Spark SQL as well."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
