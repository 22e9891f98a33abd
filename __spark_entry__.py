"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` /``oracle_sql()``
expose every implemented operator (SURVEY.md §2 + extensions) with DuckDB
oracle twins.  Column names are aliased identically on both sides; double
aggregates use deterministic fixed-point sums (see
``datalake2anomali_spark/functions/exact.py``) so value hashes match bit-for-
bit regardless of partitioning.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datalake2anomali_spark.session import configure_session  # noqa: E402
from datalake2anomali_spark.plans import (  # noqa: E402
    analytics_queries,
    breadth,
    quality_queries,
    ioc_queries,
    llm_queries,
    protocol_queries,
    relational,
    training_queries,
    scale_queries,
    streaming_queries,
    temporal_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure_session(spark)
    return relational.q5_local_supplier(spark, "/root/testdata/sf0.001")


_MODULES = (
    relational,
    ioc_queries,
    breadth,
    llm_queries,
    streaming_queries,
    temporal_queries,
    scale_queries,
    analytics_queries,
    quality_queries,
    protocol_queries,
    training_queries,
)


# The driver gate checks exactly the FIRST 50 entries of queries().  The
# order is stalest-first: each name sorts by the round the driver last
# certified it in, as docs/rotation_ledger.json records (derived from the
# committed CORRECTNESS_r*.json files by tools/rotation_ledger.py); a name
# never certified sorts before every other, and ties keep registration
# order (_MODULES, then each QUERIES).  So every query the staleness bound
# makes mandatory lands in the window (tests/test_entry_contract.py), and
# the per-round chore is rerunning the tool, then sweeping the first 50.
_LEDGER_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "docs", "rotation_ledger.json"
)


def _last_certified() -> dict[str, int | None]:
    with open(_LEDGER_PATH) as fh:
        ledger = json.load(fh)
    return {name: st["last_certified"] for name, st in ledger["queries"].items()}


def _ordered(items: dict, last_certified: dict[str, int | None]) -> dict:
    def staleness(name: str) -> int:
        last = last_certified.get(name)
        return -1 if last is None else last

    return {name: items[name] for name in sorted(items, key=staleness)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update({name: _wrap(fn) for name, fn in mod.QUERIES.items()})
    return _ordered(out, _last_certified())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each queries() entry."""
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return _ordered(out, _last_certified())


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return fn(spark, sf_dir)

    return run
