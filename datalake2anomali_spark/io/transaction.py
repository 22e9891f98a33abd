"""Single-table multi-statement transactions over the versioned table.

``Transaction`` stages several DML statements — UPDATE / DELETE / MERGE
— against one pinned snapshot and publishes them as ONE atomic commit:
one claimed version directory, one manifest swap, one version number.
Readers never see an intermediate statement's effect (staging touches
nothing on disk), a failed commit (constraint violation, concurrent
writer) leaves the table exactly at the base snapshot, and the whole
batch conflicts-or-lands as a unit under the same optimistic
compare-and-swap every single-statement writer uses — Iceberg's
``Table.newTransaction()`` shape, generalizing the reference connector's
one-PATCH-per-run upsert cycle (``src/Datalake2Anomali.py:397-404``) to
an arbitrary statement batch.

Execution model (Spark-first): each staged statement is a DataFrame
transformation composed onto the pinned snapshot — UPDATE a conditional
projection, DELETE a survivor filter, MERGE the full-outer
source-presence resolution shared with ``operators/merge.py`` — so the
whole batch is ONE Catalyst plan; the only extra per-statement cost is
the affected-partition discovery action (a distinct-collect of matched
partition values, driver state bounded by partition count).  At commit
the final frame restricted to the affected-partition union writes once
and publishes through the copy-on-write kernel every single-statement
verb shares (:func:`..io.publish._rewrite_partitions`, with the staged
frame as its base and an identity resolve): untouched partitions keep
their version, rewritten/new take the fresh one, emptied drop, and
merge-on-read vectors/append-deltas of rewritten partitions materialize
and clear.

Constraint timing is commit-time (SQL's ``DEFERRABLE INITIALLY
DEFERRED``): an intermediate statement may violate a CHECK that a later
statement repairs; only the published state must satisfy the table's
constraints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .publish import (
    _canonical_keys,
    _check_constraints,
    _hit_partitions,
    _require_non_null_partitions,
    _rewrite_partitions,
    read_manifest,
    read_snapshot,
)


class Transaction:
    """BEGIN … COMMIT over one versioned table.

    >>> txn = Transaction(spark, root, "event_date")
    >>> txn.update(F.col("t") == "click", {"value": F.col("value") * 2})
    >>> txn.delete(F.col("t") == "bot")
    >>> txn.merge(source_df, ["event_id"])
    >>> txn.commit()          # one atomic version; or txn.rollback()

    Statements apply in staging order, each against the result of the
    previous (an UPDATE that moves rows is visible to a later DELETE's
    predicate).  ``commit`` returns the published version — the base
    version unchanged when the batch touched no partition.  A
    ``Transaction`` is single-shot: after ``commit`` or ``rollback`` it
    refuses further use (start a new one against the new snapshot).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_col: str,
        ref: str | None = None,
    ):
        self._spark = spark
        self._root = root
        self._pcol = partition_col
        self._ref = ref
        self._manifest = _canonical_keys(read_manifest(root, ref=ref), partition_col)
        self._df = read_snapshot(spark, root, partition_col, ref=ref)
        self._schema = {f.name: f.dataType for f in self._df.schema.fields}
        self._data_cols = list(self._df.columns)
        self._affected: set[str] = set()
        self._ops: list[str] = []
        self._closed = False

    # -- staging ------------------------------------------------------------

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(
                "transaction already committed or rolled back; start a new one"
            )

    def _collect_homes(self, homes_df: DataFrame) -> list[str]:
        """Add the statement's partition values to the affected set and
        return them.  SPARK-rendered strings (cast, not Python str()):
        these values feed the commit's cast('string').isin selection and
        the manifest ownership keys, and the two renderings diverge for
        boolean/float partition values (see
        publish._collect_partition_strings)."""
        col = homes_df.columns[0]
        vals = [
            r[0]
            for r in homes_df.select(F.col(col).cast("string"))
            .distinct()
            .collect()
        ]
        _require_non_null_partitions(vals)
        self._affected.update(vals)
        return vals

    def update(self, condition, set_exprs: dict) -> "Transaction":
        """Stage UPDATE ... SET: TRUE rows take the (type-cast) SET
        expressions, FALSE and NULL rows survive unchanged; reassigning
        ``partition_col`` moves rows (old and new homes both rewrite)."""
        self._check_open()
        unknown = [c for c in set_exprs if c not in self._schema]
        if unknown:
            raise ValueError(
                f"UPDATE assigns unknown columns {sorted(unknown)}; "
                "UPDATE cannot add columns"
            )
        cond_true = F.coalesce(condition.cast("boolean"), F.lit(False))
        matched = self._df.filter(cond_true)
        homes = matched.select(self._pcol)
        if self._pcol in set_exprs:
            homes = homes.union(
                matched.select(
                    set_exprs[self._pcol]
                    .cast(self._schema[self._pcol])
                    .alias(self._pcol)
                )
            )
        self._collect_homes(homes)
        self._df = self._df.select(
            *[
                F.when(cond_true, set_exprs[c].cast(self._schema[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in self._data_cols
            ]
        )
        self._ops.append("update")
        return self

    def delete(self, condition) -> "Transaction":
        """Stage DELETE: TRUE rows go, FALSE and NULL survive (ANSI)."""
        self._check_open()
        cond_true = F.coalesce(condition.cast("boolean"), F.lit(False))
        self._collect_homes(self._df.filter(cond_true).select(self._pcol))
        self._df = self._df.filter(~cond_true)
        self._ops.append("delete")
        return self

    def merge(self, source: DataFrame, key_cols: list[str]) -> "Transaction":
        """Stage MERGE (upsert): source rows replace matching keys and
        insert otherwise — the source-presence resolution of
        ``operators/merge.py``, old homes of moved keys included."""
        from ..operators.merge import _affected_partitions, _merge_resolved

        self._check_open()
        missing = set(self._data_cols) - set(source.columns)
        if missing:
            raise ValueError(
                f"merge source is missing target columns: {sorted(missing)}; "
                "schema evolution is not available inside a transaction"
            )
        extra = [c for c in source.columns if c not in self._data_cols]
        if extra:
            raise ValueError(f"merge source adds columns {extra}")
        src = source.select(*self._data_cols)
        homes = self._collect_homes(
            _affected_partitions(self._df, src, key_cols, self._pcol)
        )
        # restrict the full-outer resolution to the merge's own
        # partitions — bystander rows pass through untouched, so a
        # one-partition merge joins one partition, not the whole staged
        # table (and the plain isin filters stay Catalyst-prunable)
        in_homes = F.col(self._pcol).cast("string").isin(sorted(homes))
        hit = self._df.filter(in_homes)
        rest = self._df.filter(~in_homes)
        self._df = rest.unionByName(
            _merge_resolved(hit, src, key_cols, self._data_cols)
        )
        self._ops.append("merge")
        return self

    # -- terminal -----------------------------------------------------------

    def precheck(self) -> None:
        """Validate the staged final state against the table's CHECK
        constraints WITHOUT publishing anything.  ``commit`` re-verifies
        on the exact checkpointed content it writes; this earlier gate
        exists for :class:`..io.catalog.MultiTableTransaction`, which
        prechecks EVERY member before committing ANY — so a constraint
        violation in the last table leaves zero orphan commits in the
        first."""
        self._check_open()
        if not self._affected or not self._manifest.get("constraints"):
            return
        _check_constraints(
            _hit_partitions(self._df, self._pcol, self._affected),
            self._manifest["constraints"],
        )

    def rollback(self) -> None:
        """Discard the staged batch.  Nothing was written — this only
        closes the object so accidental reuse fails loudly."""
        self._check_open()
        self._closed = True

    def commit(self, commit_hook=None) -> int:
        """Publish the staged batch as one version.  Returns the new
        version, or the base version when no partition was touched.
        Raises ``ConcurrentWriteError`` (table moved past the pinned
        base) or ``ConstraintViolationError`` (final state fails a
        CHECK) — in both cases the table is untouched."""
        self._check_open()
        self._closed = True
        if not self._affected:
            return self._manifest["version"]

        return _rewrite_partitions(
            self._spark, self._root, self._pcol, self._manifest, self._df,
            self._affected, lambda hit: hit, f"txn({','.join(self._ops)})",
            ref=self._ref, commit_hook=commit_hook,
        )
