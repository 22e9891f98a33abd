"""Multi-table catalog with atomic cross-table commits.

A catalog is one versioned pointer file mapping table names to
``(root, pinned_version)``.  Readers that go through
:func:`catalog_read` see every member table AT ITS PINNED VERSION — a
consistent cross-table snapshot — regardless of how far the individual
table pointers have advanced.  :class:`CatalogTransaction` makes a
batch of table writes visible TOGETHER: the member writes land as
ordinary table commits (data + per-table manifests — durable but
invisible to catalog readers), then one compare-and-swap of the catalog
pointer publishes all the new pins atomically.  This is the
Nessie/lakeFS commit model reduced to its pointer core: per-table
writers need no coordination beyond their own optimistic commit, and
cross-table atomicity costs exactly one ``os.replace``.

Crash anywhere before the catalog swap leaves the catalog view
untouched (the staged table versions are ordinary history — vacuumable
garbage if never published).  A concurrent catalog committer is caught
by the catalog's own version CAS under the shared commit-lock protocol.

Retention: a member table's :func:`..io.publish.vacuum` must retain
enough versions to cover the catalog's pin lag (``retain_last``), the
same contract ``TableFollower`` documents for change-feed consumers.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .publish import (
    ConcurrentWriteError,
    _commit_lock,
    _release_lock_if_ours,
    _verify_lock_ownership,
    read_manifest,
    read_snapshot,
)

_CATALOG = "_CATALOG.json"


def _catalog_path(croot: str, version: int | None = None) -> str:
    name = _CATALOG if version is None else f"_CATALOG.v{version}.json"
    return os.path.join(croot, name)


def catalog_manifest(croot: str, version: int | None = None) -> dict:
    try:
        with open(_catalog_path(croot, version), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no catalog at {croot!r}"
            + (f" version v{version}" if version is not None else "")
        ) from None


def _swap_catalog(croot: str, manifest: dict, lock) -> None:
    """History file first, then the atomic pointer swap — the
    :func:`..io.publish._commit_manifest` discipline on the catalog's
    own pointer (a crash between the two leaves an orphan history file,
    never a dangling pointer)."""
    payload = json.dumps(manifest, sort_keys=True)
    hist = _catalog_path(croot, manifest["version"])
    with open(hist, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    fd, tmp = tempfile.mkstemp(prefix="_CATALOG.", suffix=".tmp", dir=croot)
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        _verify_lock_ownership(lock)
    except ConcurrentWriteError:
        os.unlink(tmp)
        # drop OUR orphan history file — but catalog versions are not
        # dir-claimed like table versions, so a lock thief may have
        # already committed its OWN _CATALOG.v{N}.json under the same
        # number; unlink only if the content is still ours (a committed
        # thief's snapshot must survive a stalled loser's cleanup)
        try:
            with open(hist, encoding="utf-8") as fh:
                if fh.read() == payload:
                    os.unlink(hist)
        except (FileNotFoundError, OSError):
            pass
        raise
    os.replace(tmp, _catalog_path(croot))


def create_catalog(croot: str) -> None:
    os.makedirs(croot, exist_ok=True)
    if os.path.exists(_catalog_path(croot)):
        raise FileExistsError(f"catalog already exists at {croot!r}")
    lock = _commit_lock(croot)
    try:
        _swap_catalog(croot, {"version": 0, "tables": {}}, lock)
    finally:
        _release_lock_if_ours(lock)


def catalog_register(croot: str, name: str, table_root: str) -> int:
    """Add (or re-pin) ``name`` at the table's CURRENT version.  Returns
    the new catalog version."""
    table_v = read_manifest(table_root)["version"]
    lock = _commit_lock(croot)
    try:
        cat = catalog_manifest(croot)
        cat = {
            "version": cat["version"] + 1,
            "tables": {
                **cat["tables"],
                name: {"root": table_root, "version": table_v},
            },
        }
        _swap_catalog(croot, cat, lock)
    finally:
        _release_lock_if_ours(lock)
    return cat["version"]


def catalog_read(
    spark: SparkSession,
    croot: str,
    name: str,
    partition_col: str,
    catalog_version: int | None = None,
    **kw,
) -> DataFrame:
    """Read member table ``name`` at its catalog-pinned version — the
    consistent cross-table snapshot.  ``catalog_version`` time-travels
    the whole catalog.  Extra kwargs pass through to
    :func:`..io.publish.read_snapshot` (predicates, skipping hooks)."""
    cat = catalog_manifest(croot, catalog_version)
    try:
        entry = cat["tables"][name]
    except KeyError:
        raise KeyError(
            f"catalog at {croot!r} has no table {name!r}; "
            f"registered: {sorted(cat['tables'])}"
        ) from None
    return read_snapshot(
        spark, entry["root"], partition_col, version=entry["version"], **kw
    )


#: Matches the live pointer and every history file _catalog_path writes —
#: derived from the same constant so the two can never drift apart.
_CATALOG_FILE = re.compile(
    r"^" + re.escape(_CATALOG[: -len(".json")]) + r"(?:\.v\d+)?\.json$"
)


def catalog_pinned_versions(croot: str, table_root: str) -> set[int]:
    """Versions of ``table_root`` pinned by ANY addressable catalog
    snapshot (the live pointer plus every retained history file) — feed
    to ``vacuum(table_root, protect_versions=...)`` so a member table's
    own retention window never reclaims a snapshot the catalog can still
    serve.  Bound the pin set with :func:`expire_catalog_versions`
    (otherwise history files — and therefore pins — accumulate forever).

    Fails CLOSED: an unreadable or corrupt catalog file raises instead
    of silently under-reporting pins, because the caller is about to
    delete data based on this answer.

    Serialization caveat: a catalog commit can land between this call
    and the vacuum that consumes it, pinning a version the vacuum just
    reclaimed — run member-table vacuums from the same maintenance actor
    that publishes catalog transactions (or keep ``retain_last``
    covering the publish lag, the advisory contract this helper
    tightens but cannot replace without a cross-store lock)."""
    rp = os.path.realpath(table_root)
    out: set[int] = set()
    for name in os.listdir(croot):
        if not _CATALOG_FILE.match(name):
            continue
        try:
            with open(os.path.join(croot, name), encoding="utf-8") as fh:
                cat = json.load(fh)
        except (OSError, ValueError) as exc:
            raise RuntimeError(
                f"cannot read catalog file {name!r} while collecting "
                f"vacuum pins; refusing to under-protect: {exc}"
            ) from exc
        for entry in cat.get("tables", {}).values():
            if os.path.realpath(entry["root"]) == rp:
                out.add(int(entry["version"]))
    return out


def expire_catalog_versions(croot: str, keep_last: int = 10) -> list[int]:
    """Prune catalog HISTORY files past the ``keep_last`` newest (the
    live pointer is never touched) — the catalog-side retention knob
    that keeps :func:`catalog_pinned_versions` (and therefore member
    vacuums) from protecting every version ever pinned.  A pruned
    catalog version is no longer time-travel-readable, exactly like a
    table history manifest past ``vacuum``'s window.  Runs under the
    catalog commit lock.  Returns the expired catalog versions."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    lock = _commit_lock(croot)
    try:
        current = catalog_manifest(croot)["version"]
        hist = []
        for name in os.listdir(croot):
            if _CATALOG_FILE.match(name) and ".v" in name:
                hist.append(int(name.rsplit(".v", 1)[1][: -len(".json")]))
        keep = set(sorted(hist)[-keep_last:]) | {current}
        removed = []
        for v in hist:
            if v not in keep:
                try:
                    os.unlink(_catalog_path(croot, v))
                    removed.append(v)
                except FileNotFoundError:
                    pass
        return sorted(removed)
    finally:
        _release_lock_if_ours(lock)


class MultiTableTransaction:
    """BEGIN … COMMIT spanning SEVERAL catalog member tables.

    >>> mtxn = MultiTableTransaction(spark, croot,
    ...                              {"events": "event_date",
    ...                               "user_totals": "bucket"})
    >>> mtxn.table("events").update(cond, {"value": F.col("value") * 2})
    >>> mtxn.table("events").merge(batch, ["event_id"])
    >>> mtxn.table("user_totals").merge(new_totals, ["user_id"])
    >>> mtxn.commit()     # every table's pin flips in ONE catalog swap

    Statements stage per-table through :class:`..io.transaction.
    Transaction` (UPDATE / DELETE / MERGE against the member's snapshot,
    one Catalyst plan per table, nothing on disk until commit).
    ``commit`` is three ordered phases:

    1. **precheck** — every member's staged final state is validated
       against its CHECK constraints before ANY table commits, so the
       common deterministic failure (a constraint violation) leaves
       zero orphan table versions;
    2. **member commits** — each staged table publishes as one ordinary
       durable table commit, still INVISIBLE to catalog readers (their
       pins haven't moved);
    3. **catalog CAS** — one pointer swap flips every staged pin
       together; :func:`catalog_read` never observes a half-updated
       batch.

    A crash or a concurrent-writer conflict between phases 2 and 3
    leaves the catalog view untouched; the already-committed member
    versions are durable-but-unpublished history (vacuumable garbage) —
    the Nessie/lakeFS recovery story.  The constructor refuses
    (``ConcurrentWriteError``) when a member table's head has moved past
    its catalog pin: staging against the pin would silently drop the
    unpinned commits at publish.  Recovery depends on WHY the head
    moved.  An independent writer's direct commit: acknowledge it by
    re-pinning (``catalog_register``), then start the batch.  A partial
    phase-2 failure of a PREVIOUS batch (some members committed, the
    CAS never ran): never re-pin the advanced members in isolation —
    that publishes a torn half-batch, exactly what the class exists to
    prevent.  Either restore those member tables to their pins
    (discarding the orphaned half), or re-pin EVERY member and re-stage
    the FULL batch against the new pins so the retry republishes all of
    it together."""

    def __init__(
        self,
        spark: SparkSession,
        croot: str,
        partition_cols: dict[str, str],
    ):
        from .transaction import Transaction

        self._ctx = CatalogTransaction(croot)
        self._txns: dict[str, "Transaction"] = {}
        seen_roots: dict[str, str] = {}
        for name, pcol in partition_cols.items():
            root = self._ctx.root(name)
            rp = os.path.realpath(root)
            if rp in seen_roots:
                # two catalog names over one physical table: the first
                # member's commit would move the head past the second's
                # pin mid-batch — a guaranteed orphan commit plus a
                # wedged pin.  Refuse at BEGIN, where the docstring
                # promises unsafe configs are caught.
                raise ValueError(
                    f"members {seen_roots[rp]!r} and {name!r} are both "
                    f"backed by {root!r}; stage one transaction per "
                    "physical table"
                )
            seen_roots[rp] = name
            pin = self._ctx._base["tables"][name]["version"]
            head = read_manifest(root)["version"]
            if head != pin:
                raise ConcurrentWriteError(
                    f"member table {name!r} is at v{head}, past its catalog "
                    f"pin v{pin}. If an independent writer committed to the "
                    "member directly, re-pin it (catalog_register) and "
                    "retry. If this is debris of a PREVIOUS batch that "
                    "failed between member commits and the catalog CAS, do "
                    "NOT re-pin this member alone — that publishes a torn "
                    "half-batch; restore the member to its pin, or re-pin "
                    "every member and re-stage the full batch against the "
                    "new pins"
                )
            self._txns[name] = Transaction(spark, root, pcol)
        self._closed = False

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(
                "multi-table transaction already committed or rolled back; "
                "start a new one"
            )

    def table(self, name: str):
        """The member's :class:`Transaction` — stage update/delete/merge
        on it directly."""
        self._check_open()
        try:
            return self._txns[name]
        except KeyError:
            raise KeyError(
                f"transaction does not cover table {name!r}; "
                f"covered: {sorted(self._txns)}"
            ) from None

    def rollback(self) -> None:
        """Discard every member's staged batch (nothing was written)."""
        self._check_open()
        self._closed = True
        for txn in self._txns.values():
            if not txn._closed:
                txn.rollback()
        self._ctx.rollback()

    def commit(self) -> int:
        """Publish the staged batches: precheck all, commit members,
        flip every pin in one catalog CAS.  Returns the new catalog
        version (the base version when no member staged anything).
        Single-shot whatever happens: a failed commit (constraint
        violation, concurrent writer) closes this object — start a new
        transaction to retry, against the then-current pins."""
        self._check_open()
        self._closed = True
        # members are DISTINCT physical tables (enforced at BEGIN), so
        # both phases run their per-member Spark jobs from a small driver
        # thread pool (guide §2.6) — phase ORDER is unchanged: every
        # precheck still completes before any member commits (the
        # zero-orphans guarantee for deterministic failures), and the
        # catalog CAS stays single and last.  Member commit results are
        # applied to the catalog staging sequentially in member order.
        # Failure surface under concurrency, stated honestly: if one
        # member's COMMIT fails (a concurrent-writer race — constraint
        # violations were already caught by the precheck barrier),
        # members whose commits were in flight may complete where the
        # sequential loop would have stopped; not-yet-started commits
        # are cancelled to bound that.  Either way the catalog CAS never
        # runs, the catalog view stays consistent, and recovery is the
        # documented restore-or-re-pin-everything path above.
        from concurrent.futures import ThreadPoolExecutor

        names = list(self._txns)
        if not names:
            return self._ctx.commit()
        if len(names) == 1:
            txn = self._txns[names[0]]
            txn.precheck()
            results = {names[0]: (txn._manifest["version"], txn.commit())}
        else:
            with ThreadPoolExecutor(max_workers=min(4, len(names))) as pool:
                # every precheck must FINISH (or its failure propagate)
                # before any commit starts
                precheck_futs = [
                    pool.submit(self._txns[n].precheck) for n in names
                ]
                for fut in precheck_futs:
                    fut.result()
                commit_futs = [
                    pool.submit(
                        lambda t=self._txns[n]: (
                            t._manifest["version"],
                            t.commit(),
                        )
                    )
                    for n in names
                ]
                results = {}
                failure: Exception | None = None
                for name, fut in zip(names, commit_futs):
                    if fut.cancelled():
                        continue  # never started: its head did not move
                    try:
                        results[name] = fut.result()
                    # Exception, not BaseException: a KeyboardInterrupt/
                    # SystemExit on the waiting main thread must propagate
                    # immediately, not wait for every in-flight member
                    except Exception as exc:
                        if failure is None:  # first failure wins...
                            failure = exc
                            for later in commit_futs:
                                later.cancel()
                        elif hasattr(failure, "add_note"):
                            # ...but later members' failures are recorded
                            # on it, so the documented recovery path sees
                            # every member whose head moved
                            failure.add_note(
                                f"member {name!r} also failed: {exc!r}"
                            )
                if failure is not None:
                    raise failure
        for name in names:
            base_v, v = results[name]
            if v != base_v:
                self._ctx.advance(name, v)
        return self._ctx.commit()


class CatalogTransaction:
    """Atomic multi-table publish.

    >>> ctx = CatalogTransaction(croot)
    >>> v_a = merge_into_versioned(spark, ctx.root("events"), ...)
    >>> ctx.advance("events", v_a)
    >>> v_b = update_versioned(spark, ctx.root("user_totals"), ...)
    >>> ctx.advance("user_totals", v_b)
    >>> ctx.commit()     # both pins flip in ONE pointer swap

    The member writes are ordinary table commits; until ``commit``,
    :func:`catalog_read` keeps serving every table at the pin this
    transaction started from, so the catalog view is never half-updated.
    ``commit`` refuses (``ConcurrentWriteError``) if the catalog moved
    since the transaction began — the staged table versions stay durable
    and can be re-pinned by a retry transaction."""

    def __init__(self, croot: str):
        self._croot = croot
        self._base = catalog_manifest(croot)
        self._pins: dict[str, int] = {}
        self._closed = False

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(
                "catalog transaction already committed or rolled back"
            )

    def root(self, name: str) -> str:
        """The member table's root, for handing to any table writer."""
        try:
            return self._base["tables"][name]["root"]
        except KeyError:
            raise KeyError(
                f"catalog has no table {name!r}; "
                f"registered: {sorted(self._base['tables'])}"
            ) from None

    def advance(self, name: str, version: int) -> "CatalogTransaction":
        """Stage ``name``'s pin to move to ``version`` at commit."""
        self._check_open()
        self.root(name)  # validates membership
        self._pins[name] = int(version)
        return self

    def rollback(self) -> None:
        self._check_open()
        self._closed = True

    def commit(self) -> int:
        """One CAS pointer swap publishing every staged pin.  Returns the
        new catalog version (the base version if nothing was staged)."""
        self._check_open()
        self._closed = True
        if not self._pins:
            return self._base["version"]
        lock = _commit_lock(self._croot)
        try:
            cur = catalog_manifest(self._croot)
            if cur["version"] != self._base["version"]:
                raise ConcurrentWriteError(
                    f"catalog at {self._croot!r} moved from "
                    f"v{self._base['version']} to v{cur['version']} during "
                    "this transaction; retry against the new catalog"
                )
            tables = dict(cur["tables"])
            for name, v in self._pins.items():
                tables[name] = {**tables[name], "version": v}
            new = {"version": cur["version"] + 1, "tables": tables}
            _swap_catalog(self._croot, new, lock)
        finally:
            _release_lock_if_ours(lock)
        return new["version"]
