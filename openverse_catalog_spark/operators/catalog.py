"""Multi-table atomic transactions: a lake CATALOG whose single commit
point spans many CoW tables.

The reference gets cross-table atomicity for free from Postgres — one
DAG run upserts the media table, bumps popularity constants, and writes
load reports inside engine transactions (``common/loader/sql.py``,
``common/popularity/sql.py``), and the API handoff swaps two tables'
aliases together (``data_refresh_task_factory.py:183-240``). Individual
:class:`~.cowtable.CowTable` commits are atomic per table; this module
restores the CROSS-table guarantee the lakehouse way (the Iceberg
REST-catalog design): readers resolve every table through a catalog
snapshot — an immutable mapping ``{table name -> table version}`` — and
a transaction publishes new versions for ALL its tables in ONE
exclusive-create catalog commit. Either every table advances for
catalog readers, or none does.

Protocol:

* **Mutate**: inside ``with catalog.transaction() as txn:`` the caller
  runs ordinary table operations (merge / update / delete / compact) on
  handles from ``txn.table(name)``. Each advances its table's own
  version chain immediately — but catalog readers cannot see those
  versions yet.
* **Publish**: on clean exit the transaction writes catalog version
  c<N+1> mapping every touched table to its new head, via the same
  fully-write-then-``os.link`` exclusive-create discipline as table
  commits. The link either claims the slot (all tables publish
  together) or raises, in which case the txn reloads: a concurrent
  winner that touched a DISJOINT table set is re-linked over
  (metadata-only retry); one that touched an overlapping table is a
  real ``TxnConflict`` — first-committer-wins serializability per
  table, exactly the CoW table's own rule lifted a level.
* **Abort / crash**: an exception (or a crash before publish) leaves
  the new table versions ORPHANED — present in the table logs,
  invisible to every catalog reader, past and future, because no
  catalog version ever references them. ``recover()`` makes the abort
  durable for direct-table readers too: any registered table whose
  head has drifted past its pinned version with no active intent is
  ``restore()``-d to the pinned snapshot (a metadata-only commit).
  Run it at coordinator startup, before admitting new transactions.

SCALE: a catalog commit is one tiny JSON (name -> version map) no
matter how many TB the member tables hold; reads add one metadata
lookup; time travel (``read(name, catalog_version=...)``) returns the
consistent cross-table snapshot any past commit pinned. Catalog-managed
tables should be written through transactions only — a direct
out-of-band table commit is indistinguishable from a torn transaction
and recover() will roll it back.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from openverse_catalog_spark.operators.cowtable import CowTable


class TxnConflict(Exception):
    """A concurrent transaction published one of this transaction's
    tables first; re-read through the new catalog snapshot and retry."""


class LakeCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- catalog log --------------------------------------------------------

    @property
    def _dir(self) -> str:
        return f"{self.root}/catalog"

    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "LakeCatalog":
        cat = cls(spark, root)
        os.makedirs(cat._dir, exist_ok=True)
        cat._commit_slot(1, {}, "create")
        return cat

    def _versions_on_disk(self) -> list[int]:
        """Catalog commit numbers still on disk, sorted (gaps where
        catalog_history trimmed are simply absent)."""
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self._dir)
            if n.startswith("c") and n.endswith(".json")
            and n[1:-5].isdigit()
        )

    @property
    def version(self) -> int:
        vs = self._versions_on_disk()
        if not vs:
            raise FileNotFoundError(f"no catalog at {self._dir}")
        return max(vs)

    def _load(self, version: int | None = None) -> dict:
        v = self.version if version is None else version
        with open(f"{self._dir}/c{v}.json") as f:
            return json.load(f)

    def _commit_slot(self, version: int, tables: dict, op: str) -> None:
        import time

        doc = {
            "version": version,
            "operation": op,
            "committed_at": time.time(),
            "tables": tables,
        }
        tmp = f"{self._dir}/.tmp.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        try:
            os.link(tmp, f"{self._dir}/c{version}.json")
        except FileExistsError:
            raise TxnConflict(
                f"catalog version {version} was committed concurrently"
            ) from None
        finally:
            os.remove(tmp)

    def _surviving_commits(self) -> list[dict]:
        """Every catalog commit still on disk, in version order — the
        one iteration history()/version_as_of()/vacuum_tables() all
        need (``catalog_history`` leaves gaps; one listdir finds the
        survivors instead of probing every version number)."""
        vs = self._versions_on_disk()
        out = []
        for v in vs:
            try:
                out.append(self._load(v))
            except FileNotFoundError:
                continue  # trimmed between listdir and read
        return out

    def history(self) -> list[dict]:
        """Surviving catalog commits in order — gaps where
        ``catalog_history`` trimmed old commits are skipped, not
        errors."""
        return self._surviving_commits()

    # -- table registry -----------------------------------------------------

    def register(self, name: str, table: CowTable) -> int:
        """Point ``name`` at the table's current head (its own catalog
        commit; metadata-only retry under concurrency). A marker file
        (``.catalog.json``) lands in the TABLE root so out-of-band
        consumers (stream-driven index maintenance) can detect that
        this table's raw head may run ahead of a published pin and
        refuse to follow it unpinned."""
        while True:
            cur = self._load()
            tables = dict(cur["tables"])
            tables[name] = {
                "root": table.root,
                "version": table.version,
                "keys": list(table.keys),
            }
            try:
                self._commit_slot(
                    cur["version"] + 1, tables, f"register({name})"
                )
                self._write_managed_marker(table.root)
                return cur["version"] + 1
            except TxnConflict:
                continue

    def _write_managed_marker(self, table_root: str) -> None:
        try:
            tmp = f"{table_root}/.tmp.catalog.json"
            with open(tmp, "w") as fh:
                json.dump({"catalog": self.root}, fh)
            os.replace(tmp, f"{table_root}/.catalog.json")
        except OSError:
            # the marker is advisory (a read-only table mount must not
            # fail registration); consumers just lose the cheap check
            pass

    def rename(self, old: str, new: str) -> int:
        """Rename a mapping entry in ONE catalog commit — the entry
        (root, PINNED version, keys) moves verbatim, so readers of the
        new name resolve exactly the snapshot the old name pinned; no
        table file or manifest is touched. Historical catalog versions
        keep the old name for time travel. Registered derived indexes
        keyed on the old base name are re-pointed at the new name, so
        they keep their maintenance ticks and vacuum feed-span
        protection across the rename."""
        while True:
            cur = self._load()
            if old not in cur["tables"]:
                raise KeyError(f"table {old!r} not in catalog {self.root}")
            if new in cur["tables"]:
                raise ValueError(
                    f"table {new!r} already in catalog {self.root}"
                )
            tables = dict(cur["tables"])
            tables[new] = tables.pop(old)
            try:
                self._commit_slot(
                    cur["version"] + 1, tables, f"rename({old}->{new})"
                )
            except TxnConflict:
                continue
            # the rename is COMMITTED; the index re-point runs OUTSIDE
            # the retry try-block: _mutate_indexes can itself raise
            # TxnConflict (registry lock held past its deadline), and
            # inside the loop that would retry the already-committed
            # rename — _load() no longer has `old`, so the caller got a
            # spurious KeyError while the re-point was silently lost.
            # Here a lock timeout surfaces AS the lock error (the
            # rename stands; maintain_tables' root-based resolution
            # self-heals the re-point on the next tick).
            def repoint(idx: dict):
                hit = False
                for e in idx.values():
                    if e.get("base") == old:
                        e["base"] = new
                        hit = True
                return idx if hit else None

            self._mutate_indexes(repoint)
            return cur["version"] + 1

    def unregister(self, name: str) -> int:
        """Remove ``name`` from the mapping (its own catalog commit).
        The table's files and log stay on disk — historical catalog
        versions still resolve it for time travel. Refuses while a
        registered derived index still points at the base: silently
        orphaning it would end its maintenance ticks AND its vacuum
        feed-span protection — the caller must unregister_index (or
        rename) first, an explicit decision."""
        cur_tables = self._load()["tables"]
        holders = sorted(
            n for n, e in self.indexes().items()
            if self._resolve_index_base(e, cur_tables)[0] == name
        )
        if holders:
            raise ValueError(
                f"table {name!r} has registered derived indexes "
                f"{holders}; unregister_index them first"
            )
        while True:
            cur = self._load()
            if name not in cur["tables"]:
                raise KeyError(f"table {name!r} not in catalog {self.root}")
            tables = {
                k: v for k, v in cur["tables"].items() if k != name
            }
            try:
                self._commit_slot(
                    cur["version"] + 1, tables, f"unregister({name})"
                )
                # drop the managed marker only when no OTHER current
                # entry still points at the same root (aliases) AND the
                # marker belongs to THIS catalog — a root registered in
                # two catalogs keeps the other's marker alive
                root = cur["tables"][name]["root"]
                if all(e["root"] != root for e in tables.values()):
                    try:
                        with open(f"{root}/.catalog.json") as fh:
                            owner = json.load(fh).get("catalog")
                        if owner == self.root:
                            os.remove(f"{root}/.catalog.json")
                    except (OSError, ValueError):
                        pass
                return cur["version"] + 1
            except TxnConflict:
                continue

    # -- index registry -------------------------------------------------
    #
    # Derived-index entries (search / vector) live in an OPERATIONAL
    # side file, not the versioned commit chain: an index is not part
    # of any cross-table snapshot (queries resolve it by name at its
    # own applied version), but the catalog must know it exists so the
    # unattended maintenance tick keeps it fresh and the vacuum never
    # deletes the CDF span its next refresh needs. Last-writer-wins on
    # concurrent registration (registrations are rare admin actions).

    def _indexes_path(self) -> str:
        return f"{self._dir}/indexes.json"

    def _mutate_indexes(self, fn) -> None:
        """Serialized read-modify-write of the index registry. Two
        concurrent unlocked writers would last-writer-win and silently
        drop one registration — permanently ending its maintenance
        ticks and vacuum feed-span protection — so every registry write
        funnels through an O_EXCL lock file (the registry is a side
        file, not a catalog commit, so ``_commit_slot``'s version-slot
        conflict detection cannot cover it). ``fn`` receives the
        freshly-read registry dict and returns the dict to persist, or
        None to skip the write; validation raises inside the critical
        section so checks run against the same snapshot the write
        replaces. Stale locks (a crashed holder) break after 30 s —
        via STEAL-BY-RENAME, not remove: two waiters that both observe
        a stale mtime could each os.remove(), and the second remove
        would delete the first waiter's freshly-acquired lock, letting
        two writers into the critical section. rename() is atomic, so
        exactly one waiter claims the stale file; the claim re-verifies
        the renamed file's mtime (the stale holder may have released
        and a NEW waiter acquired between the stat and the rename) and
        gives a live lock back through an exclusive link."""
        import time

        lock = f"{self._indexes_path()}.lock"
        deadline = time.time() + 30.0
        my_ino = None
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                # remember the inode: release removes the lock only if
                # it is still OURS — a stealer that renamed this lock
                # away (double-stale race) may have let another waiter
                # create a fresh one, and removing THAT would re-open
                # the two-writer hole one level down
                my_ino = os.fstat(fd).st_ino
                os.close(fd)
                break
            except FileExistsError:
                try:
                    stale_seen = time.time() - os.path.getmtime(lock) > 30.0
                except OSError:
                    continue  # holder released between stat and now
                if stale_seen:
                    # re-stat IMMEDIATELY before the steal: the first
                    # stat may be arbitrarily old by now (another
                    # stealer + fresh acquirer can have cycled the
                    # lock), and stealing a live lock is the one move
                    # the restore path below cannot fully undo
                    try:
                        if time.time() - os.path.getmtime(lock) <= 30.0:
                            continue
                    except OSError:
                        continue
                    claim = f"{lock}.stale.{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, claim)
                    except OSError:
                        continue  # another waiter claimed it first
                    try:
                        live = (
                            time.time() - os.path.getmtime(claim) <= 30.0
                        )
                    except OSError:
                        live = False
                    if live:
                        # raced: we stole a FRESH lock — restore it
                        # (exclusive link; if yet another waiter took
                        # the slot meanwhile the restore is skipped and
                        # the live holder's release tolerates the loss)
                        try:
                            os.link(claim, lock)
                        except OSError:
                            pass
                    try:
                        os.remove(claim)
                    except OSError:
                        pass
                    continue
                if time.time() > deadline:
                    raise TxnConflict(
                        f"index registry lock {lock!r} held too long"
                    )
                time.sleep(0.02)
        try:
            out = fn(self.indexes())
            if out is None:
                return
            tmp = f"{self._dir}/.tmp.indexes.{uuid.uuid4().hex}.json"
            with open(tmp, "w") as fh:
                json.dump(out, fh, indent=1)
            os.replace(tmp, self._indexes_path())
        finally:
            try:
                # inode check: only remove a lock we still own (see
                # acquire); a mismatch means a stealer rotated it and
                # some other waiter now legitimately holds the name
                if my_ino is not None and os.stat(lock).st_ino == my_ino:
                    os.remove(lock)
            except OSError:
                pass

    def indexes(self) -> dict:
        """name -> {kind, root, base, columns} for every registered
        derived index."""
        try:
            with open(self._indexes_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def register_index(
        self,
        name: str,
        kind: str,
        root: str,
        base_name: str,
        columns: dict | None = None,
    ) -> None:
        """Register a derived index over a catalog-managed base table:
        ``maintain_tables`` will refresh it (capped at the base's PIN)
        on every tick, and ``vacuum_tables`` protects the base's
        unapplied change-feed span so a stale index can always resume
        incrementally instead of being forced into an O(corpus)
        resync."""
        if kind not in ("search", "vector"):
            raise ValueError(f"unknown index kind {kind!r}")
        be = self._entry(base_name)  # must be a registered table
        entry = {
            "kind": kind,
            "root": root.rstrip("/"),
            "base": base_name,
            # base ROOT rides along so a lost/raced rename of the base
            # NAME can self-heal by root (maintain_tables resolves it)
            "base_root": be["root"],
            "columns": dict(columns or {}),
        }
        def mutate(idx: dict):
            prior = idx.get(name)
            # legacy entries predate base_root: treat its absence as a
            # wildcard (this write backfills it) so an identical
            # re-ATTACH stays idempotent
            cmp_keys = [
                k for k in entry
                if k != "base_root" or (prior and "base_root" in prior)
            ]
            if prior is not None and {
                k: prior.get(k) for k in cmp_keys
            } != {k: entry[k] for k in cmp_keys}:
                # names are the registry key: silently clobbering a
                # DIFFERENT registration (other kind/root, or the same
                # index re-pointed at a different base/columns) would
                # stop or corrupt its maintenance. Re-registering the
                # IDENTICAL entry (an ATTACH in a new session) is
                # idempotent.
                raise ValueError(
                    f"index name {name!r} is already registered as "
                    f"{prior}; unregister it first or pick another name"
                )
            idx[name] = entry
            return idx

        self._mutate_indexes(mutate)

    def _heal_index_base(self, name: str, new_base: str) -> None:
        """Re-point one index entry's base name (a lost rename
        re-point detected by root resolution) — fresh read-modify-write
        of just this entry so concurrent registry writes survive."""
        def mutate(idx: dict):
            if name in idx and idx[name].get("base") != new_base:
                idx[name]["base"] = new_base
                return idx
            return None

        self._mutate_indexes(mutate)

    def unregister_index(self, name: str) -> None:
        def mutate(idx: dict):
            if name not in idx:
                raise KeyError(
                    f"index {name!r} not in catalog {self.root}"
                )
            del idx[name]
            return idx

        self._mutate_indexes(mutate)

    def _open_index(self, e: dict, be: dict | None = None):
        """Instantiate a registered index handle bound to its base's
        catalog entry (identity-verified by the index's own open()).
        ``be`` passes an ALREADY-RESOLVED base entry so the maintenance
        tick's pin and the opened handle come from the same catalog
        snapshot (and the tick skips a redundant catalog read)."""
        from openverse_catalog_spark.operators.searchindex import (
            SearchIndex,
        )
        from openverse_catalog_spark.operators.vectorindex import (
            VectorIndex,
        )

        if be is None:
            _, be = self._resolve_index_base(e, self._load()["tables"])
        if be is None:
            raise KeyError(f"base table {e.get('base')!r} not in catalog")
        base = CowTable(self.spark, be["root"], keys=tuple(be["keys"]))
        cols = e.get("columns") or {}
        if e["kind"] == "search":
            return SearchIndex.open(
                self.spark, e["root"], base,
                id_col=cols.get("id", base.keys[0]),
                text_col=cols.get("text", "text"),
            )
        return VectorIndex.open(
            self.spark, e["root"], base,
            id_col=cols.get("id", base.keys[0]),
            vec_col=cols.get("vector", "embedding"),
        )

    def _resolve_index_base(self, e: dict, tables: dict):
        """The CURRENT catalog entry (name, table-entry) an index's
        base resolves to: by stored name first; else by the stored
        base ROOT (a rename whose indexes.json re-point was lost — the
        second write is not atomic with the catalog commit — or raced
        by a concurrent registration). Returns (name, entry) or
        (None, None) when the base is gone entirely."""
        root = e.get("base_root")
        be = tables.get(e.get("base"))
        if be is not None and (not root or be["root"] == root):
            return e.get("base"), be
        # name miss OR an IMPOSTOR (a different table registered under
        # the index's old base name after a lost rename re-point):
        # resolve by the recorded root
        if root:
            for n, t in tables.items():
                if t["root"] == root:
                    return n, t
        # no root recorded (legacy entry): the name match is all we
        # have. With a root recorded but unresolvable, a name-only
        # match would be the impostor case — return nothing instead
        if be is not None and not root:
            return e.get("base"), be
        return None, None

    def _index_applied(self, e: dict) -> int | None:
        """An index's applied base version straight from its state file
        (no handle, no Spark) — what vacuum protection needs."""
        try:
            with open(f"{e['root']}/state.json") as fh:
                return int(json.load(fh)["applied"])
        except (OSError, ValueError, KeyError):
            return None

    def _entry(self, name: str, catalog_version: int | None = None) -> dict:
        tables = self._load(catalog_version)["tables"]
        if name not in tables:
            raise KeyError(f"table {name!r} not in catalog {self.root}")
        return tables[name]

    def table(self, name: str) -> CowTable:
        e = self._entry(name)
        return CowTable(self.spark, e["root"], keys=tuple(e["keys"]))

    def version_as_of(self, ts: float) -> int:
        """The newest SURVIVING catalog version committed at or before
        the epoch-seconds timestamp — cross-table time travel's
        resolution step (the table-level ``version_as_of`` lifted a
        level). Commits written before the ``committed_at`` field
        existed sort as epoch 0 (always in range)."""
        best = None
        for doc in self._surviving_commits():
            if float(doc.get("committed_at") or 0.0) <= ts:
                best = doc["version"]
        if best is None:
            raise ValueError(
                f"no catalog commit at or before timestamp {ts} "
                f"(history may have been trimmed)"
            )
        return best

    def read(
        self,
        name: str,
        catalog_version: int | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """The table AS PINNED by the (current or historical) catalog
        snapshot — never a version a transaction hasn't published.
        ``as_of`` (epoch seconds) resolves the catalog version by
        commit time; with both given, ``catalog_version`` wins."""
        if catalog_version is None and as_of is not None:
            catalog_version = self.version_as_of(as_of)
        e = self._entry(name, catalog_version)
        t = CowTable(self.spark, e["root"], keys=tuple(e["keys"]))
        return t.read(e["version"])

    # -- transactions -------------------------------------------------------

    def transaction(self) -> "CatalogTransaction":
        return CatalogTransaction(self)

    def _external_refs(self, commits=None) -> set[str]:
        """Absolute paths any CATALOG-KNOWN table's surviving manifests
        reference outside the table's own root. Only shallow clones
        produce these (clone v1 records the source snapshot's files by
        absolute path; later commits carry them until a rewrite
        localizes them; RESTORE can revive them from an older surviving
        manifest — which this scan also reads). Catalog-known = every
        table named by ANY surviving catalog commit, not just the
        current one: ``unregister()`` promises historical commits still
        resolve the table for time travel, so an unregistered-but-
        still-pinned clone keeps its source-file protection until the
        pinning commits are trimmed (``catalog_history``). Metadata-
        only: resolution walks manifest JSONs in ascending order so
        each segment replays from its cached parent; no data file is
        touched. The union is what ``vacuum_tables`` must keep alive in
        the SOURCE tables so vacuuming a source never orphans a
        catalog-known clone."""
        import re as _re

        def _flag(path: str) -> bool | None:
            """The manifest's external_refs boolean WITHOUT parsing the
            whole file: _commit writes the flag before the files/add
            arrays, so it sits in the head of the JSON — one bounded
            read instead of an O(files) parse per manifest per tick.
            The quoted-key match cannot false-positive inside a JSON
            string value (embedded quotes are escaped), and a miss
            (pre-flag manifest, or a schema blob pushing the key past
            the window) returns None = resolve conservatively."""
            try:
                with open(path) as fh:
                    head = fh.read(65536)
            except OSError:
                return None
            m = _re.search(r'"external_refs":\s*(true|false)', head)
            return None if m is None else m.group(1) == "true"

        known: dict[str, tuple[str, ...]] = {}
        for doc in (commits if commits is not None
                    else self._surviving_commits()):
            for e in doc["tables"].values():
                known[e["root"]] = tuple(e["keys"])
        refs: set[str] = set()
        for root, keys in known.items():
            t = CowTable(self.spark, root, keys=keys)
            root_prefix = t.root + "/"
            try:
                names = t._manifest_names()
            except FileNotFoundError:
                continue  # table directory purged out-of-band; any
                # OTHER OSError (EIO, EACCES) must abort the vacuum
                # loudly — silently dropping a clone's refs would let
                # the source vacuum delete files the clone needs
            for mname in names:
                v = int(mname.removeprefix("v").removesuffix(".json"))
                # every commit records whether its snapshot references
                # files outside this root; an explicit False skips the
                # O(files) resolution — local-only tables (the common
                # case) cost one bounded head-read per manifest.
                if _flag(f"{t.root}/manifests/{mname}") is False:
                    continue
                for f in t._manifest(v)["files"]:
                    for p in (
                        f["path"],
                        (f.get("dv") or {}).get("path"),
                        f.get("bloom_sc"),
                    ):
                        if (
                            p
                            and p.startswith("/")
                            and not p.startswith(root_prefix)
                        ):
                            refs.add(p)
        return refs

    def vacuum_tables(
        self,
        keep_versions: int = 1,
        retention_seconds: float = 3600.0,
        catalog_history: int | None = None,
    ) -> dict:
        """Catalog-aware GC: vacuum every registered table while
        PROTECTING each version any surviving catalog commit pins — a
        bare ``table.vacuum()`` knows nothing about the catalog and
        would happily delete the manifest the published snapshot (or a
        time-travel target) resolves through, breaking ``read()`` for
        the exact state transactions promised was durable.
        ``catalog_history`` additionally drops catalog commits older
        than the newest N (pins in dropped commits stop being
        protected). Returns {table: deleted_file_count}.

        CLONE PROTECTION: stock Delta documents that vacuuming a
        shallow clone's SOURCE can delete files the clone still
        references (cowtable.py clone docstring). This engine has a
        catalog that can know both tables, so the caveat closes for
        REGISTERED clones: every registered table's surviving manifests
        are scanned for absolute (external) file references, and each
        source's vacuum receives the union as ``protect_files`` — the
        clone-referenced data files, DV dirs, and bloom sidecars
        survive any retention setting for as long as a registered clone
        manifest references them, and reclaim automatically once the
        clone is compacted (localized), vacuumed past those manifests,
        or unregistered. Unregistered clones keep the Delta caveat."""
        cur_v = self.version
        if catalog_history is not None:
            lo = max(1, cur_v - catalog_history + 1)
            for v in range(1, lo):
                path = f"{self._dir}/c{v}.json"
                if os.path.exists(path):
                    os.remove(path)
        commits = self._surviving_commits()
        pins: dict[str, set[int]] = {}
        for doc in commits:
            for name, e in doc["tables"].items():
                pins.setdefault(name, set()).add(e["version"])
        # REGISTERED-CONSUMER PROTECTION: a derived index's next
        # refresh reads the base's change feed from its applied version
        # to the pin; vacuuming any version in that span would force an
        # O(corpus) resync. Protect the span (the lakehouse version of
        # "retention never outruns a registered consumer group") — it
        # reclaims automatically once the index catches up.
        cur_tables = self._load(cur_v)["tables"]
        for ie in self.indexes().values():
            bname, be = self._resolve_index_base(ie, cur_tables)
            applied = self._index_applied(ie)
            if be is None or applied is None:
                continue
            span = range(applied, int(be["version"]) + 1)
            pins.setdefault(bname, set()).update(span)
        ext = self._external_refs(commits)
        deleted = {}
        for name, e in self._load(cur_v)["tables"].items():
            t = CowTable(self.spark, e["root"], keys=tuple(e["keys"]))
            root_prefix = e["root"].rstrip("/") + "/"
            deleted[name] = len(t.vacuum(
                keep_versions=keep_versions,
                retention_seconds=retention_seconds,
                protect=tuple(sorted(pins.get(name, ()))),
                protect_files=tuple(sorted(
                    p for p in ext if p.startswith(root_prefix)
                )),
            ))
        return deleted

    def maintain_tables(
        self,
        target_rows: int = 1_000_000,
        small_file_ratio: float = 0.5,
        keep_versions: int = 1,
        retention_seconds: float = 3600.0,
        catalog_history: int | None = None,
        reindex_skew: float | None = None,
        reindex_learned: int = 0,
    ) -> dict:
        """The catalog-integrated maintenance tick. Runs ``recover()``
        FIRST: compaction reads the table HEAD, so a torn transaction's
        orphaned head (rolled-back rows the catalog never published)
        would otherwise be compacted and PUBLISHED by this very tick —
        recover restores every drifted head to its pinned content
        before any rewrite. Per-table compaction then runs INSIDE a
        transaction so the compacted version publishes atomically (a
        bare ``table.maintain()`` would advance the head without a
        catalog commit, indistinguishable from a torn transaction), and
        it is Z-AWARE: a table under incremental z-order maintenance
        (a recorded ``zorder_clamp`` spec) compacts through the
        incremental z path — tags preserved, drift-gated retighten
        honored — never a plain bin-pack that would strip cluster tags
        and inflate the drift counter. ANALYZEd tables get their stats
        advanced O(churn) (the autoanalyze tick), then pin-protected
        ``vacuum_tables`` GCs history. The decision reads only
        manifests; tables needing nothing get no catalog commit.

        ``reindex_skew`` (opt-in, default off): after refreshing each
        registered VECTOR index, check its list-balance telemetry and
        recluster() when max/median skew reaches the bound — the
        telemetry->heal loop closed for unattended operation. Off by
        default because a recluster is an O(corpus) rebuild: an
        operator must explicitly accept that a tick may occasionally
        pay it (the heal itself is an atomic epoch swap; queries keep
        serving the old epoch throughout). ``reindex_learned=N`` makes
        the auto-heal refine the re-sampled centroids with N Lloyd
        rounds (``recluster(learned=N)``) — the sampled heal bottoms
        out where the sample density does (the r11 probe left skew at
        10.9); the learned heal flattens hot regions the sample cannot
        (1.7 in the same probe) at N extra corpus scans per heal."""
        from openverse_catalog_spark.operators.cowtable import (
            ZORDER_CLAMP_RETIGHTEN,
        )

        if reindex_learned and reindex_skew is None:
            # reindex_learned only refines a heal reindex_skew
            # triggers; silently ignoring it would let an operator
            # believe learned auto-heals are running when no heal can
            # ever fire
            raise ValueError(
                "reindex_learned requires reindex_skew (the skew "
                "bound is what triggers the heal it refines)"
            )
        report: dict = {"recovered": self.recover()["rolled_back"]}
        cur = self._load()
        for name, e in cur["tables"].items():
            t = CowTable(self.spark, e["root"], keys=tuple(e["keys"]))
            m = t._manifest(e["version"])
            files = m["files"]
            clamp = m.get("zorder_clamp")
            small = sum(
                1 for f in files
                if f["rows"] < target_rows or f.get("dv")
            )
            retighten = bool(
                clamp
                and clamp.get("fraction", 0.0) > ZORDER_CLAMP_RETIGHTEN
            )
            if not files or (
                small / len(files) <= small_file_ratio
                and not retighten
            ):
                report[name] = {"compacted": False, "files_small": small}
            else:
                with self.transaction() as txn:
                    h = txn.table(name)
                    if clamp:
                        try:
                            res = h.compact(
                                target_rows=target_rows,
                                zorder_by=list(clamp["cols"]),
                                zorder_bits=int(clamp["bits"]),
                                zorder_incremental=True,
                            )
                        except ValueError:
                            # z column dropped/stats stripped since the
                            # clamp was recorded: plain bin-pack rather
                            # than skipping maintenance
                            res = h.compact(target_rows=target_rows)
                    else:
                        res = h.compact(target_rows=target_rows)
                report[name] = {
                    "compacted": res["files_written"] > 0,
                    "files_small": small,
                    "version": res["version"],
                    "retightened": bool(res.get("retightened")),
                }
            # stats freshness (version-pinned side files, not catalog
            # state) so planner statistics track the published pin
            report[name].update(t._advance_stats())
        # registered derived indexes refresh CAPPED AT THE PIN — the
        # unattended tick leaves indexes fresh, not just tables
        # compacted, and it runs BEFORE vacuum so the feed span each
        # refresh consumes still exists. O(churn) per index: the
        # refresh reads only the manifest diff and feed images.
        cur_tables = self._load()["tables"]

        def _tick_index(iname: str, e: dict) -> dict:
            try:
                bname, be = self._resolve_index_base(e, cur_tables)
                if be is None:
                    raise KeyError(
                        f"base table {e.get('base')!r} not in catalog"
                    )
                if bname != e.get("base"):
                    # self-heal a lost rename re-point IMMEDIATELY and
                    # narrowly (re-read/modify/write just this entry) —
                    # holding the whole map and rewriting it at
                    # tick-end would clobber any register/unregister
                    # that lands during the (minutes-long) tick
                    self._heal_index_base(iname, bname)
                    e = dict(e, base=bname)
                pin = int(be["version"])
                idx = self._open_index(e, be)
                reclaimed = (
                    # reclaim epochs a PREVIOUS tick's auto-heal
                    # retired — one tick interval of grace for queries
                    # other processes planned against the old epoch
                    idx.reclaim_epochs() if e["kind"] == "vector" else []
                )
                res = idx.refresh(to_version=pin)
                # then compact + vacuum the index's own sub-tables:
                # churn-wave refreshes fragment them exactly like any
                # micro-batch merge target
                mnt = idx.maintain(
                    target_rows=target_rows,
                    retention_seconds=retention_seconds,
                )
                out = {
                    "refreshed": bool(res.get("refreshed")),
                    "applied": int(res["applied"]),
                    "resync": bool(res.get("resync", False)),
                    "compacted": any(
                        v.get("compacted") for v in mnt.values()
                    ),
                }
                if reclaimed:
                    out["reclaimed_epochs"] = reclaimed
                if reindex_skew is not None and e["kind"] == "vector":
                    bal = idx.list_stats()
                    out["skew"] = round(bal["skew"], 3)
                    if (
                        bal["median_list"] > 0
                        and bal["skew"] >= float(reindex_skew)
                    ):
                        # the refresh above resolved any pending span,
                        # so the heal's precondition holds; content
                        # rebuilds at the applied (= pinned) version.
                        # reclaim=False: the unattended tick RETIRES
                        # the old epoch instead of rmtree-ing it under
                        # concurrently planned queries — the next
                        # tick's reclaim_epochs() collects it
                        heal = idx.recluster(
                            reclaim=False, learned=int(reindex_learned)
                        )
                        out["reindexed"] = heal
                return out
            except Exception as exc:  # noqa: BLE001 - unattended tick
                return {"error": str(exc)}

        # indexes commit only to their OWN sub-tables and the registry
        # writes funnel through the lock file, so independent indexes
        # refresh CONCURRENTLY (guide §2.6 — actions are sequential
        # only because driver code calls them sequentially): one
        # index's merge tail back-fills with the next index's scans.
        # 2 in flight is plenty; report keys keep registry order so
        # the tick report stays deterministic.
        from concurrent.futures import ThreadPoolExecutor

        idx_items = list(self.indexes().items())
        if idx_items:
            with ThreadPoolExecutor(max_workers=2) as ex:
                futs = [
                    ex.submit(_tick_index, iname, e)
                    for iname, e in idx_items
                ]
                for (iname, _), fut in zip(idx_items, futs):
                    report[f"index:{iname}"] = fut.result()
        report["vacuumed"] = self.vacuum_tables(
            keep_versions=keep_versions,
            retention_seconds=retention_seconds,
            catalog_history=catalog_history,
        )
        return report

    def recover(self) -> dict:
        """Durably abort torn transactions: restore every registered
        table whose head CONTENT drifted from its pinned version. Run
        at coordinator startup, before admitting new transactions (a
        concurrent un-published transaction would be rolled back).

        Content, not version numbers: a restore itself advances the
        head, so after one recovery the head version permanently
        exceeds the pin — comparing versions would make every later
        recover() commit another (identical) restore, growing an
        unbounded restore chain out of routine rollbacks. Content =
        the file list PLUS the snapshot's metadata (schema,
        constraints, column mapping, partition spec): a torn
        metadata-only ALTER changes no file, and comparing files alone
        would keep the aborted schema on the head, where the next DML
        would silently publish it."""
        cur = self._load()
        rolled = {}
        for name, e in cur["tables"].items():
            # marker backfill: tables registered before the marker
            # existed gain it here (recover runs at coordinator startup
            # and at the top of every maintenance tick), so the
            # unpinned-stream-maintenance refusal covers old catalogs
            if not os.path.exists(f"{e['root']}/.catalog.json"):
                self._write_managed_marker(e["root"])
            t = CowTable(self.spark, e["root"], keys=tuple(e["keys"]))
            if t.version > e["version"]:
                if self._snapshot_sig(
                    t._manifest()
                ) == self._snapshot_sig(t._manifest(e["version"])):
                    continue  # a prior recovery already restored this
                t.restore(e["version"])
                rolled[name] = e["version"]
        return {"rolled_back": rolled}

    @staticmethod
    def _snapshot_sig(m: dict) -> tuple:
        """Everything restore() reproduces — the drift equality for
        recover(). Operation name / commit time / txn tokens are NOT
        content (a restore legitimately differs in those)."""
        return (
            # path-sorted: segment resolution sorts file lists but raw
            # checkpoint manifests keep commit order — comparing
            # unsorted would report spurious drift between identical
            # snapshots and re-restore forever
            sorted(m["files"], key=lambda e: e["path"]),
            m.get("schema"),
            m.get("constraints") or {},
            m.get("column_mapping") or {},
            tuple(m.get("dropped_cols") or ()),
            list(m.get("partition_spec") or ()),
            m.get("partition_fields") or {},
            tuple(m.get("stats_cols") or ()),
            tuple(m.get("bloom_cols") or ()),
        )


class TxnTable:
    """Write-handle proxy: delegates every call to the underlying
    CowTable and records the version each mutating operation returns
    (they all return ``{"version": ...}`` dicts), so publish pins
    exactly THIS transaction's last produced version — never a
    concurrent writer's later head, which ``table.version`` (the
    shared pointer) would leak."""

    def __init__(self, table: CowTable, snapshot_version: int):
        self._table = table
        # start from the SNAPSHOT pin, not the shared head: a touched-
        # but-unmutated table must re-publish its pinned version, never
        # whatever a concurrent writer (or a torn txn's orphan) pushed
        # the head to in the meantime
        self.published_version = snapshot_version

    def __getattr__(self, name):
        attr = getattr(self._table, name)
        if not callable(attr):
            return attr

        def wrapper(*args, **kwargs):
            res = attr(*args, **kwargs)
            if isinstance(res, dict) and isinstance(
                res.get("version"), int
            ):
                self.published_version = max(
                    self.published_version, res["version"]
                )
            return res

        return wrapper


class CatalogTransaction:
    def __init__(self, catalog: LakeCatalog):
        self.catalog = catalog
        self._snap: dict | None = None
        self._touched: dict[str, TxnTable] = {}

    def __enter__(self) -> "CatalogTransaction":
        self._snap = self.catalog._load()
        self._touched = {}
        return self

    def table(self, name: str) -> TxnTable:
        """A WRITE handle: mutations advance the table's own version
        chain now; the catalog exposes them only at publish."""
        if name in self._touched:
            return self._touched[name]
        e = self._snap["tables"].get(name)
        if e is None:
            raise KeyError(
                f"table {name!r} not in catalog snapshot "
                f"c{self._snap['version']}"
            )
        t = TxnTable(
            CowTable(self.catalog.spark, e["root"], keys=tuple(e["keys"])),
            snapshot_version=e["version"],
        )
        self._touched[name] = t
        return t

    def read(self, name: str) -> DataFrame:
        """Snapshot-isolated read: the version pinned when the
        transaction began (or this txn's own writes for touched
        tables — read-your-writes)."""
        if name in self._touched:
            return self._touched[name].read()
        e = self._snap["tables"][name]
        t = CowTable(self.catalog.spark, e["root"], keys=tuple(e["keys"]))
        return t.read(e["version"])

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            # abort: publish nothing — the touched tables' new versions
            # stay orphaned (invisible to catalog readers); recover()
            # rolls the table heads back durably
            return False
        if any(
            t.published_version
            != self._snap["tables"][n]["version"]
            for n, t in self._touched.items()
        ):
            # touched-but-unchanged tables alone publish nothing: a
            # no-op maintenance tick must not mint catalog versions
            self._publish()
        return False

    def _publish(self) -> None:
        while True:
            latest = self.catalog._load()
            for name in self._touched:
                if name not in latest["tables"]:
                    # a concurrent rename/unregister took the name: a
                    # blind re-insert under the OLD name would leave
                    # the table registered twice (old + renamed) with
                    # divergent pins — conflict out like any overlap
                    raise TxnConflict(
                        f"table {name!r} was renamed or unregistered "
                        "by a concurrent catalog commit since this "
                        "transaction began"
                    )
                if (
                    latest["tables"][name]["root"]
                    != self._snap["tables"][name]["root"]
                ):
                    # same name, DIFFERENT table: a concurrent
                    # unregister+register swapped the storage under the
                    # name — the version numbers are on unrelated
                    # chains, so even an equal number is a conflict
                    raise TxnConflict(
                        f"table {name!r} was re-registered at a "
                        "different root by a concurrent catalog commit"
                    )
                if (
                    latest["tables"][name]["version"]
                    != self._snap["tables"][name]["version"]
                ):
                    raise TxnConflict(
                        f"table {name!r} was published by a concurrent "
                        "transaction since this one began"
                    )
            tables = dict(latest["tables"])
            for name, t in self._touched.items():
                e = dict(tables[name])
                e["version"] = t.published_version
                tables[name] = e
            try:
                self.catalog._commit_slot(
                    latest["version"] + 1,
                    tables,
                    f"txn({', '.join(sorted(self._touched))})",
                )
                return
            except TxnConflict:
                # slot taken: if the winner's tables were disjoint the
                # per-table check above passes on reload and we re-link
                # (metadata-only); an overlap raises through it
                continue
