"""Shared maintenance protocol for incrementally-maintained index
structures over a CoW lake table — the inverted text index
(:mod:`.searchindex`) and the IVF vector index (:mod:`.vectorindex`)
follow the exact same discipline, so it exists once:

* ``state.json`` records the base version the index reflects
  (``applied``) plus identity metadata (which table/columns it was
  built from) so a later ``open()`` cannot silently bind a persisted
  index to the wrong table.
* ``refresh()`` advances the index from the base's CHANGE FEED — cost
  O(changed rows), never O(corpus) — through a pending-span WAL: the
  span ``[applied, head]`` is durably recorded BEFORE any merge, and
  every reconcile merge carries a txn fence keyed on the span's end
  version, so a crash at any point replays exactly the pending span
  (landed merges txn-skip, lost ones apply) and the netting baseline
  ("old = what the index holds") can never drift.
* a base vacuumed past the unapplied span (the consumer fell behind
  CDF retention — the dedicated :class:`~.cowtable.RetentionError`,
  never a generic error) triggers ONE full resync against the pinned
  snapshot, after which the feed resumes incrementally.
* ``to_version`` caps the refresh at a catalog PIN so unpublished or
  aborted raw-head versions never leak into query results; an index
  found PAST the cap (refreshed outside the cap's discipline) refuses
  loudly instead of serving excluded data.

Subclasses implement ``_identity()`` (the metadata verified on attach),
``_apply_feed(feed, to_v)`` (net the span's transitions and reconcile
the index tables with txn-fenced merges), and ``_full_resync(to_v)``.

Reference parity: the reference maintains its derived search stores by
re-shipping whole tables per refresh
(``data_refresh_task_factory.py:183-240``); this protocol is the
lakehouse replacement those consumers share.
"""

from __future__ import annotations

import json
import math
import os
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import RetentionError

# wide enough for every finite double at any scale a probe rounds to
_ROUND_CTX = Context(prec=400)


def _spark_round(x: float, scale: int) -> float:
    """Spark's ``round(x, scale)`` of a double: HALF_UP on the double's
    shortest decimal form (``BigDecimal.valueOf``), not on its binary
    value — ``numpy.round`` differs on ties and near-ties. NaN and the
    infinities pass through, and a result of zero is +0.0 (a
    ``BigDecimal`` has no negative zero), as in Spark."""
    x = float(x)
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), ROUND_HALF_UP, _ROUND_CTX
    )
    return float(q) + 0.0


def _spark_top(ids, vals, k: int, scale: int, null=None) -> list[int]:
    """Positions of the first ``k`` rows of Spark's ``ORDER BY
    round(v, scale) DESC, id`` over the numpy arrays ``ids`` and
    ``vals`` (doubles; ``null`` marks NULL values): NaN sorts above
    every value and NULL after all of them, as Spark orders doubles.
    Rounding is monotone and moves a value by at most half a unit of
    the last kept decimal, so a value more than one unit below the
    k-th largest raw value rounds strictly below k others (two units
    leave float slack): only the values above that line are rounded."""
    k = max(int(k), 0)
    null = np.zeros(len(vals), dtype=bool) if null is None else null
    nan = np.isnan(vals) & ~null

    def by_id(mask) -> list[int]:
        pos = np.flatnonzero(mask)
        return pos[np.argsort(ids[pos], kind="stable")].tolist()

    out = by_id(nan)[:k]
    num = np.flatnonzero(~nan & ~null)
    r = k - len(out)
    if r > 0 and len(num):
        v = vals[num]
        if r < len(num):
            kth = np.partition(v, len(v) - r)[len(v) - r]
            num = num[v >= kth - 2 * 10.0 ** -scale]
        out += sorted(
            num.tolist(),
            key=lambda i: (-_spark_round(vals[i], scale), ids[i]),
        )[:r]
    return out + by_id(null)[:k - len(out)]


def net_feed_transitions(
    feed: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Reduce a CDF span to ONE net-transition row per dirty id:
    ``__old`` = the span's FIRST pre-image (the state the index holds —
    struct(v, p), NULL when the id is new), ``__new`` = the LAST
    post-event (struct(v, del, p); ``del`` marks a trailing delete —
    the id leaves the index).

    One keyed aggregation. The former formulation ran TWO window
    functions (row_number first/last) over the feed plus two
    localCheckpoints — two shuffles and two cached materializations
    where one shuffle suffices (guide §2.4: two operations keyed the
    same way share one exchange; here they fuse into one aggregate).
    Struct min/max is exact: a commit emits at most one pre and one
    post event per id, so ``_commit_version`` alone decides the order
    and the remaining struct fields never break a tie."""
    pre = F.when(
        F.col("_change_type").isin("update_preimage", "delete"),
        F.struct(
            F.col("_commit_version").alias("v"),
            F.col(payload_col).alias("p"),
        ),
    )
    post = F.when(
        F.col("_change_type").isin(
            "insert", "update_postimage", "delete"
        ),
        F.struct(
            F.col("_commit_version").alias("v"),
            (F.col("_change_type") == "delete").alias("del"),
            F.col(payload_col).alias("p"),
        ),
    )
    return feed.groupBy(id_col).agg(
        F.min(pre).alias("__old"), F.max(post).alias("__new")
    )


class IncrementalIndex:
    """CDF-maintained index base: state WAL + capped refresh + resync."""

    def __init__(self, spark, root: str, base):
        self.spark = spark
        self.root = root.rstrip("/")
        self.base = base

    # -- identity -------------------------------------------------------

    def _identity(self) -> dict:
        """Metadata recorded in state.json and verified on attach —
        must include ``base_root``; subclasses add their column
        bindings."""
        raise NotImplementedError

    def _verify_identity(self) -> bool:
        """Check a persisted state file's identity against this
        handle's attach arguments. Returns True when verified, False
        for a pre-metadata (legacy) state file — the CALLER must then
        run its own attach sanity check before trusting the binding,
        because the next ``_write_state`` backfills the identity keys
        and would permanently legitimize a wrong attach. Raises on a
        definite mismatch."""
        st = self._state()
        want = dict(self._identity())
        got = {k: st.get(k) for k in want}
        if any(v is None for v in got.values()):
            return False
        # path identity, not string identity
        for d in (want, got):
            if "base_root" in d and d["base_root"] is not None:
                d["base_root"] = os.path.realpath(d["base_root"])
        if got != want:
            raise ValueError(
                f"index at {self.root!r} was built over {got}, not "
                f"{want}; attach it to the table/columns it indexes"
            )
        return True

    # -- state ------------------------------------------------------------

    @property
    def applied_version(self) -> int:
        return int(self._state()["applied"])

    def _state(self) -> dict:
        with open(f"{self.root}/state.json") as fh:
            return json.load(fh)

    def _state_extra(self) -> dict:
        """Extra durable-but-unverified state a subclass carries along
        (e.g. how the centroid set was sampled)."""
        return {}

    def _write_state(self, applied: int, pending: int | None = None) -> None:
        # identity metadata rides along so open() can verify an ATTACH
        # binds the index to the table/columns it was built from
        st = {
            "applied": int(applied),
            **self._identity(),
            **self._state_extra(),
        }
        if pending is not None:
            st["pending"] = int(pending)
        tmp = f"{self.root}/.tmp.state.json"
        with open(tmp, "w") as fh:
            json.dump(st, fh)
        os.replace(tmp, f"{self.root}/state.json")

    # -- maintenance --------------------------------------------------------

    def refresh(self, to_version: int | None = None) -> dict:
        """Advance the index to the base's current version (or the
        given ``to_version`` — a catalog-managed base passes its PINNED
        version so unpublished/aborted heads never leak into query
        results) from the change feed. O(changed rows): the feed is
        the manifest diff, old index entries derive from feed
        PRE-IMAGES (never an index scan), and the reconciling merges
        file-skip on their key ranges.

        CRASH SAFETY is the matview pending-WAL protocol: the span
        [applied, head] is recorded in state.json BEFORE any merge, and
        the merges carry a txn fence keyed on the span's end version.
        A crash at any point replays exactly the PENDING span on the
        next refresh — already-landed merges txn-skip, lost ones apply
        — so the netting baseline ("old = what the index holds") can
        never drift even if the base advanced in the meantime: new
        commits wait in a fresh span behind the pending one.

        A base vacuumed past the unapplied span (the consumer fell
        behind CDF retention) triggers a FULL RESYNC against the
        current snapshot, then the feed resumes from there — the same
        protocol the incremental MVs follow."""
        st = self._state()
        applied = int(st["applied"])
        replayed = False
        if "pending" in st:
            # finish (or redo) the torn span before anything newer.
            # ONLY the feed read is guarded: a vacuumed pending span
            # (including one torn by a crash DURING a resync) skips the
            # replay and falls through — the main span below is a
            # superset, so its feed read raises the same way and the
            # single resync path handles it. Merge-side errors
            # (constraints, config) propagate — they are not retention
            # misses and must never be papered over by a rebuild.
            pend = int(st["pending"])
            if to_version is not None and pend > int(to_version):
                # a recorded span past the caller's cap means the index
                # was advanced OUTSIDE this discipline (e.g. a raw-API
                # refresh of a catalog-managed base, whose head can
                # carry unpublished versions); the span end is fixed by
                # its txn fence, so it cannot be partially applied —
                # refuse loudly instead of replaying data the cap
                # exists to exclude
                raise ValueError(
                    f"pending span ends at v{pend}, past the requested "
                    f"cap v{int(to_version)}; the index was refreshed "
                    "outside the cap's discipline — rebuild it, or "
                    "finish with an uncapped refresh() ONLY if every "
                    "version in the span is published"
                )
            feed = self._try_feed(applied, pend)
            if feed is not None:
                self._apply_feed(feed, pend)
                self._write_state(pend)
                applied = pend
                replayed = True
        head = self.base.version if to_version is None else int(to_version)
        if to_version is not None and applied > int(to_version):
            # the COMPLETED twin of the pending-past-cap case: an
            # uncapped refresh already consumed versions the cap
            # excludes (possibly aborted ones no catalog reader sees).
            # Returning quietly would serve them indefinitely
            raise ValueError(
                f"index already applied v{applied}, past the requested "
                f"cap v{int(to_version)}; it was refreshed outside the "
                "cap's discipline — rebuild it (or re-create from the "
                "capped snapshot) to restore pinned reads"
            )
        if head <= applied:
            return {"applied": applied, "refreshed": replayed}
        self._write_state(applied, pending=head)
        feed = self._try_feed(applied, head)
        if feed is not None:
            self._apply_feed(feed, head)
        else:
            # feed span vacuumed away (the consumer fell behind CDF
            # retention): resync from the snapshot the head pins, then
            # resume incrementally from there
            self._full_resync(head)
        self._write_state(head)
        out = {"applied": head, "refreshed": True, "from": applied}
        if feed is None:
            # an O(corpus) rebuild, not an O(churn) feed apply — the
            # caller's monitoring must be able to tell
            out["resync"] = True
        return out

    def _try_feed(self, from_v: int, to_v: int):
        """The base's change feed for the span, or None if retention
        already dropped part of it (read_changes resolves the span's
        manifests eagerly, so the miss surfaces HERE, never from the
        downstream merges). Only the dedicated RetentionError means
        'span vacuumed -> resync'; any other error (CDF misconfig, span
        arithmetic bug) propagates instead of being silently converted
        into an O(corpus) rebuild."""
        try:
            return self.base.read_changes(from_v, to_v)
        except RetentionError:
            return None

    def _apply_feed(self, feed, to_v: int) -> None:
        raise NotImplementedError

    def _full_resync(self, to_v: int) -> None:
        raise NotImplementedError

    # -- self-maintenance -------------------------------------------------

    def _index_tables(self) -> list:
        """(name, CowTable) pairs of the index's own storage —
        subclasses enumerate them for :meth:`maintain`."""
        raise NotImplementedError

    def maintain(
        self,
        target_rows: int = 1_000_000,
        small_file_ratio: float = 0.5,
        keep_versions: int = 3,
        retention_seconds: float = 3600.0,
    ) -> dict:
        """Compact + vacuum the index's OWN CoW sub-tables: every
        churn-wave refresh lands a small-file merge commit in the
        postings/lists exactly like any other micro-batch merge target,
        so an index under continuous maintenance fragments and its
        version history grows without this tick. Compaction re-clusters
        on the merge key, so the key-range file pruning queries rely on
        (terms, centroids) stays tight; vacuum keeps ``keep_versions``
        so replay fences in recent manifests survive. The catalog's
        ``maintain_tables`` runs this after each registered index's
        refresh — unattended ticks leave indexes fresh AND compact."""
        return {
            name: t.maintain(
                target_rows=target_rows,
                small_file_ratio=small_file_ratio,
                keep_versions=keep_versions,
                vacuum_retention_seconds=retention_seconds,
            )
            for name, t in self._index_tables()
        }
