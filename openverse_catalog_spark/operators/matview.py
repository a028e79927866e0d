"""Incremental materialized views maintained from the CoW change feed.

The reference keeps derived aggregate tables fresh by REBUILDING them:
``image_popularity_constants`` / ``standardized_popularity`` are
``REFRESH MATERIALIZED VIEW CONCURRENTLY`` over the full media table
(reference ``common/popularity/sql.py:286-298``), and the API handoff
re-ships whole tables (``data_refresh_task_factory.py:183-240``). That
is O(table) per refresh — a non-starter when the base table is 100 TB
and a day's churn is a few GB.

This operator is the general O(delta) replacement: a materialized
GROUP BY over a :class:`~..operators.cowtable.CowTable`, maintained
from the table's change data feed (``read_changes``) the way
incremental view maintenance literature prescribes:

* **Algebraic aggregates** (``count``, ``sum``, ``avg``) apply the
  delta directly — each feed row carries weight +1 (insert /
  update_postimage) or -1 (delete / update_preimage), and the group's
  stored count / sum / non-null count just shift by the weighted sum.
* **Holistic-under-deletion aggregates** (``min``, ``max``) apply
  inserts directly (``least``/``greatest`` with the stored value) and
  fall back to an exact **dirty-group recompute** only when a removed
  value ties the new candidate bound — the only case where the stored
  bound can shrink. Dirty groups are re-aggregated from the base with
  a broadcast semi-join on the group keys, so the recompute reads
  O(dirty groups' rows), never the table.

SCALE: a refresh costs one pass over the feed span (O(rows rewritten
by the base commits)), one broadcast-pruned read of the MV's touched
groups, and one keyed MERGE into the MV's own CoW table — every stage
is proportional to the churn, not the base. The MV table itself gets
all CoW machinery for free (snapshot isolation, time travel, its own
change feed for downstream consumers, compaction).

CRASH SAFETY: the applied base version travels through a tiny WAL
(``mv_state.json``, atomic tmp+rename): a refresh records the target
span *before* merging and finalizes *after*; recovery distinguishes
"merge landed" (MV version advanced past the recorded parent) from
"merge lost" and either finalizes or replays. Replays recompute the
same delta from the same span, so a single refresher never
double-applies. If the base has vacuumed part of the span (the feed
raises), ``refresh`` falls back to a full resync — recompute + merge +
tombstone of vanished groups — and resumes the feed from there, the
documented consumer-fell-behind-retention protocol.

Deleted groups are kept as tombstones (stored count 0) so the merge
stays a single atomic commit; ``read`` filters them and
``refresh(purge_tombstones=True)`` deletes them opportunistically.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openverse_catalog_spark.operators.cowtable import CowTable, RetentionError
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)

_KINDS = ("count", "sum", "avg", "min", "max")
_CNT = "__mv_count"

# Ceiling on rows a dirty-set relation may have and still receive an
# explicit broadcast HINT.  Churn is unbounded (first refresh after a
# bulk backfill, a full-table re-merge, a big CDC batch), and a forced
# broadcast of tens of millions of keys blows the driver/broadcast
# limit exactly when the table is busiest.  Below the bound the hint
# skips AQE's size estimation (keys-only relations are always tiny);
# above it the join falls back to a plain shuffle semi-join — still
# O(churn), just not driver-resident.  Override per session with
# ``spark.openverse.mv.broadcastMaxRows``.
_MV_BROADCAST_MAX_ROWS = 2_000_000


def _broadcast_max_rows(spark: SparkSession) -> int:
    return int(
        spark.conf.get(
            "spark.openverse.mv.broadcastMaxRows", str(_MV_BROADCAST_MAX_ROWS)
        )
    )


def _hint_if_small(df: DataFrame, n_rows: int, max_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` only when its measured row count is under
    the guard bound; past it, return the relation unhinted so the join
    planner shuffles (or AQE broadcasts on real size, not our say-so)."""
    return F.broadcast(df) if n_rows <= max_rows else df


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate: output ``name``, ``kind`` in
    count|sum|avg|min|max, and the base column it reads (None for
    count, which is COUNT(*))."""

    name: str
    kind: str
    col: str | None = None

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unsupported aggregate kind {self.kind!r}")
        if self.kind != "count" and not self.col:
            raise ValueError(f"{self.kind}({self.name}) needs a base column")


def _store(a: AggSpec) -> str:
    return f"__agg_{a.name}"


def _nn(a: AggSpec) -> str:
    return f"__nn_{a.name}"


def _dt_for(field: T.StructField) -> Datatype:
    t = field.dataType
    if isinstance(t, T.StringType):
        return Datatype.char
    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return Datatype.int
    if isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
        return Datatype.double
    if isinstance(t, T.BooleanType):
        return Datatype.bool
    raise ValueError(
        f"materialized-view column {field.name} has unsupported type {t}"
    )


class _StateFile:
    """A view's ``mv_state.json`` under ``root``: the applied base
    version(s) and, for the aggregate view, the pending span."""

    root: str

    @property
    def _state_path(self) -> str:
        return f"{self.root}/mv_state.json"

    def _load_state(self) -> dict:
        with open(self._state_path) as f:
            return json.load(f)

    def _save_state(self, st: dict) -> None:
        tmp = f"{self.root}/.state.{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_path)  # atomic on POSIX


class MaterializedView(_StateFile):
    """A GROUP BY materialization over ``base``, stored as its own CoW
    table under ``root`` and refreshed incrementally from the base's
    change feed. Group keys must be non-NULL (validated at build);
    sum/avg columns must be numeric, min/max numeric or string."""

    def __init__(
        self,
        spark: SparkSession,
        base: CowTable,
        root: str,
        group_cols: list[str],
        aggs: list[AggSpec],
        target_files: int = 4,
    ):
        if not group_cols:
            raise ValueError("need at least one group column")
        names = [a.name for a in aggs]
        if len(set(names)) != len(names) or set(names) & set(group_cols):
            raise ValueError("aggregate output names must be unique and "
                             "distinct from group columns")
        self.spark = spark
        self.base = base
        self.root = root.rstrip("/")
        self.group_cols = list(group_cols)
        self.aggs = list(aggs)
        self.target_files = target_files
        self._table: CowTable | None = None

    @property
    def table(self) -> CowTable:
        if self._table is None:
            self._table = CowTable(
                self.spark, f"{self.root}/table",
                keys=tuple(self.group_cols),
            )
        return self._table

    # -- aggregate layout ---------------------------------------------------

    def _full_agg_exprs(self) -> list:
        """Aggregate expressions producing the STORED layout from base
        rows; also used verbatim for dirty-group recompute and resync,
        so every path shares one definition of each aggregate."""
        exprs = [F.count(F.lit(1)).alias(_CNT)]
        for a in self.aggs:
            if a.kind == "count":
                continue
            c = F.col(a.col)
            exprs.append(F.count(c).alias(_nn(a)))  # non-null count
            if a.kind in ("sum", "avg"):
                exprs.append(F.sum(c).alias(_store(a)))
            elif a.kind == "min":
                exprs.append(F.min(c).alias(_store(a)))
            else:
                exprs.append(F.max(c).alias(_store(a)))
        return exprs

    def _column_specs(self, schema: T.StructType) -> list[ColumnSpec]:
        specs = []
        for f in schema.fields:
            strat = (
                UpsertStrategy.no_change
                if f.name in self.group_cols
                else UpsertStrategy.newest_non_null
            )
            specs.append(ColumnSpec(f.name, _dt_for(f), upsert_strategy=strat))
        return specs

    def _validate(self, df: DataFrame) -> None:
        fields = {f.name: f for f in df.schema.fields}
        for g in self.group_cols:
            if g not in fields:
                raise ValueError(f"group column {g} not in base schema")
        for a in self.aggs:
            if a.kind == "count":
                continue
            if a.col not in fields:
                raise ValueError(f"{a.name}: base has no column {a.col}")
            t = fields[a.col].dataType
            numeric = isinstance(t, T.NumericType)
            if a.kind in ("sum", "avg") and not numeric:
                raise ValueError(f"{a.name}: {a.kind} needs a numeric column")
            if a.kind in ("min", "max") and not (
                numeric or isinstance(t, T.StringType)
            ):
                raise ValueError(
                    f"{a.name}: {a.kind} needs a numeric or string column"
                )
        null_any = None
        for g in self.group_cols:
            cond = F.col(g).isNull()
            null_any = cond if null_any is None else (null_any | cond)
        if df.filter(null_any).head(1):
            raise ValueError(
                "materialized-view group keys must be non-NULL (the MV "
                "merges on them); filter or coalesce NULL groups in the base"
            )

    # -- build / refresh ----------------------------------------------------

    def build(self, to_version: int | None = None) -> dict:
        """Full initial materialization at the base's current version
        (or at the given catalog PIN — building from a raw head that
        carries unpublished transaction writes would bake them into
        the view AND strand it past every later capped refresh)."""
        base_v = (
            self.base.version if to_version is None else int(to_version)
        )
        df = self.base.read(base_v)
        self._validate(df)
        stored = df.groupBy(*self.group_cols).agg(*self._full_agg_exprs())
        os.makedirs(self.root, exist_ok=True)
        self._table = CowTable.create(
            self.spark, f"{self.root}/table", stored,
            keys=tuple(self.group_cols), target_files=self.target_files,
            # full-aggregation lineage: one shuffle the range sample
            # must not repeat
            checkpoint=True,
        )
        self._save_state({"applied_base": base_v, "pending": None})
        return {"base_version": base_v, "mv_version": self._table.version}

    def read(self, version: int | None = None) -> DataFrame:
        """The user-facing view: group keys + aggregate columns.
        Tombstoned groups (count 0) are filtered; sum/avg/min/max show
        NULL when every surviving value in the group is NULL."""
        rows = self.table.read(version).filter(F.col(_CNT) > 0)
        out = [F.col(g) for g in self.group_cols]
        for a in self.aggs:
            if a.kind == "count":
                out.append(F.col(_CNT).alias(a.name))
                continue
            live = F.col(_nn(a)) > 0
            if a.kind == "avg":
                val = F.col(_store(a)) / F.col(_nn(a))
            else:
                val = F.col(_store(a))
            out.append(F.when(live, val).alias(a.name))
        return rows.select(out)

    def refresh(
        self,
        purge_tombstones: bool = False,
        to_version: int | None = None,
    ) -> dict:
        """Advance the MV to the base's current version by applying the
        change feed; falls back to a full resync when the span has been
        vacuumed. Single-refresher protocol (concurrent BASE writers
        are fine; run one MV maintainer at a time).

        ``to_version`` caps the refresh at a catalog PIN — a
        catalog-managed base's raw head can hold unpublished/aborted
        versions no catalog reader sees, and an uncapped refresh would
        aggregate them into the view (the same discipline the
        search/vector indexes enforce). A view already past the cap
        refuses loudly instead of serving excluded data."""
        st = self._load_state()
        if st.get("pending"):
            p = st["pending"]
            if self.table.version > p["parent"]:
                # the merge landed but the finalize was lost — finish it
                st = {"applied_base": p["base_to"], "pending": None}
            else:
                st = {"applied_base": st["applied_base"], "pending": None}
            self._save_state(st)
        b_from = st["applied_base"]
        b_to = self.base.version if to_version is None else int(to_version)
        if to_version is not None and b_from > b_to:
            raise ValueError(
                f"materialized view already applied base v{b_from}, "
                f"past the requested cap v{b_to}; it was refreshed "
                "outside the cap's discipline — rebuild it to restore "
                "pinned reads"
            )
        if b_to == b_from:
            return {"refreshed": False, "base_version": b_to}
        try:
            feed = self.base.read_changes(b_from, b_to)
        except RetentionError:
            # span vacuumed: consumer fell behind retention — resync.
            # ONLY the dedicated retention miss takes this path; any
            # other ValueError is a real bug and must propagate
            return self._full_resync(b_to)
        return self._apply(feed, b_from, b_to, purge_tombstones)

    def _apply(
        self, feed: DataFrame, b_from: int, b_to: int, purge: bool
    ) -> dict:
        g = self.group_cols
        w = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))

        delta_exprs = [F.sum(w).alias("__d_cnt")]
        for a in self.aggs:
            if a.kind == "count":
                continue
            c = F.col(a.col)
            delta_exprs.append(
                F.sum(F.when(c.isNotNull(), w)).alias(f"__d_nn_{a.name}")
            )
            if a.kind in ("sum", "avg"):
                delta_exprs.append(
                    F.sum(F.when(c.isNotNull(), w * c)).alias(
                        f"__d_sum_{a.name}"
                    )
                )
            else:
                delta_exprs.append(
                    F.min(F.when(w > 0, c)).alias(f"__ins_min_{a.name}")
                )
                delta_exprs.append(
                    F.max(F.when(w > 0, c)).alias(f"__ins_max_{a.name}")
                )
                delta_exprs.append(
                    F.min(F.when(w < 0, c)).alias(f"__rm_min_{a.name}")
                )
                delta_exprs.append(
                    F.max(F.when(w < 0, c)).alias(f"__rm_max_{a.name}")
                )
        delta = feed.groupBy(*g).agg(*delta_exprs)
        delta = delta.localCheckpoint(eager=False)
        # runtime re-validation (build-time _validate cannot see future
        # churn): a NULL group key in the feed — e.g. a right-side
        # delete under a LEFT join base NULLing a right-sourced group
        # column — would merge as its own group and silently corrupt
        # the aggregate. A NULL group with NET count <= 0 is benign (it
        # was never in the MV — _validate pinned that — and zero/
        # negative-count groups are dropped before the merge), so a
        # value that transits NULL and back inside one feed span does
        # not wedge the refresh; only a NULL group that would PERSIST
        # raises.
        # ONE bounded collect of the (grouped, churn-sized) delta keys
        # materializes the checkpoint, measures the dirty set for the
        # broadcast guard, runs the NULL-group check DRIVER-SIDE and
        # feeds the MV file prune its key set — the former probe job
        # and the prune's internal second collect both disappear into
        # it. Oversized churn (> prune cap) falls back to the old
        # aggregate probe, where one extra job is amortized anyway.
        _CAP = 10_000
        key_rows = delta.select(*g, "__d_cnt").limit(_CAP + 1).collect()
        if len(key_rows) <= _CAP:
            n_delta = len(key_rows)
            bad = any(
                any(r[c] is None for c in g) and (r["__d_cnt"] or 0) > 0
                for r in key_rows
            )
        else:
            null_any = None
            for c in g:
                cond = F.col(c).isNull()
                null_any = cond if null_any is None else (null_any | cond)
            probe = delta.agg(
                F.count(F.lit(1)).alias("__n"),
                F.max(
                    (null_any & (F.col("__d_cnt") > 0)).cast("int")
                ).alias("__bad"),
            ).head()
            n_delta = int(probe["__n"])
            bad = bool(probe["__bad"])
            key_rows = None
        if bad:
            raise ValueError(
                "materialized-view refresh saw NULL group keys in the "
                "change feed (a LEFT-join base NULLs right-sourced "
                "columns when the right side deletes); coalesce or "
                "filter NULL groups upstream, or group by left-side "
                "columns only"
            )
        bmax = _broadcast_max_rows(self.spark)

        # touched MV groups only: prune MV FILES through the manifest
        # (the MV table is keyed on the group cols, so per-file key
        # ranges are tight and the read is always prunable;
        # read_join_pruned self-caps at 10k keys with a semi-join
        # fallback) — the refresh never scans untouched MV files. The
        # join below is size-guarded: cur_small has at most n_delta
        # rows since delta is grouped by g; past the bound the hint
        # drops and the join shuffles instead of blowing the broadcast
        # limit.
        cur_small = self.table.read_join_pruned(
            delta.select(*g), g, dim_rows=key_rows
        )
        j = delta.join(_hint_if_small(cur_small, n_delta, bmax), on=g,
                       how="left")

        in_cur = F.col(_CNT).isNotNull()
        new_cnt = F.coalesce(F.col(_CNT), F.lit(0)) + F.col("__d_cnt")

        dirty = F.lit(False)
        out_cols = [F.col(c) for c in g] + [new_cnt.alias("__new_cnt")]
        for a in self.aggs:
            if a.kind == "count":
                continue
            nn_new = (
                F.coalesce(F.col(_nn(a)), F.lit(0))
                + F.coalesce(F.col(f"__d_nn_{a.name}"), F.lit(0))
            )
            out_cols.append(nn_new.alias(f"__new_nn_{a.name}"))
            if a.kind in ("sum", "avg"):
                out_cols.append(
                    (
                        F.coalesce(F.col(_store(a)), F.lit(0))
                        + F.coalesce(F.col(f"__d_sum_{a.name}"), F.lit(0))
                    ).alias(f"__new_val_{a.name}")
                )
                continue
            # min/max: stored bound counts only while the group had
            # non-null values; inserts extend it with least/greatest
            # (both skip NULLs); a removed value TYING the candidate
            # bound is the only way the bound can shrink -> dirty.
            cur_eff = F.when(F.col(_nn(a)) > 0, F.col(_store(a)))
            if a.kind == "min":
                cand = F.least(cur_eff, F.col(f"__ins_min_{a.name}"))
                rm = F.col(f"__rm_min_{a.name}")
                d = rm.isNotNull() & (cand.isNull() | (rm <= cand))
            else:
                cand = F.greatest(cur_eff, F.col(f"__ins_max_{a.name}"))
                rm = F.col(f"__rm_max_{a.name}")
                d = rm.isNotNull() & (cand.isNull() | (rm >= cand))
            out_cols.append(cand.alias(f"__new_val_{a.name}"))
            dirty = dirty | (d & (new_cnt > 0))

        j = j.select(*out_cols, dirty.alias("__dirty"), in_cur.alias("__in_cur"))
        # groups that end empty AND never existed need no row at all
        j = j.filter(F.col("__in_cur") | (F.col("__new_cnt") > 0))
        j = j.localCheckpoint(eager=False)

        clean_cols = [F.col(c) for c in g] + [F.col("__new_cnt").alias(_CNT)]
        for a in self.aggs:
            if a.kind == "count":
                continue
            clean_cols.append(F.col(f"__new_nn_{a.name}").alias(_nn(a)))
            clean_cols.append(F.col(f"__new_val_{a.name}").alias(_store(a)))
        clean = j.filter(~F.col("__dirty")).select(clean_cols)

        dirty_keys = j.filter(F.col("__dirty")).select(*g)
        # ONE bounded collect: materializes the j checkpoint, counts
        # the dirty set AND hands the base prune its key rows (the
        # prune's internal collect was a second job over the same tiny
        # set); an oversized dirty set falls back to the exact count
        d_rows = dirty_keys.limit(_CAP + 1).collect()
        if len(d_rows) <= _CAP:
            n_dirty = len(d_rows)
        else:
            n_dirty = dirty_keys.count()
            d_rows = None
        if n_dirty:
            # dirty-group recompute reads O(dirty groups' rows): prune
            # base FILES through manifest stats/blooms when the group
            # column has them, else a size-guarded semi-join
            try:
                dirty_rows = self.base.read_join_pruned(
                    dirty_keys, g, version=b_to, dim_rows=d_rows
                )
            except ValueError:  # no stats/bloom on the group column(s)
                dirty_rows = self.base.read(b_to).join(
                    _hint_if_small(dirty_keys, n_dirty, bmax),
                    on=g, how="left_semi",
                )
            recomputed = dirty_rows.groupBy(*g).agg(*self._full_agg_exprs())
            updates = clean.unionByName(recomputed)
        else:
            updates = clean
        # align types to the stored schema (sum of +1/-1 weights can
        # widen an int count; cast back to the table's declared types)
        stored_schema = {
            f.name: f.dataType for f in self.table.read().schema.fields
        }
        updates = updates.select(
            [F.col(c).cast(stored_schema[c]).alias(c) for c in
             [f.name for f in self.table.read().schema.fields]]
        )

        parent = self.table.version
        self._save_state({
            "applied_base": b_from,
            "pending": {"base_to": b_to, "parent": parent},
        })
        res = self.table.merge(
            updates,
            self._column_specs(self.table.read().schema),
            target_files=self.target_files,
            deterministic=True,
        )
        self._save_state({"applied_base": b_to, "pending": None})
        if purge:
            self.table.delete(F.col(_CNT) == 0)
        return {
            "refreshed": True,
            "from_version": b_from,
            "base_version": b_to,
            "mv_version": res["version"],
            "groups_recomputed": n_dirty,
        }

    def _full_resync(self, b_to: int) -> dict:
        """Retention fallback: recompute every group, tombstone groups
        that vanished, resume the feed from ``b_to``."""
        fresh = (
            self.base.read(b_to)
            .groupBy(*self.group_cols)
            .agg(*self._full_agg_exprs())
        )
        cur_keys = self.table.read().select(*self.group_cols)
        dead = cur_keys.join(
            fresh.select(*self.group_cols), on=self.group_cols, how="left_anti"
        )
        zero_cols = [F.col(c) for c in self.group_cols] + [
            F.lit(0).alias(_CNT)
        ]
        for a in self.aggs:
            if a.kind == "count":
                continue
            zero_cols.append(F.lit(0).alias(_nn(a)))
            zero_cols.append(F.lit(None).alias(_store(a)))
        stored_fields = self.table.read().schema.fields
        updates = fresh.unionByName(dead.select(zero_cols)).select(
            [F.col(f.name).cast(f.dataType).alias(f.name)
             for f in stored_fields]
        )
        parent = self.table.version
        self._save_state({
            "applied_base": self._load_state()["applied_base"],
            "pending": {"base_to": b_to, "parent": parent},
        })
        self.table.merge(
            updates,
            self._column_specs(self.table.read().schema),
            target_files=self.target_files,
            deterministic=True,
        )
        self._save_state({"applied_base": b_to, "pending": None})
        return {"refreshed": True, "resync": True, "base_version": b_to}


class JoinMaterializedView(_StateFile):
    """A materialized EQUI-JOIN (``left ⋈ right`` on shared join
    columns, inner or left) stored as its own CoW table and maintained
    incrementally from BOTH base tables' change feeds.

    The reference materializes joins by rebuilding them — every
    ``standardized_popularity`` refresh re-joins media against the
    constants view over the whole table (``popularity/sql.py:286-326``).
    Here a refresh costs O(churn x fanout): the dirty row set is
    (changed left rows) ∪ (left rows whose join value appears in the
    right feed's pre- or post-images), recomputed against both bases'
    CURRENT snapshots and merged by key — insert/update/delete in one
    ``merge_when`` commit. Dirty-join-value lookup into the left base
    goes through ``read_join_pruned`` when it can (manifest stats +
    blooms prune left FILES, not just rows).

    Shape contract: the MV is keyed by the LEFT table's merge keys, so
    the right side must stay UNIQUE per join value (dimension
    semantics, n:1 enrichment) — validated at build over the whole
    right table and at every refresh over the dirty join values.

    Crash safety needs no WAL here, unlike the aggregate MV: partial
    recompute is IDEMPOTENT (it derives state from base snapshots, not
    from deltas), so a refresh replayed after a crash between merge
    and state save just recomputes the same rows; state records the
    applied (left, right) versions only to bound the next feed read.
    A vacuumed feed span falls back to full resync."""

    def __init__(
        self,
        spark: SparkSession,
        left: CowTable,
        right: CowTable,
        root: str,
        on: list[str],
        how: str = "inner",
        target_files: int = 4,
    ):
        if how not in ("inner", "left"):
            raise ValueError("how must be 'inner' or 'left'")
        if not on:
            raise ValueError("need at least one join column")
        self.spark = spark
        self.left = left
        self.right = right
        self.root = root.rstrip("/")
        self.on = list(on)
        self.how = how
        self.target_files = target_files
        self._table: CowTable | None = None

    @property
    def table(self) -> CowTable:
        if self._table is None:
            self._table = CowTable(
                self.spark, f"{self.root}/table", keys=self.left.keys
            )
        return self._table

    def _out_cols(self, ldf: DataFrame, rdf: DataFrame) -> list[str]:
        """Output layout: every left column, then right non-join
        columns; name collisions are a caller error (rename in the
        base), not something to hide behind prefixes."""
        rcols = [c for c in rdf.columns if c not in self.on]
        clash = set(ldf.columns) & set(rcols)
        if clash:
            raise ValueError(
                f"join MV column collision {sorted(clash)}; rename in a "
                "base table or project before materializing"
            )
        return list(ldf.columns) + rcols

    def _check_right_unique(self, rdf: DataFrame) -> None:
        if (
            rdf.groupBy(*self.on).count().filter(F.col("count") > 1)
            .head(1)
        ):
            raise ValueError(
                "right side is not unique per join value — the MV is "
                "keyed by left keys (n:1 enrichment); dedupe the right "
                "table first"
            )

    def _joined(self, ldf: DataFrame, rdf: DataFrame) -> DataFrame:
        cols = self._out_cols(ldf, rdf)
        j = ldf.join(rdf, on=self.on, how=self.how)
        return j.select(*cols)

    def build(
        self,
        to_left: int | None = None,
        to_right: int | None = None,
    ) -> dict:
        lv = self.left.version if to_left is None else int(to_left)
        rv = self.right.version if to_right is None else int(to_right)
        ldf, rdf = self.left.read(lv), self.right.read(rv)
        self._check_right_unique(rdf)
        os.makedirs(self.root, exist_ok=True)
        self._table = CowTable.create(
            self.spark, f"{self.root}/table", self._joined(ldf, rdf),
            keys=self.left.keys, target_files=self.target_files,
            checkpoint=True,  # join lineage, see MaterializedView.build
        )
        self._save_state({"applied_left": lv, "applied_right": rv})
        return {
            "left_version": lv, "right_version": rv,
            "mv_version": self._table.version,
        }

    def read(self, version: int | None = None) -> DataFrame:
        return self.table.read(version)

    def refresh(
        self,
        to_left: int | None = None,
        to_right: int | None = None,
    ) -> dict:
        """``to_left``/``to_right`` cap each side at its catalog PIN
        (unpublished raw-head versions of a catalog-managed base must
        not leak into the joined view)."""
        st = self._load_state()
        l_from, r_from = st["applied_left"], st["applied_right"]
        l_to = self.left.version if to_left is None else int(to_left)
        r_to = self.right.version if to_right is None else int(to_right)
        for side, frm, cap, given in (
            ("left", l_from, l_to, to_left),
            ("right", r_from, r_to, to_right),
        ):
            if given is not None and frm > cap:
                raise ValueError(
                    f"join view already applied {side} v{frm}, past "
                    f"the requested cap v{cap}; it was refreshed "
                    "outside the cap's discipline — rebuild it to "
                    "restore pinned reads"
                )
        if (l_from, r_from) == (l_to, r_to):
            return {"refreshed": False, "left_version": l_to,
                    "right_version": r_to}
        try:
            lfeed = (
                self.left.read_changes(l_from, l_to)
                if l_to > l_from else None
            )
            rfeed = (
                self.right.read_changes(r_from, r_to)
                if r_to > r_from else None
            )
        except RetentionError:
            # vacuumed span only; other ValueErrors propagate
            return self._full_resync(l_to, r_to)
        keys = list(self.left.keys)
        ldf, rdf = self.left.read(l_to), self.right.read(r_to)
        bmax = _broadcast_max_rows(self.spark)
        dirty = None
        if lfeed is not None:
            dirty = lfeed.select(*keys).distinct()
        if rfeed is not None:
            # ONE bounded collect materializes the dirty join-value set,
            # sizes the broadcast guard AND feeds the left prune its key
            # rows (the prune's internal collect was a second job over
            # the same churn-sized set); oversized churn falls back to
            # the exact count + internal collect
            _CAP = 10_000
            dirty_jv = (
                rfeed.select(*self.on).distinct().localCheckpoint(eager=False)
            )
            jv_rows = dirty_jv.limit(_CAP + 1).collect()
            if len(jv_rows) <= _CAP:
                n_jv = len(jv_rows)
            else:
                n_jv = dirty_jv.count()
                jv_rows = None
            self._check_right_unique(
                rdf.join(_hint_if_small(dirty_jv, n_jv, bmax),
                         self.on, "leftsemi")
            )
            # left rows referencing a changed join value: prune left
            # FILES through the manifest (single- or composite-key;
            # self-capped at 10k keys with a semi-join fallback), else
            # a size-guarded semi-join
            try:
                hit = self.left.read_join_pruned(
                    dirty_jv, self.on, version=l_to, dim_rows=jv_rows
                )
            except ValueError:  # no stats/bloom on the join column(s)
                hit = ldf.join(_hint_if_small(dirty_jv, n_jv, bmax),
                               self.on, "leftsemi")
            d2 = hit.select(*keys).distinct()
            dirty = d2 if dirty is None else dirty.union(d2).distinct()
        if dirty is not None:
            # one bounded collect materializes the checkpoint, sizes
            # the broadcast guard AND answers the emptiness probe the
            # old head(1) ran as its own job (count fallback past cap)
            dirty = dirty.localCheckpoint(eager=False)
            d_rows = dirty.limit(10_001).collect()
            n_dirty = len(d_rows) if len(d_rows) <= 10_000 else dirty.count()
        if dirty is None or n_dirty == 0:
            self._save_state({"applied_left": l_to, "applied_right": r_to})
            return {"refreshed": False, "left_version": l_to,
                    "right_version": r_to}
        live = ldf.join(_hint_if_small(dirty, n_dirty, bmax), keys, "leftsemi")
        result = self._joined(live, rdf)
        res = self._reconcile(
            result, dirty.join(result.select(*keys), keys, "left_anti")
        )
        self._save_state({"applied_left": l_to, "applied_right": r_to})
        return {
            "refreshed": True, "left_version": l_to, "right_version": r_to,
            "mv_version": res["version"],
        }

    def _reconcile(self, result: DataFrame, gone: DataFrame) -> dict:
        """ONE ``merge_when`` commit: upsert every ``result`` row and
        delete the ``gone`` keys (left-key rows, NULL elsewhere)."""
        keys = list(self.left.keys)
        src = result.withColumn("__op", F.lit("U")).unionByName(
            gone.select(
                *[
                    F.col(c).alias(c) if c in keys
                    else F.lit(None).cast(result.schema[c].dataType).alias(c)
                    for c in result.columns
                ]
            ).withColumn("__op", F.lit("D")),
        )
        return self.table.merge_when(
            src,
            delete_cond="s.__op = 'D'",
            update_set="*",
            update_cond="s.__op <> 'D'",
            insert_cond="s.__op <> 'D'",
            target_files=self.target_files,
            check_duplicate_keys=False,  # key-unique by construction
        )

    def _full_resync(self, l_to: int, r_to: int) -> dict:
        """Feed span vacuumed: recompute the whole join and reconcile —
        upsert every current row, delete MV keys that vanished."""
        keys = list(self.left.keys)
        ldf, rdf = self.left.read(l_to), self.right.read(r_to)
        self._check_right_unique(rdf)
        result = self._joined(ldf, rdf)
        res = self._reconcile(
            result,
            self.table.read().select(*keys).join(
                result.select(*keys), keys, "left_anti"
            ),
        )
        self._save_state({"applied_left": l_to, "applied_right": r_to})
        return {
            "refreshed": True, "resync": True,
            "left_version": l_to, "right_version": r_to,
            "mv_version": res["version"],
        }


class JoinAggMaterializedView:
    """A materialized GROUP-BY-over-a-JOIN — the shape of the
    reference's ACTUAL materialized views (``image_view`` /
    ``standardized_popularity`` are join + computed-column views
    refreshed whole, ``popularity/sql.py:232-283``) — maintained
    incrementally end to end: the standard DBSP/Materialize
    composition of a join operator feeding an aggregate operator.

    Composition, not new machinery: a :class:`JoinMaterializedView`
    materializes ``left ⋈ right`` as its own CoW table (dirty-key
    partial recompute from both bases' change feeds), and because that
    table is a full CoW citizen it emits a CHANGE FEED of exactly the
    join-row churn — which is precisely what
    :class:`MaterializedView`'s algebraic delta apply consumes. One
    ``refresh()`` advances both stages; every stage is O(churn), so
    the end-to-end refresh cost is O(base churn x join fanout), never
    O(table) — against the reference's full ``REFRESH MATERIALIZED
    VIEW``.

    Shape contract: the join stage's (right side unique per join
    value, MV keyed by left keys) plus the aggregate stage's
    (non-NULL group keys — with ``how='left'`` a right-sourced group
    column must be coalesced upstream). Crash safety is inherited
    per stage (idempotent join recompute; WAL'd aggregate apply)."""

    def __init__(
        self,
        spark: SparkSession,
        left: CowTable,
        right: CowTable,
        root: str,
        on: list[str],
        group_cols: list[str],
        aggs: list[AggSpec],
        how: str = "inner",
        target_files: int = 4,
    ):
        self.root = root.rstrip("/")
        self.join_mv = JoinMaterializedView(
            spark, left, right, f"{self.root}/join", on=on, how=how,
            target_files=target_files,
        )
        self._spark = spark
        self._group_cols = list(group_cols)
        self._aggs = list(aggs)
        self._target_files = target_files
        self._agg_mv: MaterializedView | None = None

    @property
    def agg_mv(self) -> MaterializedView:
        if self._agg_mv is None:
            self._agg_mv = MaterializedView(
                self._spark, self.join_mv.table, f"{self.root}/agg",
                self._group_cols, self._aggs,
                target_files=self._target_files,
            )
        return self._agg_mv

    def build(
        self,
        to_left: int | None = None,
        to_right: int | None = None,
    ) -> dict:
        j = self.join_mv.build(to_left=to_left, to_right=to_right)
        a = self.agg_mv.build()
        return {"join": j, "agg": a}

    def read(self, version: int | None = None) -> DataFrame:
        return self.agg_mv.read(version)

    def refresh(
        self,
        purge_tombstones: bool = False,
        to_left: int | None = None,
        to_right: int | None = None,
    ) -> dict:
        """Caps apply to the OUTER bases (the join's two sides); the
        aggregate stage's base is the join MV's own table — internal,
        never catalog-managed — so it follows that table's head."""
        j = self.join_mv.refresh(to_left=to_left, to_right=to_right)
        a = self.agg_mv.refresh(purge_tombstones=purge_tombstones)
        return {"join": j, "agg": a}
