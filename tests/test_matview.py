"""Incremental materialized-view maintenance (operators/matview.py).

The reference refreshes derived aggregates by full rebuild
(``common/popularity/sql.py:286-298``); the MV operator must land on
the same answers while reading only the change feed. These tests pin:
delta-apply == full recompute across mixed churn, the min/max
dirty-group recompute firing exactly when a removed value ties the
stored bound, tombstone lifecycle, WAL crash recovery in both halves
of the window, and the vacuum-fallback full resync.
"""

import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.matview import (
    AggSpec,
    MaterializedView,
)
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)
from tests.test_cowtable import _rows

COLS = [
    ColumnSpec("id", Datatype.int, required=True,
               upsert_strategy=UpsertStrategy.no_change),
    ColumnSpec("grp", Datatype.char),
    ColumnSpec("val", Datatype.double),
]

AGGS = [
    AggSpec("n", "count"),
    AggSpec("total", "sum", "val"),
    AggSpec("mean", "avg", "val"),
    AggSpec("lo", "min", "val"),
    AggSpec("hi", "max", "val"),
]


def rows(spark, *triples):
    return spark.createDataFrame(
        [Row(id=i, grp=g, val=v) for (i, g, v) in triples],
        "id bigint, grp string, val double",
    )


@pytest.fixture
def mv_pair(spark, tmp_path):
    def make(data, aggs=AGGS, group=("grp",)):
        base = CowTable.create(
            spark, str(tmp_path / "base"), data, keys=("id",), target_files=2
        )
        mv = MaterializedView(
            spark, base, str(tmp_path / "mv"), list(group), aggs
        )
        mv.build()
        return base, mv

    return make


def as_map(df):
    return {
        r["grp"]: (r["n"], r["total"], r["mean"], r["lo"], r["hi"])
        for r in df.collect()
    }


def expect(base, mv):
    """Ground truth: full aggregate over the base's current snapshot."""
    truth = (
        base.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("total"),
            F.avg("val").alias("mean"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        )
    )
    assert as_map(mv.read()) == as_map(truth)


def test_incremental_equals_rebuild_across_churn(spark, mv_pair):
    base, mv = mv_pair(rows(
        spark,
        (1, "a", 1.0), (2, "a", 5.0), (3, "a", 9.0),
        (4, "b", 2.0), (5, "b", 4.0),
        (6, "c", 7.0),
    ))
    expect(base, mv)
    # churn 1: update a value upward, insert a new group, insert into b
    base.merge(
        rows(spark, (2, "a", 6.0), (7, "d", 3.0), (8, "b", 0.5)),
        COLS, deterministic=True,
    )
    r1 = mv.refresh()
    assert r1["refreshed"]
    expect(base, mv)
    # churn 2: delete one row of b, delete group c entirely (DV mode)
    base.delete(F.col("id").isin(5, 6), mode="dv")
    mv.refresh()
    expect(base, mv)
    assert "c" not in as_map(mv.read())
    # churn 3: reinsert into the tombstoned group
    base.merge(rows(spark, (9, "c", 11.0)), COLS, deterministic=True)
    mv.refresh()
    expect(base, mv)
    assert as_map(mv.read())["c"][0] == 1


def test_noop_refresh(spark, mv_pair):
    base, mv = mv_pair(rows(spark, (1, "a", 1.0)))
    assert mv.refresh() == {"refreshed": False, "base_version": base.version}


def test_dirty_recompute_only_when_bound_ties(spark, mv_pair):
    base, mv = mv_pair(rows(
        spark, (1, "a", 1.0), (2, "a", 5.0), (3, "a", 9.0)
    ))
    # removing the middle value touches neither bound -> pure delta
    base.delete(F.col("id") == 2)
    r = mv.refresh()
    assert r["groups_recomputed"] == 0
    expect(base, mv)
    # removing the minimum ties the stored bound -> exact recompute
    base.delete(F.col("id") == 1)
    r = mv.refresh()
    assert r["groups_recomputed"] == 1
    expect(base, mv)
    assert as_map(mv.read())["a"][3] == 9.0


def test_update_preimage_triggers_bound_maintenance(spark, mv_pair):
    base, mv = mv_pair(rows(
        spark, (1, "a", 1.0), (2, "a", 5.0)
    ))
    # raising the min row's value: pre-image removes the stored min
    base.merge(rows(spark, (1, "a", 8.0)), COLS, deterministic=True)
    r = mv.refresh()
    assert r["groups_recomputed"] == 1
    expect(base, mv)
    m = as_map(mv.read())["a"]
    assert (m[3], m[4]) == (5.0, 8.0)


def test_all_null_values_group(spark, mv_pair):
    base, mv = mv_pair(rows(
        spark, (1, "a", None), (2, "a", None), (3, "b", 4.0)
    ))
    m = as_map(mv.read())
    assert m["a"] == (2, None, None, None, None)
    # group b loses its only non-null value via update-to-null?  A null
    # batch value under newest_non_null keeps the old — churn instead by
    # deleting the non-null row and inserting a null one
    base.delete(F.col("id") == 3)
    base.merge(rows(spark, (4, "b", None)), COLS, deterministic=True)
    mv.refresh()
    m = as_map(mv.read())
    assert m["b"] == (1, None, None, None, None)
    expect(base, mv)


def test_tombstone_purge(spark, mv_pair):
    base, mv = mv_pair(rows(spark, (1, "a", 1.0), (2, "b", 2.0)))
    base.delete(F.col("grp") == "a")
    mv.refresh(purge_tombstones=True)
    assert as_map(mv.read()) == {"b": (1, 2.0, 2.0, 2.0, 2.0)}
    # purge removed the tombstone row physically
    assert mv.table.read().count() == 1


def test_wal_recovery_merge_landed(spark, mv_pair):
    """Crash after the MV merge committed but before finalize: recovery
    must NOT re-apply the span (double-count)."""
    base, mv = mv_pair(rows(spark, (1, "a", 1.0), (2, "a", 2.0)))
    base.merge(rows(spark, (3, "a", 3.0)), COLS, deterministic=True)
    applied_before = mv._load_state()["applied_base"]
    mv.refresh()
    good = as_map(mv.read())
    # simulate the lost finalize: pending points at the pre-merge parent
    mv._save_state({
        "applied_base": applied_before,
        "pending": {"base_to": base.version, "parent": mv.table.version - 1},
    })
    r = mv.refresh()
    assert r == {"refreshed": False, "base_version": base.version}
    assert as_map(mv.read()) == good
    assert mv._load_state() == {
        "applied_base": base.version, "pending": None
    }


def test_wal_recovery_merge_lost(spark, mv_pair):
    """Crash before the MV merge committed: recovery replays the span."""
    base, mv = mv_pair(rows(spark, (1, "a", 1.0)))
    base.merge(rows(spark, (2, "a", 9.0)), COLS, deterministic=True)
    # a refresh that wrote its WAL entry and died before merging
    mv._save_state({
        "applied_base": mv._load_state()["applied_base"],
        "pending": {"base_to": base.version, "parent": mv.table.version},
    })
    r = mv.refresh()
    assert r["refreshed"]
    expect(base, mv)


def test_vacuum_fallback_resync(spark, mv_pair):
    base, mv = mv_pair(rows(
        spark, (1, "a", 1.0), (2, "b", 2.0)
    ))
    base.merge(rows(spark, (3, "a", 3.0)), COLS, deterministic=True)
    base.delete(F.col("grp") == "b")
    base.merge(rows(spark, (4, "c", 4.0)), COLS, deterministic=True)
    # drop the feed span the MV would need
    base.vacuum(keep_versions=1, retention_seconds=0)
    r = mv.refresh()
    assert r.get("resync") is True
    expect(base, mv)
    assert "b" not in as_map(mv.read())
    # after the resync the feed resumes incrementally
    base.merge(rows(spark, (5, "c", 6.0)), COLS, deterministic=True)
    r = mv.refresh()
    assert "resync" not in r
    expect(base, mv)


def test_refresh_reads_only_touched_groups(spark, tmp_path):
    """The MV-side read prunes to the delta's groups: the pruned current
    slice must stay small (broadcast-sized) — pin via the join input,
    not wall time: count rows the refresh's cur_small semi-join keeps."""
    data = rows(spark, *[(i, f"g{i % 50}", float(i)) for i in range(500)])
    base = CowTable.create(
        spark, str(tmp_path / "base"), data, keys=("id",), target_files=2
    )
    mv = MaterializedView(
        spark, base, str(tmp_path / "mv"), ["grp"], AGGS
    )
    mv.build()
    # touch exactly one group
    base.merge(
        rows(spark, (1000, "g7", 1.5)), COLS, deterministic=True
    )
    feed = base.read_changes(mv._load_state()["applied_base"])
    touched = feed.select("grp").distinct()
    cur_small = mv.table.read().join(touched, "grp", "left_semi")
    assert cur_small.count() == 1  # of 50 stored groups
    # single-group refresh prunes MV FILES through the manifest's key
    # ranges, not just rows: the refresh never scans untouched files
    pruned = mv.table.read_join_pruned(touched, "grp")
    assert 0 < len(pruned.inputFiles()) < len(
        mv.table._manifest()["files"]
    )
    mv.refresh()
    truth = {
        r["grp"]: r["n"]
        for r in base.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["grp"]: r["n"] for r in mv.read().collect()} == truth


def test_null_group_key_rejected(spark, tmp_path):
    data = rows(spark, (1, None, 1.0), (2, "a", 2.0))
    base = CowTable.create(
        spark, str(tmp_path / "base"), data, keys=("id",), target_files=1
    )
    mv = MaterializedView(spark, base, str(tmp_path / "mv"), ["grp"], AGGS)
    with pytest.raises(ValueError, match="non-NULL"):
        mv.build()


def test_bad_specs_rejected(spark, tmp_path):
    data = rows(spark, (1, "a", 1.0))
    base = CowTable.create(
        spark, str(tmp_path / "base"), data, keys=("id",), target_files=1
    )
    with pytest.raises(ValueError, match="unsupported aggregate"):
        AggSpec("x", "median", "val")
    with pytest.raises(ValueError, match="needs a base column"):
        AggSpec("x", "sum")
    mv = MaterializedView(
        spark, base, str(tmp_path / "mv"), ["grp"],
        [AggSpec("s", "sum", "grp")],
    )
    with pytest.raises(ValueError, match="numeric"):
        mv.build()
    with pytest.raises(ValueError, match="distinct from group"):
        MaterializedView(
            spark, base, str(tmp_path / "mv2"), ["grp"],
            [AggSpec("grp", "count")],
        )


def test_string_min_max(spark, mv_pair):
    base, mv = mv_pair(
        rows(spark, (1, "a", 1.0), (2, "a", 2.0)),
        aggs=[AggSpec("n", "count"),
              AggSpec("first_id", "min", "grp"),
              AggSpec("last_id", "max", "grp")],
        group=("grp",),
    )
    out = {r["grp"]: (r["first_id"], r["last_id"]) for r in mv.read().collect()}
    assert out == {"a": ("a", "a")}


def test_stream_mv_maintenance_ticks_and_exactly_once(
    spark, tmp_path, mv_pair
):
    """The commit-log stream triggers incremental refreshes; a wiped
    stream checkpoint redelivers every manifest but the MV's WAL makes
    the replay a no-op (exactly-once composes); a tick with no new
    commits refreshes nothing."""
    from openverse_catalog_spark.streaming.incremental import (
        stream_mv_maintenance,
    )

    base, mv = mv_pair(rows(
        spark, (1, "a", 1.0), (2, "a", 5.0), (3, "b", 2.0)
    ))
    ckpt = str(tmp_path / "maint_ckpt")

    base.merge(rows(spark, (4, "b", 9.0), (2, "a", 7.0)), COLS,
               deterministic=True)
    res = stream_mv_maintenance(mv, ckpt)
    assert res["refreshes"] >= 1
    assert res["applied_base"] == base.version
    expect(base, mv)
    v_after = mv.table.version

    # caught up: another tick sees no new manifests -> no refresh
    res2 = stream_mv_maintenance(mv, ckpt)
    assert res2["ticks"] == 0 and res2["refreshes"] == 0
    assert mv.table.version == v_after

    # wiped checkpoint: every manifest redelivers, the MV WAL no-ops
    shutil.rmtree(ckpt)
    res3 = stream_mv_maintenance(mv, str(tmp_path / "maint_ckpt"))
    assert res3["ticks"] >= 1 and res3["refreshes"] == 0
    assert mv.table.version == v_after
    expect(base, mv)

    # a delete commit arrives through the SAME stream
    base.delete(F.col("grp") == "a")
    res4 = stream_mv_maintenance(mv, ckpt)
    assert res4["refreshes"] == 1
    expect(base, mv)


def test_join_mv_incremental_both_feeds(spark, tmp_path):
    """JoinMaterializedView: refresh after churn on BOTH bases equals
    the full recompute — left updates/inserts/deletes, right attribute
    change (fanout to every referencing left row), right join-value
    insert that revives inner-join-dropped left rows, and a right
    delete that kills them again."""
    from openverse_catalog_spark.operators.matview import (
        JoinMaterializedView,
    )
    from openverse_catalog_spark.operators.cowtable import CowTable
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    left = CowTable.create(
        spark, str(tmp_path / "l"),
        spark.createDataFrame(
            [(f"i{n:02d}", n % 4, 10.0 * n) for n in range(20)],
            "iid string, cat int, price double",
        ),
        keys=("iid",), target_files=3,
    )
    right = CowTable.create(
        spark, str(tmp_path / "r"),
        spark.createDataFrame(
            [(0, "zero"), (1, "one"), (2, "two")],  # cat 3 missing
            "cat int, label string",
        ),
        keys=("cat",), target_files=1,
    )
    mv = JoinMaterializedView(
        spark, left, right, str(tmp_path / "mv"), on=["cat"], how="inner"
    )
    mv.build()
    assert mv.read().count() == 15  # cat 3 rows drop

    lcols = [
        ColumnSpec("iid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("cat", Datatype.int),
        ColumnSpec("price", Datatype.double),
    ]
    rcols = [
        ColumnSpec("cat", Datatype.int,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("label", Datatype.char),
    ]
    # left churn: price update, category move, insert, delete
    left.merge(
        spark.createDataFrame(
            [("i00", 0, 999.0), ("i01", 2, 10.0), ("i99", 1, 5.0)],
            "iid string, cat int, price double",
        ),
        lcols, deterministic=True,
    )
    left.delete(F.col("iid") == "i04")
    # right churn: label change (fanout), NEW join value 3 (revives
    # the cat-3 left rows an inner join dropped)
    right.merge(
        spark.createDataFrame(
            [(1, "ONE"), (3, "three")], "cat int, label string"
        ),
        rcols, deterministic=True,
    )
    res = mv.refresh()
    assert res["refreshed"]

    def full():
        return {
            (r["iid"], r["cat"], r["price"], r["label"])
            for r in left.read().join(right.read(), "cat").select(
                "iid", "cat", "price", "label"
            ).collect()
        }

    got = {
        (r["iid"], r["cat"], r["price"], r["label"])
        for r in mv.read().collect()
    }
    assert got == full()
    assert ("i00", 0, 999.0, "zero") in got
    assert ("i03", 3, 30.0, "three") in got  # revived by right insert
    assert not any(t[0] == "i04" for t in got)

    # right delete kills the revived rows again
    right.delete(F.col("cat") == 3)
    mv.refresh()
    assert {t for t in mv.read().collect() if t["cat"] == 3} == set()
    got = {
        (r["iid"], r["cat"], r["price"], r["label"])
        for r in mv.read().collect()
    }
    assert got == full()

    # no-churn refresh is a no-op
    assert mv.refresh()["refreshed"] is False

    # idempotent replay: clobber the state back and refresh again —
    # same final rows (crash between merge and state save is safe)
    mv._save_state({"applied_left": 1, "applied_right": 1})
    mv.refresh()
    assert {
        (r["iid"], r["cat"], r["price"], r["label"])
        for r in mv.read().collect()
    } == full()

    # right uniqueness is enforced on the dirty values at refresh
    import pytest

    right.merge(
        spark.createDataFrame([(2, "dup")], "cat int, label string"),
        rcols, deterministic=True, dedupe_source_on_url=False,
    )
    # force a duplicate by inserting a second row with the same cat via
    # a fresh key on the right table -> needs distinct keys; instead
    # simulate with a non-unique right base for a new MV
    bad_right = CowTable.create(
        spark, str(tmp_path / "r2"),
        spark.createDataFrame(
            [(100, 0, "a"), (101, 0, "b")], "rk int, cat int, label string"
        ),
        keys=("rk",), target_files=1,
    )
    with pytest.raises(ValueError, match="not unique per join value"):
        JoinMaterializedView(
            spark, left, bad_right, str(tmp_path / "mv2"), on=["cat"]
        ).build()


def test_refresh_survives_oversized_dirty_set(spark, mv_pair, tmp_path):
    """Broadcast guard: a dirty set past ``broadcastMaxRows`` must NOT
    be broadcast-hinted — with AQE broadcasting also disabled the
    refresh has to complete through shuffle joins and still equal the
    full recompute. Pins the What's-wrong-#1 fix: churn-sized relations
    only carry the hint when measured small."""
    from openverse_catalog_spark.operators.matview import (
        JoinMaterializedView,
        _hint_if_small,
    )

    # unit: above the bound the hint is dropped (plan has no hint node)
    df = rows(spark, (1, "a", 1.0), (2, "b", 2.0))
    hinted = _hint_if_small(df, 2, 10)
    unhinted = _hint_if_small(df, 11, 10)
    assert "Hint broadcast" in (
        hinted._jdf.queryExecution().logical().toString()
    )
    assert unhinted is df

    old_bmax = spark.conf.get("spark.openverse.mv.broadcastMaxRows", None)
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.openverse.mv.broadcastMaxRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base, mv = mv_pair(rows(
            spark,
            (1, "a", 1.0), (2, "a", 5.0), (3, "b", 2.0), (4, "c", 7.0),
        ))
        # churn touching every group (worst case: dirty set == table)
        base.merge(
            rows(spark, (1, "a", 9.0), (5, "b", 0.5), (6, "d", 3.0)),
            COLS, deterministic=True,
        )
        base.delete(F.col("id") == 4)  # min/max dirty-recompute path too
        r = mv.refresh()
        assert r["refreshed"]
        expect(base, mv)

        left = CowTable.create(
            spark, str(tmp_path / "gl"),
            spark.createDataFrame(
                [(f"k{n}", n % 3, float(n)) for n in range(12)],
                "iid string, cat int, price double",
            ),
            keys=("iid",), target_files=2,
        )
        right = CowTable.create(
            spark, str(tmp_path / "gr"),
            spark.createDataFrame(
                [(0, "x"), (1, "y"), (2, "z")], "cat int, label string"
            ),
            keys=("cat",), target_files=1,
        )
        jmv = JoinMaterializedView(
            spark, left, right, str(tmp_path / "gmv"), on=["cat"]
        )
        jmv.build()
        # churn BOTH sides so every guarded join site executes
        left.merge(
            spark.createDataFrame(
                [("k0", 2, 99.0), ("k99", 1, 1.0)],
                "iid string, cat int, price double",
            ),
            [
                ColumnSpec("iid", Datatype.char,
                           upsert_strategy=UpsertStrategy.no_change),
                ColumnSpec("cat", Datatype.int),
                ColumnSpec("price", Datatype.double),
            ],
            deterministic=True,
        )
        right.merge(
            spark.createDataFrame([(1, "Y")], "cat int, label string"),
            [
                ColumnSpec("cat", Datatype.int,
                           upsert_strategy=UpsertStrategy.no_change),
                ColumnSpec("label", Datatype.char),
            ],
            deterministic=True,
        )
        assert jmv.refresh()["refreshed"]
        got = {
            (r["iid"], r["cat"], r["price"], r["label"])
            for r in jmv.read().collect()
        }
        want = {
            (r["iid"], r["cat"], r["price"], r["label"])
            for r in left.read().join(right.read(), "cat")
            .select("iid", "cat", "price", "label").collect()
        }
        assert got == want
    finally:
        if old_bmax is None:
            spark.conf.unset("spark.openverse.mv.broadcastMaxRows")
        else:
            spark.conf.set("spark.openverse.mv.broadcastMaxRows", old_bmax)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)


def test_join_agg_mv_refresh_equals_rebuild(spark, tmp_path):
    """JoinAggMaterializedView: GROUP BY over a join, maintained
    incrementally through churn on BOTH bases (fact update/insert/
    delete; dimension attribute rewrite moving rows between groups and
    a dimension delete removing whole groups) — every refresh must
    equal a from-scratch rebuild of the same aggregate."""
    from openverse_catalog_spark.operators.matview import (
        AggSpec,
        JoinAggMaterializedView,
    )

    left = CowTable.create(
        spark, str(tmp_path / "l"),
        spark.createDataFrame(
            [(f"i{n:02d}", n % 4, 10.0 * (n + 1)) for n in range(20)],
            "iid string, cat int, price double",
        ),
        keys=("iid",), target_files=3,
    )
    right = CowTable.create(
        spark, str(tmp_path / "r"),
        spark.createDataFrame(
            [(0, "zero"), (1, "one"), (2, "two")],  # cat 3 missing
            "cat int, label string",
        ),
        keys=("cat",), target_files=1,
    )
    mv = JoinAggMaterializedView(
        spark, left, right, str(tmp_path / "mv"), on=["cat"],
        group_cols=["label"],
        aggs=[
            AggSpec("n", "count"),
            AggSpec("total", "sum", "price"),
            AggSpec("lo", "min", "price"),
            AggSpec("hi", "max", "price"),
        ],
    )
    mv.build()

    def truth():
        return {
            r["label"]: (r["n"], r["total"], r["lo"], r["hi"])
            for r in left.read().join(right.read(), "cat")
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("price").alias("total"),
                F.min("price").alias("lo"),
                F.max("price").alias("hi"),
            ).collect()
        }

    def got():
        return {
            r["label"]: (r["n"], r["total"], r["lo"], r["hi"])
            for r in mv.read().collect()
        }

    assert got() == truth()

    lcols = [
        ColumnSpec("iid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("cat", Datatype.int),
        ColumnSpec("price", Datatype.double),
    ]
    rcols = [
        ColumnSpec("cat", Datatype.int,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("label", Datatype.char),
    ]
    # fact churn: min-holder delete (dirty recompute), category move,
    # insert, price update
    left.merge(
        spark.createDataFrame(
            [("i00", 0, 999.0), ("i01", 2, 5.0), ("i99", 1, 1.0)],
            "iid string, cat int, price double",
        ),
        lcols, deterministic=True,
    )
    left.delete(F.col("iid") == "i04")
    r1 = mv.refresh()
    assert r1["join"]["refreshed"] and r1["agg"]["refreshed"]
    assert got() == truth()

    # dimension churn: label rewrite moves EVERY cat-1 row between
    # groups; new join value revives dropped facts; then kill it again
    right.merge(
        spark.createDataFrame(
            [(1, "ONE"), (3, "three")], "cat int, label string"
        ),
        rcols, deterministic=True,
    )
    r2 = mv.refresh()
    assert r2["join"]["refreshed"] and r2["agg"]["refreshed"]
    t2 = truth()
    assert got() == t2 and "ONE" in t2 and "one" not in t2

    right.delete(F.col("cat") == 3)
    mv.refresh()
    assert got() == truth()

    # no-churn refresh is a no-op on both stages
    r4 = mv.refresh()
    assert not r4["join"]["refreshed"] and not r4["agg"]["refreshed"]


def test_composite_group_key_mv(spark, tmp_path):
    """A COMPOSITE group key flows through the whole incremental MV
    path (delta apply, composite-key file pruning, dirty recompute) and
    still equals the full recompute."""
    base = CowTable.create(
        spark, str(tmp_path / "cb"),
        spark.createDataFrame(
            [(i, f"g{i % 5}", f"s{i % 3}", float(i)) for i in range(60)],
            "id bigint, grp string, sub string, val double",
        ),
        keys=("id",), target_files=2,
    )
    mv = MaterializedView(
        spark, base, str(tmp_path / "cmv"), ["grp", "sub"],
        [AggSpec("n", "count"), AggSpec("total", "sum", "val"),
         AggSpec("lo", "min", "val")],
    )
    mv.build()
    cols = [
        ColumnSpec("id", Datatype.int, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("grp", Datatype.char),
        ColumnSpec("sub", Datatype.char),
        ColumnSpec("val", Datatype.double),
    ]
    base.merge(
        spark.createDataFrame(
            [(100, "g1", "s2", 7.5), (3, "g3", "s0", 0.25)],
            "id bigint, grp string, sub string, val double",
        ),
        cols, deterministic=True,
    )
    base.delete(F.col("id") == 10)  # min-holder of (g0, s1)
    mv.refresh()

    def snap(df):
        return {
            (r["grp"], r["sub"]): (r["n"], r["total"], r["lo"])
            for r in df.collect()
        }

    truth = base.read().groupBy("grp", "sub").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("total"),
        F.min("val").alias("lo"),
    )
    assert snap(mv.read()) == snap(truth)


def test_mv_refresh_rejects_null_group_keys(spark, tmp_path):
    """Runtime guard: _validate checks the base at BUILD, but churn can
    introduce NULL group keys later (the LEFT-join feed case); refresh
    must fail loudly instead of merging a NULL group."""
    import pytest
    from pyspark.sql import functions as F

    from openverse_catalog_spark.operators.cowtable import CowTable
    from openverse_catalog_spark.operators.matview import (
        AggSpec,
        MaterializedView,
    )
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    base = CowTable.create(
        spark, str(tmp_path / "b"),
        spark.createDataFrame(
            [(f"k{n}", f"g{n % 3}", float(n)) for n in range(12)],
            "k string, grp string, v double",
        ),
        keys=("k",), target_files=1,
    )
    mv = MaterializedView(
        spark, base, str(tmp_path / "mv"), ["grp"],
        [AggSpec("n", "count", None), AggSpec("total", "sum", "v")],
    )
    mv.build()
    cols = [
        ColumnSpec("k", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("grp", Datatype.char),
        ColumnSpec("v", Datatype.double),
    ]
    base.merge(
        spark.createDataFrame(
            [("kx", None, 99.0)], "k string, grp string, v double"
        ),
        cols, deterministic=True,
    )
    with pytest.raises(ValueError, match="NULL group keys"):
        mv.refresh()
    # cleaning the offending churn lets refresh proceed
    base.delete(F.col("k") == "kx")
    res = mv.refresh()
    assert res["refreshed"] is True or res["refreshed"] is False
    got = {r["grp"]: r["n"] for r in mv.read().collect()}
    assert got == {"g0": 4, "g1": 4, "g2": 4}


def test_capped_refresh_pins_unpublished_head(spark, mv_pair):
    """refresh(to_version=pin) must leave versions past the pin
    invisible in the view; an uncapped refresh past a later cap then
    refuses — the catalog-pin discipline the index family enforces,
    extended to MVs."""
    base, mv = mv_pair(rows(spark, (1, "a", 1.0), (2, "b", 2.0)))
    pin = base.version
    base.merge(rows(spark, (3, "a", 10.0)), COLS)  # unpublished
    r = mv.refresh(to_version=pin)
    assert not r["refreshed"] and r["base_version"] == pin
    assert as_map(mv.read())["a"][0] == 1  # the 10.0 row is invisible
    # uncapped consumes the head; a later capped call refuses
    mv.refresh()
    with pytest.raises(ValueError, match="past the requested cap"):
        mv.refresh(to_version=pin)


def test_stream_mv_maintenance_enforces_catalog_pin(spark, tmp_path):
    """A catalog-managed base (marker) refuses unpinned streamed MV
    maintenance; with pin_fn the view caps at the published version."""
    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.streaming.incremental import (
        stream_mv_maintenance,
    )

    base = CowTable.create(
        spark, str(tmp_path / "base"),
        rows(spark, (1, "a", 1.0), (2, "b", 2.0)),
        keys=("id",),
    )
    mv = MaterializedView(
        spark, base, str(tmp_path / "mv"), ["grp"], AGGS
    )
    mv.build()
    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    cat.register("base", base)
    pin = cat._entry("base")["version"]
    base.merge(rows(spark, (3, "a", 10.0)), COLS)  # unpublished
    with pytest.raises(ValueError, match="catalog-managed"):
        stream_mv_maintenance(mv, str(tmp_path / "ck1"))
    r = stream_mv_maintenance(
        mv, str(tmp_path / "ck2"), pin_fn=lambda: pin
    )
    assert r["applied_base"] == pin
    assert as_map(mv.read())["a"][0] == 1
    # the opt-out works
    r2 = stream_mv_maintenance(
        mv, str(tmp_path / "ck3"), allow_unpinned=True
    )
    assert r2["applied_base"] == base.version


def test_facade_refresh_mv_caps_at_catalog_pin(spark, tmp_path):
    """REFRESH MATERIALIZED VIEW over a catalog-managed base advances
    only to the published pin; inside an explicit transaction it is
    refused outright."""
    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.sql_facade import SqlFacade

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    base = CowTable.create(
        spark, str(tmp_path / "base"),
        rows(spark, (1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)),
        keys=("id",),
    )
    cat.register("t", base)
    f = SqlFacade(spark, workdir=str(tmp_path / "wd"))
    f.attach_catalog(cat, columns={"t": COLS})
    f.sql(
        "CREATE MATERIALIZED VIEW m AS "
        "SELECT grp, count(*) AS n, sum(val) AS total FROM t GROUP BY grp"
    )
    f.sql("BEGIN TRANSACTION")
    f.sql("INSERT INTO t SELECT 9 AS id, 'a' AS grp, 50.0 AS val")
    with pytest.raises(ValueError, match="inside an explicit transaction"):
        f.sql("REFRESH MATERIALIZED VIEW m")
    f.sql("ROLLBACK")
    # outside a txn: unpublished raw-head versions (none now — rollback
    # restored the head) and future txn writes stay capped at the pin
    r = f.sql("REFRESH MATERIALIZED VIEW m").head()
    assert r["base_version"] == cat._entry("t")["version"]


def test_join_mv_capped_refresh_and_facade_pins(spark, tmp_path):
    """Join-MV side caps: refresh(to_left/to_right) pins each side,
    past-cap refuses per side; the facade resolves BOTH pins for a
    join MV over catalog-managed bases and CREATE builds at the pins
    (a raw head carrying unpublished writes must neither bake into the
    build nor strand the view past later capped refreshes)."""
    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.operators.matview import (
        JoinMaterializedView,
    )
    from openverse_catalog_spark.sql_facade import SqlFacade

    left = CowTable.create(
        spark, str(tmp_path / "l"),
        spark.createDataFrame(
            [(f"i{n:02d}", n % 2, 10.0 * n) for n in range(8)],
            "iid string, cat bigint, price double",
        ),
        keys=("iid",), target_files=2,
    )
    right = CowTable.create(
        spark, str(tmp_path / "r"),
        spark.createDataFrame(
            [(0, "zero"), (1, "one")], "cat bigint, label string",
        ),
        keys=("cat",),
    )
    mv = JoinMaterializedView(
        spark, left, right, str(tmp_path / "mv"), on=["cat"],
        how="inner",
    )
    mv.build()
    lpin, rpin = left.version, right.version
    left.merge_when(spark.createDataFrame(
        [("i99", 0, 990.0)], "iid string, cat bigint, price double"),
        insert=True)
    right.update(F.col("cat") == 0, {"label": F.lit("ZERO")})
    r = mv.refresh(to_left=lpin, to_right=rpin)
    assert not r["refreshed"]
    assert mv.read().filter(F.col("iid") == "i99").count() == 0
    assert mv.read().filter(F.col("label") == "ZERO").count() == 0
    mv.refresh()  # uncapped consumes both heads
    with pytest.raises(ValueError, match="left .* past the requested cap"):
        mv.refresh(to_left=lpin)
    with pytest.raises(ValueError, match="right .* past the requested cap"):
        mv.refresh(to_right=rpin)

    # facade: join MV over catalog-managed bases builds AND refreshes
    # at the pins
    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    lt = CowTable.create(
        spark, str(tmp_path / "lt"),
        spark.createDataFrame(
            [("a", 0, 1.0), ("b", 1, 2.0)],
            "iid string, cat bigint, price double",
        ),
        keys=("iid",),
    )
    rt = CowTable.create(
        spark, str(tmp_path / "rt"),
        spark.createDataFrame(
            [(0, "zero"), (1, "one")], "cat bigint, label string",
        ),
        keys=("cat",),
    )
    cat.register("lt", lt)
    cat.register("rt", rt)
    f = SqlFacade(spark, workdir=str(tmp_path / "wd"))
    f.attach_catalog(cat)
    # raw-head drift past the pin before CREATE: the build must not see it
    lt.merge_when(spark.createDataFrame(
        [("zz", 0, 99.0)], "iid string, cat bigint, price double"),
        insert=True)
    f.sql(
        "CREATE MATERIALIZED VIEW jm AS "
        "SELECT * FROM lt JOIN rt ON lt.cat = rt.cat"
    )
    assert f.sql("SELECT * FROM jm WHERE iid = 'zz'").count() == 0
    # and REFRESH stays capped at the pins (no past-cap brick)
    r2 = f.sql("REFRESH MATERIALIZED VIEW jm").head()
    assert r2["left_version"] == cat._entry("lt")["version"]


# -- job budgets of a warm refresh ------------------------------------------

_GS_COLS = [
    ColumnSpec("id", Datatype.int, required=True,
               upsert_strategy=UpsertStrategy.no_change),
    ColumnSpec("grp", Datatype.char),
    ColumnSpec("sub", Datatype.char),
    ColumnSpec("val", Datatype.double),
]
_GS = "id bigint, grp string, sub string, val double"

#: Spark jobs of a warm ``MaterializedView.refresh`` after one upsert +
#: min-holder delete, by group key (measured on the 60-row fixture). The
#: base has no stats on the group columns, so the dirty-group recompute
#: takes the refresh's own size-guarded semi-join for either key.
_MV_REFRESH_JOBS = {("grp",): 13, ("grp", "sub"): 15}
#: Spark jobs of a warm ``JoinMaterializedView.refresh`` with both feeds
#: non-empty
_JOIN_MV_REFRESH_JOBS = 23


@pytest.mark.parametrize("group", sorted(_MV_REFRESH_JOBS))
def test_mv_warm_refresh_job_budget(spark, tmp_path, jobs_of, group):
    """A warm refresh whose delete removes a group's min holder runs the
    whole path: delta aggregate, pruned read of the touched view groups,
    dirty-group recompute over the base, one merge."""
    base = CowTable.create(
        spark, str(tmp_path / "b"),
        spark.createDataFrame(
            [(i, f"g{i % 5}", f"s{i % 3}", float(i)) for i in range(60)], _GS
        ),
        keys=("id",), target_files=2,
    )
    mv = MaterializedView(
        spark, base, str(tmp_path / "mv"), list(group),
        [AggSpec("n", "count"), AggSpec("total", "sum", "val"),
         AggSpec("lo", "min", "val")],
    )
    mv.build()
    for i, victim in enumerate((0, 5)):  # min holders of g0 / (g0, s*)
        base.merge(
            spark.createDataFrame(
                [(100 + i, "g1", "s2", 7.5), (3, "g3", "s0", 0.25 + i)], _GS
            ),
            _GS_COLS, deterministic=True,
        )
        base.delete(F.col("id") == victim)
        jobs = jobs_of(mv.refresh)  # the second, warm refresh is pinned
    truth = base.read().groupBy(*group).agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("total"),
        F.min("val").alias("lo"),
    )
    assert _rows(mv.read()) == _rows(truth)
    assert jobs == _MV_REFRESH_JOBS[group]


def test_join_mv_warm_refresh_job_budget(spark, tmp_path, jobs_of):
    """A warm join-view refresh with churn on both sides: the right
    feed's join values prune left files through ``cat`` stats."""
    from openverse_catalog_spark.operators.matview import (
        JoinMaterializedView,
    )

    left = CowTable.create(
        spark, str(tmp_path / "l"),
        spark.createDataFrame(
            [(f"i{n:02d}", n % 4, 10.0 * n) for n in range(40)],
            "iid string, cat int, price double",
        ),
        keys=("iid",), target_files=3, stats_cols=("cat",),
    )
    right = CowTable.create(
        spark, str(tmp_path / "r"),
        spark.createDataFrame(
            [(c, f"c{c}") for c in range(4)], "cat int, label string"
        ),
        keys=("cat",), target_files=1,
    )
    mv = JoinMaterializedView(
        spark, left, right, str(tmp_path / "mv"), on=["cat"]
    )
    mv.build()
    lcols = [
        ColumnSpec("iid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("cat", Datatype.int),
        ColumnSpec("price", Datatype.double),
    ]
    rcols = [
        ColumnSpec("cat", Datatype.int,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("label", Datatype.char),
    ]
    for i in range(2):
        left.merge(
            spark.createDataFrame(
                [(f"i{i:02d}", 2, 1.0 + i), (f"n{i}", 1, 5.0)],
                "iid string, cat int, price double",
            ),
            lcols, deterministic=True,
        )
        right.merge(
            spark.createDataFrame([(i, f"new{i}")], "cat int, label string"),
            rcols, deterministic=True,
        )
        jobs = jobs_of(mv.refresh)  # the second, warm refresh is pinned
    truth = left.read().join(right.read(), "cat").select(*mv.read().columns)
    assert _rows(mv.read()) == _rows(truth)
    assert jobs == _JOIN_MV_REFRESH_JOBS

