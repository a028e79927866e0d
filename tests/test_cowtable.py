"""Copy-on-write table: MERGE-through-manifest must be row-identical to
the plain merge compiler, skip files whose key range the batch misses,
keep old snapshots readable (time travel), and drop them on vacuum.

Reference contract: the Postgres canonical table + ON CONFLICT upsert
(loader/sql.py:264-332) with the unique-index invariants
(0003_openledger_image_schema.sql:46-54) — re-expressed as a lake-format
table because that is what the target becomes at 100 TB.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import (
    BatchSummary,
    CowTable,
    _determine_bounds,
    _hash_route_slots,
    _m3_hash_int,
)
from openverse_catalog_spark.operators.merge import merge_upsert
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)
from tests.test_merge_upsert import COLS, mk, row


def _base_rows():
    # two providers, fids spread so range clustering separates them
    rows = []
    for i in range(40):
        rows.append(
            row(
                provider="flickr" if i < 20 else "met",
                fid=f"f{i:03d}",
                url=f"http://u/{i}",
                title=f"old{i}",
            )
        )
    return rows


def _batch_rows():
    # touches ONLY met (update f020, insert f999)
    return [
        row(provider="met", fid="f020", url="http://u/20", title="updated"),
        row(provider="met", fid="f999", url="http://u/999", title="brand-new"),
    ]


def _canon(df):
    return {
        (r["provider"], r["foreign_identifier"]): r["title"]
        for r in df.collect()
    }


def test_cow_merge_equals_plain_merge(spark, tmp_path):
    tgt = mk(spark, _base_rows())
    src = mk(spark, _batch_rows())
    t = CowTable.create(spark, str(tmp_path / "tbl"), tgt, target_files=4)
    t.merge(src, COLS, deterministic=True)
    expected = merge_upsert(tgt, src, COLS, deterministic=True)
    assert _canon(t.read()) == _canon(expected)


def test_cow_merge_skips_untouched_files(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    v1_files = {e["path"] for e in t._manifest()["files"]}
    res = t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    assert res["version"] == 2 and t.version == 2
    # the flickr-only files never intersect the met batch -> carried over
    assert res["files_skipped"] > 0
    carried = {e["path"] for e in t._manifest()["files"]} & v1_files
    assert len(carried) == res["files_skipped"]
    # and every carried path is still a v1 data file (no rewrite
    # happened) — v1 paths are whatever create's attempt dir was
    v1_dirs = {p.rsplit("/", 1)[0] for p in v1_files}
    assert all(p.rsplit("/", 1)[0] in v1_dirs for p in carried)


def test_cow_time_travel_and_history(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    old = _canon(t.read(version=1))
    new = _canon(t.read())
    assert old[("met", "f020")] == "old20" and new[("met", "f020")] == "updated"
    assert ("met", "f999") not in old and new[("met", "f999")] == "brand-new"
    ops = [h["operation"] for h in t.history()]
    assert ops == ["create", "merge"]


def test_cow_url_guard_sees_untouched_partitions(spark, tmp_path):
    """A source row whose url already exists in a file the batch does NOT
    touch must be skipped — the guard runs against the full snapshot,
    not just the rewritten files (merge_upsert_pruned's invariant)."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    poison = [row(provider="met", fid="fX", url="http://u/3", title="thief")]
    t.merge(mk(spark, poison), COLS, deterministic=True)
    got = _canon(t.read())
    assert ("met", "fX") not in got  # url belongs to ("flickr","f003")
    assert got[("flickr", "f003")] == "old3"


def test_cow_vacuum_drops_old_versions(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    deleted = t.vacuum(keep_versions=1)
    # v1 files that were rewritten are gone; carried-over v1 files survive
    live = {e["path"] for e in t._manifest()["files"]}
    assert all(p not in live for p in deleted)
    assert len(deleted) > 0
    # current snapshot still fully readable
    assert _canon(t.read())[("met", "f999")] == "brand-new"
    # old manifest dropped
    import os

    assert not os.path.exists(str(tmp_path / "tbl" / "manifests" / "v1.json"))


def test_cow_empty_batch_is_noop(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    res = t.merge(mk(spark, []), COLS, deterministic=True)
    assert res["version"] == 1 and res["files_rewritten"] == 0
    assert t.version == 1
    assert len(_canon(t.read())) == 40


def test_cow_single_key_table(spark, tmp_path):
    """File skipping works with a single-column merge key."""
    df = spark.createDataFrame(
        [(f"u{i:03d}", f"T{i}") for i in range(20)], "url string, title string"
    )
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    cols = [
        ColumnSpec("url", Datatype.char, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("title", Datatype.char),
    ]
    t = CowTable.create(
        spark, str(tmp_path / "tbl1"), df, keys=("url",), target_files=4
    )
    batch = spark.createDataFrame(
        [("u003", "updated"), ("u999", "new")], "url string, title string"
    )
    res = t.merge(batch, cols, deterministic=True, dedupe_source_on_url=False,
                  guard_url_conflicts=False)
    assert res["files_skipped"] > 0
    got = {r["url"]: r["title"] for r in t.read().collect()}
    assert got["u003"] == "updated" and got["u999"] == "new" and len(got) == 21


def test_cow_compact_binpacks_small_files(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=8
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    before = _canon(t.read())
    v_before = t.version
    n_before = len(t._manifest()["files"])
    res = t.compact(target_rows=1000)  # every file is "small"
    assert res["version"] == v_before + 1
    assert res["files_written"] == 1  # 41 rows << 1000 -> one bin
    assert res["files_compacted"] == n_before
    # the data is bit-identical across the compaction commit
    assert _canon(t.read()) == before
    assert _canon(t.read(version=v_before)) == before  # time travel intact
    assert t._manifest()["rows"] == res["rows"] == len(before)


def test_cow_compact_keeps_right_sized_files(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=2
    )
    # 2 files of ~20 rows each: with target 10 both are already at size
    res = t.compact(target_rows=10)
    assert res["files_written"] == 0 and res["files_compacted"] == 0
    assert t.version == 1  # no new version for a no-op

    # with target 1000 both are small -> packed into one
    res2 = t.compact(target_rows=1000)
    assert res2["files_compacted"] == 2 and res2["files_written"] == 1
    assert t._manifest()["operation"] == "compact"


def test_cow_merge_after_compact(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.compact(target_rows=1000)
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    tgt = mk(spark, _base_rows())
    expected = merge_upsert(tgt, mk(spark, _batch_rows()), COLS, deterministic=True)
    assert _canon(t.read()) == _canon(expected)


def test_cow_restore_rolls_back_metadata_only(spark, tmp_path):
    import os

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    v1 = _canon(t.read())
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    v2 = _canon(t.read())
    assert v2 != v1

    res = t.restore(1)
    assert res["version"] == 3 and res["restored_from"] == 1
    assert _canon(t.read()) == v1            # current state is v1 again
    assert _canon(t.read(version=2)) == v2   # bad version still inspectable
    # metadata-only: no new data directory was written
    assert not os.path.exists(str(tmp_path / "tbl" / "data" / "v3"))
    assert t.history()[-1]["operation"] == "restore(v1)"

    # a merge after restore builds on the restored state
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    assert _canon(t.read()) == v2


# --- optimistic concurrency ------------------------------------------------


def test_cow_concurrent_merges_both_survive(spark, tmp_path):
    """Two writers interleave: writer A computes its merge, and between
    A's data write and manifest link, writer B commits its own merge.
    A must get CommitConflict internally, REBASE against B's snapshot
    and retry — both logical updates land, no lost update."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    b_batch = [row(provider="flickr", fid="f000", url="http://u/0", title="from-B")]
    fired = {"n": 0}

    def competing_writer():
        if fired["n"] == 0:  # only on A's first attempt
            fired["n"] += 1
            t2 = CowTable(spark, t.root)
            t2.merge(mk(spark, b_batch), COLS, deterministic=True)

    res = t.merge(
        mk(spark, _batch_rows()), COLS, deterministic=True,
        pre_commit_hook=competing_writer,
    )
    assert fired["n"] == 1
    assert res["version"] == 3  # B took v2, A rebased onto it and took v3
    got = _canon(t.read())
    assert got[("flickr", "f000")] == "from-B"      # B's update survived
    assert got[("met", "f020")] == "updated"        # A's update survived
    assert got[("met", "f999")] == "brand-new"
    # no duplicate natural keys across the snapshot
    n = t.read().count()
    assert n == t.read().select("provider", "foreign_identifier").distinct().count()


def test_cow_merge_vs_compact_conflict(spark, tmp_path):
    """A compactor racing a provider merge: the compactor loses the
    version slot, replans against the merged snapshot, and both commits
    survive with identical data."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    before_compact = _canon(t.read())
    fired = {"n": 0}

    def competing_merge():
        if fired["n"] == 0:
            fired["n"] += 1
            CowTable(spark, t.root).merge(
                mk(spark, _batch_rows()), COLS, deterministic=True
            )

    res = t.compact(target_rows=1_000_000, pre_commit_hook=competing_merge)
    assert fired["n"] == 1
    got = _canon(t.read())
    assert got[("met", "f020")] == "updated"        # merge survived
    assert got[("met", "f999")] == "brand-new"
    assert res["version"] == t.version
    # compaction is data-identical modulo the merge's rows
    expected = dict(before_compact)
    expected[("met", "f020")] = "updated"
    expected[("met", "f999")] = "brand-new"
    assert got == expected


def test_cow_conflict_exhausts_retries_and_cleans_orphans(spark, tmp_path):
    """With max_retries=0 a persistent competitor surfaces
    CommitConflict to the caller; the losing attempt's data directory
    is deleted so nothing unreferenced accretes (and vacuum sweeps any
    remains of the competitor's history)."""
    import os

    import pytest

    from openverse_catalog_spark.operators.cowtable import CommitConflict

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )

    def always_competing():
        # the competitor rewrites the SAME met file the victim's batch
        # targets (fid f020), so the conflict is genuinely overlapping
        # — the metadata-only re-link path must refuse it
        CowTable(spark, t.root).merge(
            mk(spark, [row(provider="met", fid="f020",
                           url="http://u/20", title=f"c{t.version}")]),
            COLS, deterministic=True,
        )

    with pytest.raises(CommitConflict):
        t.merge(
            mk(spark, _batch_rows()), COLS, deterministic=True,
            max_retries=0, pre_commit_hook=always_competing,
        )
    # every data dir on disk is referenced by some manifest (loser swept);
    # resolve each version (manifests may be incremental segments)
    referenced = set()
    for v in range(1, t.version + 1):
        referenced.update(
            e["path"].split("/")[1] for e in t._manifest(v)["files"]
        )
    on_disk = set(os.listdir(str(tmp_path / "tbl" / "data")))
    assert on_disk <= referenced


def test_cow_pointer_crash_rolls_forward(spark, tmp_path):
    """A writer dying between manifest link (the commit point) and the
    VERSION pointer swap must not lose its commit: the next
    reader/writer rolls the pointer forward implicitly."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    crashing = CowTable(spark, t.root)
    crashing._advance_pointer = lambda v: None  # die before pointer swap
    crashing.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    assert t._pointer() == 1          # pointer still points at v1
    assert t.version == 2             # but the commit is visible
    assert _canon(t.read())[("met", "f020")] == "updated"
    # a later commit lands at v3 and repairs the pointer
    t.merge(
        mk(spark, [row(provider="met", fid="f021", url="http://u/21b",
                       title="later")]),
        COLS, deterministic=True,
    )
    assert t._pointer() == 3 and t.version == 3


def test_cow_null_key_rows_route_to_affected_files(spark, tmp_path):
    """File skipping must not be blind to NULL key components: min/max
    stats skip NULLs, and merge_upsert matches NULL keys via eqNullSafe
    — so a NULL-fid batch row must force the files that hold NULL-fid
    target rows into the rewrite set, not insert a duplicate."""
    base = _base_rows() + [
        row(provider="met", fid=None, url="http://u/null", title="null-old")
    ]
    tgt = mk(spark, base)
    t = CowTable.create(spark, str(tmp_path / "tbl"), tgt, target_files=4)
    batch = [row(provider="met", fid=None, url="http://u/null", title="null-new")]
    t.merge(mk(spark, batch), COLS, deterministic=True)
    expected = merge_upsert(tgt, mk(spark, batch), COLS, deterministic=True)
    assert _canon(t.read()) == _canon(expected)
    # exactly one NULL-fid met row: updated, not duplicated
    nulls = t.read().filter(
        (F.col("provider") == "met") & F.col("foreign_identifier").isNull()
    ).collect()
    assert len(nulls) == 1 and nulls[0]["title"] == "null-new"


def test_cow_fully_guarded_batch_is_noop(spark, tmp_path):
    """A batch FULLY eliminated by the url-conflict guard (every row a
    url thief) must be a clean no-op commit-wise — not a crash on an
    empty data directory."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    v_before = t.version
    thieves = [
        row(provider="met", fid="fX", url="http://u/3", title="thief1"),
        row(provider="met", fid="fY", url="http://u/5", title="thief2"),
    ]
    res = t.merge(mk(spark, thieves), COLS, deterministic=True)
    assert res["version"] == v_before and t.version == v_before
    assert res["files_written"] == 0
    got = _canon(t.read())
    assert ("met", "fX") not in got and ("met", "fY") not in got


def test_read_pruned_int_keys_py4j_budget(spark, tmp_path, py4j_calls_of):
    """An int-key pruned read writes its residual ``IN`` list as one
    expression: building the read takes the same py4j round trips for
    2 000 ids as for 4 (``isin`` sent one literal per id), and a 4-id
    lookup with its collect stays within the pinned budget."""
    t = CowTable.create(
        spark, str(tmp_path / "t"),
        spark.range(400).selectExpr("id AS k", "id % 7 AS v"),
        keys=("k",), target_files=4,
    )
    few = [3, 117, 229, 341]
    many = list(range(0, 4000, 2))
    t.read_pruned(few).collect()  # warm the manifest
    assert py4j_calls_of(lambda: t.read_pruned(many)) == py4j_calls_of(
        lambda: t.read_pruned(few)
    )
    got = []
    calls = py4j_calls_of(lambda: got.extend(t.read_pruned(few).collect()))
    assert sorted(r.k for r in got) == few
    assert calls <= 27, calls


_ARROW_TYPES = (
    "k long, i int, s string, d double, f float, b boolean, dt date, "
    "ts timestamp, dec decimal(10,2), af array<float>, bin binary"
)


def _arrow_case(spark, root: str, case: str):
    """(table, columns, values, older) of one read_arrow case: the
    read is compared at the head and, unless None, at version
    ``older``."""
    import datetime
    import decimal

    def typed(i):
        if i % 7 == 3:  # a row of NULLs beside the key
            return (i, *([None] * 10))
        return (
            i, i * 3 - 40, f"s{i:03d}", i / 7 if i % 5 else float("nan"),
            i / 3, i % 2 == 0, datetime.date(2020, 1, 1 + i % 28),
            datetime.datetime(2021, 5, 1, i % 24, i % 60, 7, 123456),
            decimal.Decimal(f"{i}.{i % 100:02d}"),
            [i / 2, None, -1.5] if i % 4 else [], bytes([i % 256, 0, 7]),
        )

    typed_df = spark.createDataFrame(
        [typed(i) for i in range(60)], _ARROW_TYPES
    )
    cols = ["k", "i", "s", "d", "f", "b", "dt", "ts", "dec", "af", "bin"]
    if case in ("types", "no_file"):
        t = CowTable.create(spark, root, typed_df, keys=("k",),
                            target_files=4)
        vals = [2, 3, 17, 41, 59, 500] if case == "types" else [-9, 900]
        return t, cols, vals, None
    if case in ("dv_delete", "dv_update"):
        t = CowTable.create(spark, root, typed_df, keys=("k",),
                            target_files=3)
        if case == "dv_delete":
            t.delete((F.col("k") % 4 == 1) & (F.col("k") < 50), mode="dv")
        else:
            t.update(F.col("k").isin(5, 6, 30),
                     {"s": F.lit("upd")}, mode="dv")
        t.delete(F.col("k") == 8, mode="dv")  # a second, cumulative DV
        assert any(e.get("dv") for e in t._manifest()["files"])
        return t, ["s", "k", "af"], [1, 5, 6, 8, 9, 30, 33, 54], 2
    if case in ("rename", "add_column"):
        t = CowTable.create(
            spark, root,
            spark.range(40).selectExpr("id AS k", "id * 2 AS v",
                                       "cast(id AS string) AS s"),
            keys=("k",), target_files=2,
        )
        if case == "rename":
            t.rename_column("v", "v2")
            # the old name comes back under a fresh physical name: the
            # renamed column's data must not leak into it
            t.add_column("v", "string")
            return t, ["k", "v2", "v", "s"], [1, 7, 39], None
        t.add_column("extra", "double")
        t.merge_when(
            spark.range(35, 45).selectExpr(
                "id AS k", "id * 2 AS v", "cast(id AS string) AS s",
                "id / 4 AS extra",
            ),
            update_set="*",
        )
        return t, ["k", "extra", "s"], [1, 36, 44], 2
    if case == "null_keys":
        t = CowTable.create(
            spark, root,
            spark.createDataFrame(
                [(None if i % 9 == 0 else f"t{i:02d}", i) for i in range(30)],
                "term string, n int",
            ),
            keys=("term",), target_files=3,
        )
        return t, ["term", "n"], ["t05", None, "t27", "zz"], None
    if case == "clone":
        src = CowTable.create(spark, f"{root}_src", typed_df, keys=("k",),
                              target_files=3)
        src.delete(F.col("k") == 12, mode="dv")
        t = src.clone(root)
        assert all(e["path"].startswith("/") for e in t._manifest()["files"])
        return t, ["k", "s", "ts"], [11, 12, 13, 40], None
    if case == "partitioned":
        # files nest under partition dirs, which add no column
        t = CowTable.create(
            spark, root,
            typed_df.withColumn("p", F.concat(F.lit("p"), F.col("k") % 2)),
            keys=("k",), target_files=2,
            partition_by=("day(dt)", "identity(p)"),
        )
        return t, ["k", "p", "dt"], [1, 2, 3, 40], None
    raise AssertionError(case)


def _arrow_rows(table):
    """Rows of an Arrow table in a canonical order (repr keeps NaN
    comparable)."""
    return sorted(repr(r) for r in zip(
        *[table.column(c).to_pylist() for c in table.column_names]
    ))


@pytest.mark.parametrize("case", [
    "types", "dv_delete", "dv_update", "rename", "add_column",
    "null_keys", "clone", "partitioned", "no_file",
])
def test_read_arrow_equals_spark_read(spark, tmp_path, jobs_of, case):
    """``read_arrow(cols, values, v)`` is the driver-side twin of
    ``read_pruned(values, v).select(cols).toArrow()`` and, without
    values, of ``read(v).select(cols).toArrow()``: the same Arrow type
    and the same values in every column, for every stored type,
    deletion vectors, column mapping, a file from before ``add_column``,
    NULL keys asked for, a shallow clone's absolute paths,
    partitioned files and values that admit no file, at the head and
    at an older version. It runs no Spark job."""
    t, cols, vals, older = _arrow_case(spark, str(tmp_path / "t"), case)
    if case == "no_file":
        assert t.pruned_entries(vals) == []
    for v in (t.version, older)[: 1 if older is None else 2]:
        for values in (vals, None):
            want = (
                t.read(v) if values is None else t.read_pruned(values, v)
            ).select(*cols).toArrow()
            got = []
            assert jobs_of(
                lambda: got.append(t.read_arrow(cols, values, v))
            ) == 0
            got = got[0]
            assert got.schema == want.schema, (case, v, values)
            for c in cols:
                assert got.column(c).type == want.column(c).type, c
            assert got.num_rows == want.num_rows, (case, v, values)
            assert _arrow_rows(got) == _arrow_rows(want), (case, v, values)


def test_cow_read_pruned_scans_subset_and_is_exact(spark, tmp_path):
    """read_pruned must (a) return exactly the filtered snapshot and
    (b) physically scan only files whose key range can hold the asked
    providers — the manifest's reader-side dividend."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=8
    )
    all_files = {f"{t.root}/{e['path']}" for e in t._manifest()["files"]}
    pruned = t.read_pruned(["met"])
    expected = {
        r["foreign_identifier"]
        for r in t.read().filter(F.col("provider") == "met").collect()
    }
    assert {r["foreign_identifier"] for r in pruned.collect()} == expected
    scanned = {f.removeprefix("file://") for f in pruned.inputFiles()}
    assert scanned < all_files  # strict subset: flickr-only files skipped
    # asking for a provider that exists nowhere scans nothing
    assert t.read_pruned(["zzz"]).count() == 0
    # NULL-key request routes through null-aware entries only
    base = _base_rows() + [
        row(provider=None, fid="fn", url="http://u/n", title="nullprov")
    ]
    t2 = CowTable.create(
        spark, str(tmp_path / "tbl2"), mk(spark, base), target_files=8
    )
    got = t2.read_pruned([None]).collect()
    assert len(got) == 1 and got[0]["title"] == "nullprov"


def test_cow_concurrent_thread_merges_no_lost_update(spark, tmp_path):
    """REAL concurrency, not hook-injected: four writer threads merge
    disjoint batches into the same table simultaneously. Every commit
    slot is claimed exactly once, losers rebase and retry, and all four
    logical updates are present afterwards — the no-lost-update
    guarantee the reference gets from Postgres transactions."""
    import threading

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            batch = [
                row(provider="met", fid=f"t{i}-{j}", url=f"http://t/{i}/{j}",
                    title=f"w{i}")
                for j in range(3)
            ]
            CowTable(spark, t.root).merge(
                mk(spark, batch), COLS, deterministic=True, max_retries=8
            )
        except Exception as e:  # surface in the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert t.version == 5  # v1 create + exactly one version per writer
    got = _canon(t.read())
    for i in range(4):
        for j in range(3):
            assert got[("met", f"t{i}-{j}")] == f"w{i}"
    # every base row still present, no duplicate keys anywhere
    n = t.read().count()
    assert n == len(_base_rows()) + 12
    assert n == t.read().select("provider", "foreign_identifier").distinct().count()


def test_cow_schema_evolution_and_as_of(spark, tmp_path):
    """mergeSchema-style evolution: a merge introducing a new column is
    refused without the opt-in; with allow_new_columns=True the commit
    widens the manifest schema, old files are NOT rewritten (reads fill
    NULL by name), pruned/compacted reads stay uniform, and timestamp
    time travel (as_of) picks the pre-evolution snapshot."""
    import time

    import pytest

    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t_v1 = time.time()
    wide_cols = COLS + [ColumnSpec("rating", Datatype.int)]
    batch = mk(spark, _batch_rows()).withColumn("rating", F.lit(5))

    with pytest.raises(ValueError, match="allow_new_columns"):
        t.merge(batch, wide_cols, deterministic=True)

    res = t.merge(batch, wide_cols, deterministic=True, allow_new_columns=True)
    assert res["version"] == 2
    got = {r["foreign_identifier"]: r for r in t.read().collect()}
    assert got["f999"]["rating"] == 5            # new row carries the column
    assert got["f000"]["rating"] is None         # old file reads NULL by name
    assert got["f020"]["title"] == "updated"
    # old files were carried by reference, not rewritten
    assert res["files_skipped"] > 0
    # pruned read over mixed-schema files stays uniform
    pruned = t.read_pruned(["met"])
    assert "rating" in pruned.columns and pruned.count() == 21
    # compaction across pre/post-evolution files works
    t.compact(target_rows=1000)
    assert {r["foreign_identifier"]: r["rating"] for r in t.read().collect()}[
        "f999"
    ] == 5
    # timestamp time travel: as_of before the evolution sees v1's schema
    old = t.read(as_of=t_v1)
    assert "rating" not in old.columns and old.count() == 40
    with pytest.raises(ValueError, match="no commit"):
        t.read(as_of=0.0)


def test_cow_stale_tmp_manifest_is_harmless_and_swept(spark, tmp_path):
    """A writer that dies between manifest tmp-write and link leaves a
    .tmp.*.json behind: it must never be read as a commit (history /
    version / as_of / vacuum ignore it) and vacuum sweeps it."""
    import os

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    stale = str(tmp_path / "tbl" / "manifests" / ".tmp.deadbeef.json")
    with open(stale, "w") as f:
        f.write("{not json")
    assert t.version == 1
    assert [h["operation"] for h in t.history()] == ["create"]
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    assert t.version == 2
    # default retention keeps a YOUNG tmp (it could be a live writer's
    # in-flight manifest); retention 0 is the offline-cleanup mode
    t.vacuum(keep_versions=2)
    assert os.path.exists(stale)
    t.vacuum(keep_versions=2, retention_seconds=0.0)
    assert not os.path.exists(stale)


def test_cow_update_rewrites_only_touched_files(spark, tmp_path):
    """Predicated UPDATE (batched_update analog): matching rows get the
    new value, non-matching rows — in touched files too — carry
    unchanged, and files with no match carry by reference."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    res = t.update(
        F.col("foreign_identifier") == "f025",
        {"title": F.concat(F.lit("FIXED-"), F.col("foreign_identifier"))},
    )
    assert res["files_rewritten"] >= 1 and res["files_skipped"] >= 1
    got = _canon(t.read())
    assert got[("met", "f025")] == "FIXED-f025"
    assert got[("met", "f021")] == "old21"        # same file, untouched row
    assert got[("flickr", "f000")] == "old0"      # carried file
    assert len(got) == 40 and res["rows"] == 40
    # old snapshot still shows the pre-update value (time travel)
    assert _canon(t.read(version=1))[("met", "f025")] == "old25"
    # no-match predicate: clean no-op, no new version
    v = t.version
    res2 = t.update(F.col("title") == "nope", {"title": F.lit("x")})
    assert res2["version"] == v and t.version == v


def test_cow_delete_drops_rows_and_empty_files(spark, tmp_path):
    """Predicated DELETE: matching rows vanish from the new snapshot
    (still readable in the old one); deleting EVERY row of the touched
    files commits a snapshot that simply drops them."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    res = t.delete(F.col("foreign_identifier") == "f003")
    got = _canon(t.read())
    assert ("flickr", "f003") not in got and len(got) == 39
    assert res["rows"] == 39
    assert _canon(t.read(version=1))[("flickr", "f003")] == "old3"
    # delete a whole provider: every met file empties out
    res2 = t.delete(F.col("provider") == "met")
    got2 = _canon(t.read())
    assert all(p == "flickr" for p, _ in got2) and len(got2) == 19
    assert res2["files_written"] == 0  # nothing left to write from met files
    # NULL-condition rows are kept (SQL semantics)
    base = _base_rows() + [row(provider="met", fid="fn", url="http://u/nn",
                               title=None)]
    t2 = CowTable.create(spark, str(tmp_path / "t2"), mk(spark, base),
                         target_files=2)
    t2.delete(F.col("title") == "old5")
    got3 = _canon(t2.read())
    assert ("met", "fn") in got3 and ("flickr", "f005") not in got3


def test_cow_describe_detail(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    d = t.describe()
    assert d["version"] == 2 and d["operation"] == "merge"
    assert d["rows"] == 41 and d["num_files"] >= 2
    assert d["size_bytes"] > 0 and d["committed_at"] is not None
    assert d["min_file_rows"] <= d["avg_file_rows"] <= d["max_file_rows"]
    assert d["num_versions"] == 2
    # historical describe matches the old snapshot
    d1 = t.describe(version=1)
    assert d1["rows"] == 40 and d1["operation"] == "create"


def test_cow_delete_with_audit_archive(spark, tmp_path):
    """delete(audit_path=...) archives victims with reason + timestamp
    before dropping them — the reference's deleted-media side table
    (rows move, they don't vanish)."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    audit = str(tmp_path / "deleted")
    t.delete(
        F.col("provider") == "met", audit_path=audit, reason="dmca_takedown"
    )
    assert all(p == "flickr" for p, _ in _canon(t.read()))
    arch = spark.read.parquet(audit)
    rows = arch.collect()
    assert len(rows) == 20
    assert all(r["deleted_reason"] == "dmca_takedown" for r in rows)
    assert all(r["deleted_on"] is not None for r in rows)
    assert {r["foreign_identifier"] for r in rows} == {
        f"f{i:03d}" for i in range(20, 40)
    }


def test_cow_maintain_policy_tick(spark, tmp_path):
    """maintain() compacts only past the small-file threshold and
    vacuums only past the version budget — the scheduler's post-ingest
    tick, decided from manifests alone."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=8
    )
    # v1 only: under version budget, every file "small" -> compacts
    res = t.maintain(target_rows=1000, keep_versions=3)
    assert res["compacted"] and res["vacuumed"] == []
    assert t.version == 2 and t._manifest()["operation"] == "compact"
    # single right-sized file now: nothing to do
    res2 = t.maintain(target_rows=10, keep_versions=3)
    assert not res2["compacted"] and res2["vacuumed"] == []
    # pile up versions past the budget -> vacuum kicks in
    for i in range(3):
        t.merge(
            mk(spark, [row(provider="met", fid=f"m{i}", url=f"http://u/m{i}",
                           title="x")]),
            COLS, deterministic=True,
        )
    res3 = t.maintain(target_rows=10, keep_versions=2)
    assert res3["vacuumed"]  # old files reclaimed
    assert len(t._manifest_names()) == 2
    assert t.read().count() == 43


def test_cow_merge_validate_rules_gate(spark, tmp_path):
    """validate_rules rejects violating rows before the merge (NULL
    predicate = violation) and reports the count; aggregate-grain rules
    are refused with guidance."""
    import pytest

    from openverse_catalog_spark.operators import quality as q

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    batch = [
        row(provider="met", fid="g1", url="http://u/g1", title="ok"),
        row(provider="met", fid="g2", url="http://u/g2", title=None),   # null
        row(provider="met", fid="g3", url="http://u/g3", title="xxxxxxxxxxx"),
    ]
    res = t.merge(
        mk(spark, batch), COLS, deterministic=True,
        validate_rules=[q.not_null("title"), q.matches("title", r"^.{1,5}$")],
    )
    assert res["rows_rejected"] == 2
    got = _canon(t.read())
    assert ("met", "g1") in got
    assert ("met", "g2") not in got and ("met", "g3") not in got

    with pytest.raises(ValueError, match="row-level"):
        t.merge(
            mk(spark, batch), COLS, deterministic=True,
            validate_rules=[q.unique("url")],
        )


def test_cow_shallow_clone_branches_without_copying(spark, tmp_path):
    """clone() is a metadata-only branch: no data files copied, reads
    identical, and the branch evolves independently — its merge
    materializes only the rewritten delta, the source stays untouched,
    and the clone's vacuum never deletes source files."""
    import os

    src = CowTable.create(
        spark, str(tmp_path / "src"), mk(spark, _base_rows()), target_files=4
    )
    br = src.clone(str(tmp_path / "branch"))
    # zero data files under the branch root
    assert not os.path.isdir(str(tmp_path / "branch" / "data"))
    assert _canon(br.read()) == _canon(src.read())
    assert br.describe()["operation"].startswith("clone(")

    # branch merge: only the touched delta materializes locally
    res = br.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    assert res["files_skipped"] > 0
    got = _canon(br.read())
    assert got[("met", "f020")] == "updated" and ("met", "f999") in got
    # source unchanged
    assert _canon(src.read())[("met", "f020")] == "old20"
    assert src.version == 1

    # the clone's vacuum drops its old manifest but never source files
    br.vacuum(keep_versions=1)
    assert _canon(src.read())[("flickr", "f000")] == "old0"
    assert _canon(br.read())[("met", "f020")] == "updated"
    # predicated update works across external + local files
    br.update(F.col("foreign_identifier") == "f000",
              {"title": F.lit("branched")})
    assert _canon(br.read())[("flickr", "f000")] == "branched"
    assert _canon(src.read())[("flickr", "f000")] == "old0"


def test_cow_update_set_rhs_sees_old_row(spark, tmp_path):
    """SQL/Delta UPDATE semantics: every SET right-hand side evaluates
    against the OLD row, so {title: url, url: title} SWAPS the two
    values instead of chaining (sequential withColumn would make the
    second expression read the first's output)."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.update(
        F.col("foreign_identifier") == "f005",
        {"title": F.col("url"), "url": F.col("title")},
    )
    got = {
        r["foreign_identifier"]: (r["title"], r["url"])
        for r in t.read().collect()
    }
    assert got["f005"] == ("http://u/5", "old5")  # swapped
    assert got["f006"] == ("old6", "http://u/6")  # untouched


def test_cow_update_unknown_set_column_is_refused(spark, tmp_path):
    import pytest

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    with pytest.raises(ValueError, match="unknown columns"):
        t.update(F.col("foreign_identifier") == "f005", {"nope": F.lit(1)})


def test_cow_delete_audit_matches_committed_victims_after_rebase(
    spark, tmp_path
):
    """The audit is written by the attempt that COMMITS: a conflict
    rebase recomputes the victim set against the winner's snapshot, so
    a row the competitor inserted mid-delete must appear in the audit
    exactly once, and nothing is audited twice."""
    fired = {"n": 0}
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )

    def competing_insert():
        if fired["n"] == 0:
            fired["n"] += 1
            CowTable(spark, t.root).merge(
                mk(spark, [row(provider="met", fid="fnew",
                               url="http://u/new", title="late-met")]),
                COLS, deterministic=True,
            )

    audit = str(tmp_path / "deleted")
    t.delete(
        F.col("provider") == "met",
        audit_path=audit, reason="takedown",
        pre_commit_hook=competing_insert,
    )
    assert fired["n"] == 1
    assert all(p == "flickr" for p, _ in _canon(t.read()))
    arch = spark.read.parquet(audit).collect()
    fids = sorted(r["foreign_identifier"] for r in arch)
    # 20 original met rows + the competitor's insert, each ONCE
    assert fids == sorted([f"f{i:03d}" for i in range(20, 40)] + ["fnew"])


def test_cow_vacuum_retention_protects_young_orphans(spark, tmp_path):
    """A never-referenced data directory younger than the retention
    threshold could be a LIVE writer's in-flight attempt — vacuum must
    leave it alone (deleting it would corrupt that writer's commit);
    retention 0 is the explicit offline-cleanup mode. Committed-then-
    superseded files still delete immediately regardless of age."""
    import os

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    # simulate a concurrent writer mid-attempt: data written, manifest
    # not yet linked
    attempt = str(tmp_path / "tbl" / "data" / "cinflight00001")
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1....PAR1")
    deleted = t.vacuum(keep_versions=1)  # default retention: 1h
    assert deleted  # superseded v1 files went regardless of age
    assert os.path.isdir(attempt)  # in-flight attempt survived
    deleted2 = t.vacuum(keep_versions=1, retention_seconds=0.0)
    assert not os.path.isdir(attempt)
    assert any("cinflight00001" in p for p in deleted2)


def test_cow_segment_commits_are_o_delta_at_10k_files(spark, tmp_path):
    """METADATA SCALE: against a manifest of 10,000 file entries, a
    commit that changes 3 files must write O(3) bytes (an incremental
    segment), not O(10k) — only every checkpoint_interval-th version
    re-materializes the full list. Resolution reconstructs the exact
    file list from the chain, including from a fresh handle."""
    import os

    root = str(tmp_path / "big")
    os.makedirs(f"{root}/manifests")
    t = CowTable(spark, root, keys=("provider", "foreign_identifier"))

    def entry(i):
        return {
            "path": f"data/v1/part-{i:05d}.parquet", "rows": 1000,
            "min": {"provider": "p", "foreign_identifier": f"f{i:07d}"},
            "max": {"provider": "p", "foreign_identifier": f"f{i:07d}z"},
            "null_keys": {"provider": 0, "foreign_identifier": 0},
        }

    v1_entries = [entry(i) for i in range(10_000)]
    t._commit(1, v1_entries, op="create", schema_json=None)
    v1_bytes = os.path.getsize(f"{root}/manifests/v1.json")
    # commit 2: drop 2 entries, add 3
    v2_entries = v1_entries[2:] + [
        {**entry(i), "path": f"data/c2/part-{i}.parquet"}
        for i in (90000, 90001, 90002)
    ]
    t._commit(2, v2_entries, op="merge")
    v2_bytes = os.path.getsize(f"{root}/manifests/v2.json")
    assert v1_bytes > 1_000_000  # full 10k-entry manifest
    assert v2_bytes < 3_000      # segment: 3 adds + 2 removes
    raw2 = t._raw_manifest(2)
    assert "files" not in raw2 and raw2["base"] == 1
    assert len(raw2["add"]) == 3 and len(raw2["remove"]) == 2
    # chain more small commits: bytes stay flat regardless of table size
    prev = v2_entries
    for v in range(3, 10):
        prev = prev[1:] + [
            {**entry(0), "path": f"data/c{v}/part-0.parquet"}
        ]
        t._commit(v, prev, op="merge")
        assert os.path.getsize(f"{root}/manifests/v{v}.json") < 2_000
    # the checkpoint-interval commit re-materializes in full
    prev = prev[1:] + [{**entry(1), "path": "data/c10/part-0.parquet"}]
    t._commit(10, prev, op="merge")
    assert os.path.getsize(f"{root}/manifests/v10.json") > 1_000_000
    assert "files" in t._raw_manifest(10)
    # a FRESH handle resolves any version exactly
    t2 = CowTable(spark, root, keys=("provider", "foreign_identifier"))
    assert {e["path"] for e in t2._manifest(9)["files"]} == {
        e["path"] for e in t._manifest(9)["files"]
    }
    assert len(t2._manifest(10)["files"]) == 10_001  # +3 -2 then ±1 each
    assert t2.version == 10


def test_cow_vacuum_checkpoints_oldest_kept_version(spark, tmp_path):
    """Vacuum must not break segment resolution: before dropping old
    manifests it materializes the oldest KEPT version as a checkpoint
    side file, so the kept versions resolve without their (dropped)
    chain."""
    import os

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    for i in range(4):  # versions 2..5, all segments (interval 10)
        t.merge(
            mk(spark, [row(provider="met", fid=f"s{i}",
                           url=f"http://u/s{i}", title=f"t{i}")]),
            COLS, deterministic=True,
        )
    assert t.version == 5
    t.vacuum(keep_versions=2, retention_seconds=0.0)
    assert os.path.exists(
        str(tmp_path / "tbl" / "manifests" / "v4.checkpoint.json")
    )
    assert not os.path.exists(
        str(tmp_path / "tbl" / "manifests" / "v1.json")
    )
    # fresh handle: both kept versions read fine
    t2 = CowTable(spark, t.root)
    assert t2.version == 5
    assert t2.read(version=4).count() == 43
    got = _canon(t2.read(version=5))
    assert got[("met", "s3")] == "t3" and len(got) == 44


def test_cow_read_changes_merge_commit(spark, tmp_path):
    """CDF over a MERGE commit: the update's pre+post images and the
    insert appear; rows merely carried inside rewritten files do NOT
    (they're diffed out by key), and untouched-file rows never even
    enter the diff."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    ch = t.read_changes(1, 2)
    got = {
        (r["foreign_identifier"], r["_change_type"]):
            (r["title"], r["_commit_version"])
        for r in ch.collect()
    }
    assert got == {
        ("f020", "update_preimage"): ("old20", 2),
        ("f020", "update_postimage"): ("updated", 2),
        ("f999", "insert"): ("brand-new", 2),
    }


def test_cow_read_changes_compact_is_silent_delete_and_restore_revert(
    spark, tmp_path
):
    """compact is data-identical -> zero CDF rows. delete -> delete
    rows. restore -> the reversal deltas of what it undoes. Spans
    accumulate per-commit with _commit_version stamped."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)   # v2
    t.compact(target_rows=1000)                                    # v3
    assert t.read_changes(2, 3).count() == 0
    t.delete(F.col("foreign_identifier") == "f000")                # v4
    d = t.read_changes(3, 4).collect()
    assert [(r["foreign_identifier"], r["_change_type"]) for r in d] == [
        ("f000", "delete")
    ]
    t.restore(2)                                                   # v5
    r = {
        (r["foreign_identifier"], r["_change_type"])
        for r in t.read_changes(4, 5).collect()
    }
    assert r == {("f000", "insert")}  # the restore re-inserts the victim
    # full span: every commit's logical delta, stamped per commit
    span = t.read_changes(1, 5)
    by_commit = {
        r["_commit_version"]: r["n"]
        for r in span.groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_commit == {2: 3, 4: 1, 5: 1}


def test_cow_popularity_refresh_cdf_equals_full_recompute(spark, tmp_path):
    """The CDF-driven popularity refresh (upserts + deletes consumed
    from read_changes) must land the scored table exactly where a full
    recompute over the final snapshot would."""
    from openverse_catalog_spark.operators.popularity import (
        popularity_constants,
        popularity_refresh_cdf,
        percentile_disc_by_group,
        standardized_popularity,
    )
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec, Datatype, UpsertStrategy,
    )

    cols = [
        ColumnSpec("provider", Datatype.char, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("foreign_identifier", Datatype.char, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("metric", Datatype.int),
    ]
    rows = [
        (["alpha", "beta"][i % 2], f"f{i:03d}", float(i % 11 + 1))
        for i in range(60)
    ]
    media = spark.createDataFrame(
        rows, "provider string, foreign_identifier string, metric double"
    )
    t = CowTable.create(
        spark, str(tmp_path / "media"), media,
        keys=("provider", "foreign_identifier"), target_files=4,
    )

    def full_score(df):
        p = percentile_disc_by_group(df, ["provider"], "metric", 0.85)
        c = popularity_constants(p, 0.85)
        return standardized_popularity(
            df, c, ["provider"], "metric"
        ).select("provider", "foreign_identifier", "metric",
                 "standardized_popularity")

    scored_path = str(tmp_path / "scored")
    full_score(t.read()).write.partitionBy("provider").parquet(scored_path)
    # v2: re-deliver f000 with a new metric + insert a new id
    batch = spark.createDataFrame(
        [("alpha", "f000", 99.0), ("alpha", "fNEW", 5.0)],
        "provider string, foreign_identifier string, metric double",
    )
    t.merge(batch, cols, deterministic=True, dedupe_source_on_url=True)
    # v3: delete one beta id
    t.delete(F.col("foreign_identifier") == "f001")
    rep = popularity_refresh_cdf(
        spark, scored_path, t, from_version=1,
        group_col="provider", id_col="foreign_identifier",
        metric_col="metric",
    )
    assert sorted(rep["changed"]) == ["alpha", "beta"]
    got = {
        (r["provider"], r["foreign_identifier"]):
            (r["metric"], round(r["standardized_popularity"], 9))
        for r in spark.read.parquet(scored_path).collect()
    }
    want = {
        (r["provider"], r["foreign_identifier"]):
            (r["metric"], round(r["standardized_popularity"], 9))
        for r in full_score(t.read()).collect()
    }
    assert got == want


def test_cow_read_where_data_skipping(spark, tmp_path):
    """Generalized data skipping: stats_cols record per-file min/max
    beyond the merge key; read_where prunes files whose range cannot
    match, keeps no-stats files conservatively, skips all-NULL files,
    and stays exact via the residual filter. Stats survive merges
    (table property re-collected per commit)."""
    import pytest

    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec, Datatype, UpsertStrategy,
    )

    rows = [
        ("p", f"f{i:03d}", f"http://u/{i}",
         None if i >= 36 else float(i * 100))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "provider string, foreign_identifier string, url string, "
        "filesize double",
    )
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=8,
        stats_cols=("filesize",),
    )
    assert t.stats_cols == ("filesize",)
    all_files = {e["path"] for e in t._manifest()["files"]}
    out = t.read_where({"filesize": (0.0, 500.0)})
    got = sorted(r["foreign_identifier"] for r in out.collect())
    assert got == [f"f{i:03d}" for i in range(6)]  # 0..500 by 100
    read = {
        "/" + f.removeprefix("file:").lstrip("/") for f in out.inputFiles()
    }
    assert len(read) < len(all_files)  # skipping actually bit
    # a fresh handle discovers stats_cols from the manifest, and a
    # MERGE keeps collecting them
    cols = [
        ColumnSpec("provider", Datatype.char, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("foreign_identifier", Datatype.char, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("url", Datatype.char),
        ColumnSpec("filesize", Datatype.double),
    ]
    t2 = CowTable(spark, t.root)
    assert t2.stats_cols == ("filesize",)
    batch = spark.createDataFrame(
        [("p", "f002", "http://u/2", 9999.0)],
        "provider string, foreign_identifier string, url string, "
        "filesize double",
    )
    t2.merge(batch, cols, deterministic=True)
    got2 = sorted(
        r["foreign_identifier"]
        for r in t2.read_where({"filesize": (0.0, 500.0)}).collect()
    )
    assert got2 == [f"f{i:03d}" for i in range(6) if i != 2]
    assert t2.read_where({"filesize": (9000.0, None)}).count() == 1
    # unconstrained side + unknown column guard
    with pytest.raises(ValueError, match="no data-skipping stats"):
        t2.read_where({"title": (0, 1)})


def test_cow_compact_zorder_enables_multicol_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER: after key-range clustering, x/y ranges span
    every file and read_where prunes nothing; a z-order compact on
    (x, y) tightens BOTH columns' per-file ranges so range reads on
    either column skip files — and the data is bit-identical across
    the commit."""
    import random

    rng = random.Random(7)
    rows = [
        ("p", f"f{i:04d}", f"http://u/{i}",
         float(rng.randrange(100)), float(rng.randrange(100)))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "provider string, foreign_identifier string, url string, "
        "x double, y double",
    )
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=8,
        stats_cols=("x", "y"),
    )

    def files_read(col, lo, hi):
        return len(t.read_where({col: (lo, hi)}).inputFiles())

    n_all = len(t._manifest()["files"])
    # key-clustered layout: x/y uncorrelated with the key -> no pruning
    assert files_read("x", 0.0, 20.0) == n_all
    before = {
        (r["foreign_identifier"], r["x"], r["y"])
        for r in t.read().collect()
    }
    res = t.compact(
        target_rows=60, zorder_by={"x": (0, 100), "y": (0, 100)},
        zorder_bits=6,
    )
    assert res["files_compacted"] == n_all  # whole-table rewrite
    after = {
        (r["foreign_identifier"], r["x"], r["y"])
        for r in t.read().collect()
    }
    assert after == before  # bit-identical data
    n_files = len(t._manifest()["files"])
    assert n_files >= 4
    # now BOTH columns' range reads prune
    assert files_read("x", 0.0, 20.0) < n_files
    assert files_read("y", 0.0, 20.0) < n_files
    # and results stay exact
    got = {
        r["foreign_identifier"]
        for r in t.read_where({"x": (0.0, 20.0), "y": (0.0, 20.0)}).collect()
    }
    want = {f for f, x, y in before if 0 <= x <= 20 and 0 <= y <= 20}
    assert got == want


def test_cow_read_changes_past_retention_gives_clear_error(spark, tmp_path):
    """A CDF consumer that fell behind vacuum retention gets a clear
    resync instruction, not a bare FileNotFoundError."""
    import pytest

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    for i in range(3):
        t.merge(
            mk(spark, [row(provider="met", fid=f"v{i}",
                           url=f"http://u/v{i}", title="x")]),
            COLS, deterministic=True,
        )
    # keep TWO versions: v3+v4 manifests survive, so the v3->v4 span
    # stays servable while anything reaching back past v3 is gone
    t.vacuum(keep_versions=2, retention_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_changes(1, t.version)
    tail = t.read_changes(t.version - 1, t.version)
    assert tail.filter(F.col("_change_type") == "insert").count() == 1


def test_cow_bloom_point_lookup_skipping(spark, tmp_path):
    """bloom_cols: equality lookups on a high-cardinality column skip
    via per-file bloom bitmaps where min/max ranges cannot prune (urls
    are uncorrelated with the key order). A present url reads only the
    file(s) whose bloom admits it; an absent url skips everything (no
    false negatives by construction; fp-rate makes full skips typical
    at this size); results stay exact; blooms survive a MERGE."""
    rows = [
        ("p", f"f{i:04d}", f"http://host{(i * 7919) % 997}.example/x{i}",
         f"t{i}")
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "provider string, foreign_identifier string, url string, "
        "title string",
    )
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=8,
        bloom_cols=("url",),
    )
    assert t.bloom_cols == ("url",)
    n_all = len(t._manifest()["files"])
    assert n_all >= 4
    target_url = rows[123][2]
    hit = t.read_where({"url": target_url})
    assert [r["foreign_identifier"] for r in hit.collect()] == ["f0123"]
    assert len(hit.inputFiles()) < n_all  # bloom skipped files
    miss = t.read_where({"url": "http://nowhere.example/absent"})
    assert miss.count() == 0
    assert len(miss.inputFiles()) == 0  # every file ruled out
    # a fresh handle discovers bloom_cols; MERGE re-collects blooms
    t2 = CowTable(spark, t.root)
    assert t2.bloom_cols == ("url",)
    batch = spark.createDataFrame(
        [("p", "f9999", "http://new.example/fresh", "new")],
        "provider string, foreign_identifier string, url string, "
        "title string",
    )
    from tests.test_merge_upsert import COLS  # noqa: F811

    cols = [c for c in COLS if c.name in
            ("provider", "foreign_identifier", "url", "title")]
    t2.merge(batch, cols, deterministic=True)
    hit2 = t2.read_where({"url": "http://new.example/fresh"})
    assert hit2.count() == 1
    assert len(hit2.inputFiles()) < len(t2._manifest()["files"])


def test_cow_bloom_scales_with_rows_and_drops_saturated(spark, tmp_path):
    """Bitmaps are sized from each file's row count, so point-lookup
    skipping still bites on compaction-sized files (the fixed-width
    design saturated there); a file whose rows blow past the bit cap
    stores NO bitmap at all (a >half-full filter prunes nothing and
    would only bloat every checkpoint)."""
    n = 120_000
    df = spark.range(n).select(
        F.lit("p").alias("provider"),
        F.lpad(F.col("id").cast("string"), 7, "0").alias(
            "foreign_identifier"
        ),
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias(
            "url"
        ),
    )
    t = CowTable.create(
        spark, str(tmp_path / "big"), df, target_files=4,
        bloom_cols=("url",),
    )
    m = t._manifest()
    assert all(e["rows"] >= 25_000 for e in m["files"])
    recs = [t._bloom_rec(e, "url") for e in m["files"]]
    assert all(r is not None for r in recs)
    # sized ~10 bits/row, so ~30k-row files carry ~300kbit bitmaps
    assert all(r["bits"] >= 10 * 25_000 for r in recs)
    # bitmaps live in executor-written sidecars, NOT the JSON manifest:
    # entries carry only the sidecar pointer, so manifest/checkpoint
    # bytes stay O(files) no matter how many blooms a commit builds
    import os

    assert all("bloom" not in e and e.get("bloom_sc") for e in m["files"])
    assert os.path.getsize(f"{t.root}/manifests/v1.json") < 32 * 1024
    miss = t.read_where({"url": "http://nowhere.example/x"})
    assert len(miss.inputFiles()) < len(m["files"])
    hit = t.read_where({"url": "http://u/54321"})
    assert len(hit.inputFiles()) < len(m["files"])
    assert hit.count() == 1

    # one 200k-row file exceeds the 1 Mbit cap -> >1/2 full -> dropped
    big = spark.range(200_000).select(
        F.lit("p").alias("provider"),
        F.lpad(F.col("id").cast("string"), 7, "0").alias(
            "foreign_identifier"
        ),
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias(
            "url"
        ),
    )
    t2 = CowTable.create(
        spark, str(tmp_path / "sat"), big, target_files=1,
        bloom_cols=("url",),
    )
    e = t2._manifest()["files"][0]
    assert t2._bloom_rec(e, "url") is None, (
        "saturated bitmap must not be stored"
    )
    # manifest bytes stay sane without the saturated bitmap
    assert os.path.getsize(f"{t2.root}/manifests/v1.json") < 64 * 1024
    # and the read is still exact (bloom absent = conservative keep)
    assert t2.read_where({"url": "http://u/7"}).count() == 1


def test_cow_bloom_cols_type_validation(spark, tmp_path):
    """bloom_cols on a type whose CAST(x AS STRING) differs from
    Python str() (bool/double/binary) is refused at create — a silent
    mismatch would make every probe miss files that HOLD the value."""
    import pytest

    df = spark.createDataFrame(
        [("p", "f1", 0.5)],
        "provider string, foreign_identifier string, score double",
    )
    with pytest.raises(TypeError, match="bloom_cols"):
        CowTable.create(
            spark, str(tmp_path / "bad"), df, bloom_cols=("score",)
        )


def test_cow_read_where_none_equality_is_refused(spark, tmp_path):
    """A scalar None constraint is an accidental NULL probe, not 'scan
    everything': SQL equality with NULL matches nothing, so silently
    returning the whole table would be wrong either way."""
    import pytest

    tgt = mk(spark, _base_rows())
    t = CowTable.create(spark, str(tmp_path / "tbl"), tgt, target_files=2)
    with pytest.raises(ValueError, match="None"):
        t.read_where({"provider": None})
    # the explicit unbounded range spelling still works
    assert t.read_where({"provider": (None, None)}).count() == 40


def test_cow_vacuum_repairs_stale_pointer_first(spark, tmp_path):
    """Writer crashes in the link-to-pointer window can leave VERSION
    lagging by >1; vacuum must repair it BEFORE dropping manifests
    below the kept window, or the table resolves to a vacuumed
    (unreadable) version."""
    tgt = mk(spark, _base_rows())
    t = CowTable.create(spark, str(tmp_path / "tbl"), tgt, target_files=2)
    for i in range(3):
        src = mk(spark, [row(provider="met", fid=f"n{i}", url=f"http://n/{i}",
                             title=f"t{i}")])
        t.merge(src, COLS, deterministic=True)
    head = t.version
    assert head == 4
    # simulate two crashed pointer swaps: pointer stuck at 1
    with open(f"{t.root}/VERSION", "w") as f:
        f.write("1")
    t.vacuum(keep_versions=1, retention_seconds=0)
    t2 = CowTable(spark, t.root)
    assert t2.version == head
    assert t2.read().count() == 43


def test_cow_read_changes_null_key_rows_no_cross_join(spark, tmp_path):
    """A rewritten file holding 2+ distinct NULL-key rows must NOT
    cross-join them into spurious update pairs: carried-identical
    NULL-key rows cancel positionally, and a real NULL-key change
    surfaces as delete + insert (no key identity exists to call it an
    update)."""
    rows = [
        row(provider="met", fid=None, url="http://nk/1", title="nk-one"),
        row(provider="met", fid=None, url="http://nk/2", title="nk-two"),
        row(provider="met", fid=None, url="http://nk/3", title="nk-three"),
        row(provider="met", fid="f001", url="http://u/1", title="keyed"),
    ]
    tgt = mk(spark, rows)
    t = CowTable.create(spark, str(tmp_path / "tbl"), tgt, target_files=1)
    # the batch updates the KEYED row; the single-file table forces a
    # rewrite that carries all three NULL-key rows unchanged
    src = mk(
        spark, [row(provider="met", fid="f001", url="http://u/1",
                    title="keyed-v2")]
    )
    t.merge(src, COLS, deterministic=True)
    feed = t.read_changes(1).collect()
    by_type: dict[str, list] = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    # exactly one logical update (the keyed row) and nothing else
    assert len(by_type.get("update_preimage", [])) == 1
    assert len(by_type.get("update_postimage", [])) == 1
    assert by_type["update_postimage"][0]["title"] == "keyed-v2"
    assert "insert" not in by_type and "delete" not in by_type

    # now CHANGE one null-key row: it must appear as delete + insert
    t.update(
        F.col("url") == "http://nk/2",
        {"title": F.lit("nk-two-v2")},
    )
    feed2 = [r for r in t.read_changes(2).collect()]
    types = sorted(r["_change_type"] for r in feed2)
    assert types == ["delete", "insert"]
    assert {r["title"] for r in feed2} == {"nk-two", "nk-two-v2"}


def test_cow_disjoint_merges_relink_without_recompute(spark, tmp_path):
    """Logical conflict resolution: a merge that loses its version slot
    to a writer whose delta is provably disjoint (different provider's
    files, no url overlap) must NOT recompute — it re-links its
    already-written files onto the new head as a metadata-only commit.
    One attempt total (the pre_commit_hook fires once per attempt)."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    fired = {"n": 0}

    def competing_flickr_writer():
        fired["n"] += 1
        if fired["n"] == 1:
            CowTable(spark, t.root).merge(
                mk(spark, [row(provider="flickr", fid="f000",
                               url="http://u/0", title="from-B")]),
                COLS, deterministic=True,
            )

    res = t.merge(
        mk(spark, _batch_rows()), COLS, deterministic=True,
        pre_commit_hook=competing_flickr_writer,
    )
    assert fired["n"] == 1, "loser must not re-execute its merge"
    assert res["relinked"] is True
    assert res["version"] == 3
    got = _canon(t.read())
    assert got[("flickr", "f000")] == "from-B"
    assert got[("met", "f020")] == "updated"
    assert got[("met", "f999")] == "brand-new"
    n = t.read().count()
    assert n == t.read().select(
        "provider", "foreign_identifier"
    ).distinct().count()


def test_cow_relink_refused_on_url_overlap(spark, tmp_path):
    """The url-conflict guard's verdict depends on the winner's rows:
    when the winner's delta carries a url the loser's batch also
    carries, the re-link is refused and the full rebase re-runs the
    guard — the late url thief is dropped, exactly as if the merges had
    run serially."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    fired = {"n": 0}

    def competing_url_winner():
        if fired["n"] == 0:
            fired["n"] += 1
            CowTable(spark, t.root).merge(
                mk(spark, [row(provider="flickr", fid="fwin",
                               url="http://contested/x", title="winner")]),
                COLS, deterministic=True,
            )

    res = t.merge(
        mk(spark, [row(provider="met", fid="fthief",
                       url="http://contested/x", title="loser")]),
        COLS, deterministic=True,
        pre_commit_hook=competing_url_winner,
    )
    assert fired["n"] == 1
    assert not res.get("relinked")
    owners = (
        t.read().filter(F.col("url") == "http://contested/x").collect()
    )
    assert [(r["provider"], r["foreign_identifier"]) for r in owners] == [
        ("flickr", "fwin")
    ]


def test_cow_compact_relinks_past_additive_merge(spark, tmp_path):
    """A compactor racing a merge that only ADDS a new file (no shared
    file rewritten) re-links instead of re-planning: the winner's new
    small file simply stays uncompacted until the next tick."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    fired = {"n": 0}

    def additive_merge():
        fired["n"] += 1
        if fired["n"] == 1:
            # fid sorts past every existing met range -> new file only
            CowTable(spark, t.root).merge(
                mk(spark, [row(provider="met", fid="zz-late",
                               url="http://u/late", title="late")]),
                COLS, deterministic=True,
            )

    res = t.compact(target_rows=1_000_000, pre_commit_hook=additive_merge)
    assert fired["n"] == 1, "compactor must not re-plan"
    assert res["relinked"] is True
    got = _canon(t.read())
    assert got[("met", "zz-late")] == "late"
    assert len(got) == 41
    # winner's file carried uncompacted alongside the compacted output
    assert res["files_kept"] == 1


def test_cow_delete_relinks_past_disjoint_merge(spark, tmp_path):
    """A DELETE racing a merge whose added rows don't match the
    predicate (and whose rewrites don't touch the deleted files)
    re-links: no second find-scan, no re-filter."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    fired = {"n": 0}

    def flickr_merge():
        fired["n"] += 1
        if fired["n"] == 1:
            CowTable(spark, t.root).merge(
                mk(spark, [row(provider="flickr", fid="f000",
                               url="http://u/0", title="flickr-v2")]),
                COLS, deterministic=True,
            )

    res = t.delete(
        F.col("provider") == "met", pre_commit_hook=flickr_merge
    )
    assert fired["n"] == 1
    assert res["relinked"] is True
    got = _canon(t.read())
    assert all(p == "flickr" for p, _ in got)
    assert got[("flickr", "f000")] == "flickr-v2"


def _met_range():
    # the met rows of ``_base_rows`` by id range: a winner that only
    # ADDS a met row past that range is disjoint from the predicate ops
    return F.col("foreign_identifier").between("f020", "f039")


#: every CowTable write that runs the optimistic commit protocol, each
#: writing against the met files of the ``_base_rows`` table
_CONFLICT_OPS = {
    "merge": lambda spark, t, **kw: t.merge(
        mk(spark, _batch_rows()), COLS, deterministic=True, **kw
    ),
    "merge_when": lambda spark, t, **kw: t.merge_when(
        mk(spark, _batch_rows()), update_set="*", **kw
    ),
    "update_copy": lambda spark, t, **kw: t.update(
        _met_range(), {"title": F.lit("upd")}, **kw
    ),
    "delete_copy": lambda spark, t, **kw: t.delete(_met_range(), **kw),
    "update_dv": lambda spark, t, **kw: t.update(
        _met_range(), {"title": F.lit("upd")}, mode="dv", **kw
    ),
    "delete_dv": lambda spark, t, **kw: t.delete(
        _met_range(), mode="dv", **kw
    ),
    "compact": lambda spark, t, **kw: t.compact(
        target_rows=1_000_000, **kw
    ),
}


def _additive_winner(spark, root):
    # fid sorts past every existing met range: the winner adds one new
    # file and rewrites none
    CowTable(spark, root).merge(
        mk(spark, [row(provider="met", fid="zz-late",
                       url="http://u/late", title="late")]),
        COLS, deterministic=True,
    )


def _overlapping_winner(spark, root):
    # rewrites the met file holding f020, which every op above reads
    CowTable(spark, root).merge(
        mk(spark, [row(provider="met", fid="f020",
                       url="http://u/20", title="winner")]),
        COLS, deterministic=True,
    )


def _full_rows(t):
    return sorted(
        (r["provider"], r["foreign_identifier"], r["url"], r["title"])
        for r in t.read().collect()
    )


@pytest.mark.parametrize("op", sorted(_CONFLICT_OPS))
def test_cow_conflict_matrix_disjoint_winner_relinks(spark, tmp_path, op):
    """Every write op that loses its version slot to a disjoint winner
    re-links its written files onto the new head (one attempt, no
    recompute), and the table ends exactly where the serial execution
    (winner first, then the op) ends."""
    run = _CONFLICT_OPS[op]
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    fired = {"n": 0}

    def hook():
        fired["n"] += 1
        if fired["n"] == 1:
            _additive_winner(spark, t.root)

    res = run(spark, t, pre_commit_hook=hook)
    assert fired["n"] == 1, "a disjoint loser must not recompute"
    assert res["relinked"] is True
    assert res["version"] == t.version == 3
    serial = CowTable.create(
        spark, str(tmp_path / "serial"), mk(spark, _base_rows()),
        target_files=4,
    )
    _additive_winner(spark, serial.root)
    run(spark, serial)
    assert _full_rows(t) == _full_rows(serial)


@pytest.mark.parametrize("op", sorted(_CONFLICT_OPS))
def test_cow_conflict_matrix_overlap_refuses_and_cleans(spark, tmp_path, op):
    """An overlapping winner makes the re-link unsafe: with no retries
    left the op raises CommitConflict, and every data directory the
    losing attempt wrote (data files and deletion vectors) is gone —
    each ``data/`` subdirectory on disk is referenced by a manifest."""
    import os

    from openverse_catalog_spark.operators.cowtable import CommitConflict

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    with pytest.raises(CommitConflict):
        _CONFLICT_OPS[op](
            spark, t, max_retries=0,
            pre_commit_hook=lambda: _overlapping_winner(spark, t.root),
        )
    assert t.version == 2  # the winner's commit, nothing of the loser's
    referenced = set()
    for v in range(1, t.version + 1):
        for e in t._manifest(v)["files"]:
            referenced.add(e["path"].split("/")[1])
            if e.get("dv"):
                referenced.add(e["dv"]["path"].split("/")[1])
    on_disk = set(os.listdir(str(tmp_path / "tbl" / "data")))
    assert on_disk <= referenced


def test_cow_commit_path_job_budget(spark, tmp_path, jobs_of):
    """Spark jobs per commit on one small table: merge, merge_when,
    copy-mode delete, deletion-vector delete and compact. The commit
    protocol (retry, re-link, publish) is driver-side bookkeeping, so
    a job added on this path is a regression."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=4
    )
    got = {
        "merge": jobs_of(lambda: t.merge(
            mk(spark, _batch_rows()), COLS, deterministic=True
        )),
        "merge_when": jobs_of(lambda: t.merge_when(
            mk(spark, [row(provider="flickr", fid="f005",
                           url="http://u/5", title="mw")]),
            update_set="*",
        )),
        "delete_copy": jobs_of(lambda: t.delete(
            F.col("foreign_identifier") == "f030"
        )),
        "delete_dv": jobs_of(lambda: t.delete(
            F.col("foreign_identifier") == "f010", mode="dv"
        )),
        "compact": jobs_of(lambda: t.compact(target_rows=1_000_000)),
    }
    assert got == {
        "merge": 7, "merge_when": 7, "delete_copy": 5,
        "delete_dv": 5, "compact": 4,
    }
    assert t.version == 6


def _dv_fixture(spark, tmp_path, n=20_000, files=2):
    df = spark.range(n).select(
        F.lit("p").alias("provider"),
        F.lpad(F.col("id").cast("string"), 7, "0").alias(
            "foreign_identifier"
        ),
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias(
            "url"
        ),
        (F.col("id") % 100).alias("grp"),
    )
    return CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=files
    )


def test_cow_dv_delete_is_merge_on_read(spark, tmp_path):
    """mode='dv': a 10-row delete on 10k-row files writes a tiny
    position sidecar instead of rewriting the files — bytes written
    scale with rows deleted, readers anti-apply, time travel still
    sees the victims, and a second DV on the same file stacks
    cumulatively."""
    import os

    t = _dv_fixture(spark, tmp_path)
    data_bytes = sum(
        os.path.getsize(t._abs(e["path"]))
        for e in t._manifest()["files"]
    )
    res = t.delete(F.col("foreign_identifier") < "0000010", mode="dv")
    assert res["files_rewritten"] == 0 and res["files_dv"] >= 1
    assert t.read().count() == 19_990
    assert t.read(version=1).count() == 20_000
    assert t.read().filter(
        F.col("foreign_identifier") < "0000010"
    ).count() == 0
    # bytes written for the commit = the DV sidecar only
    dv_dirs = {
        e["dv"]["path"] for e in t._manifest()["files"] if e.get("dv")
    }
    dv_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for d in dv_dirs
        for dp, _, fns in os.walk(t._abs(d))
        for fn in fns
    )
    assert dv_bytes < data_bytes / 20, (dv_bytes, data_bytes)
    # stacking: second DV delete on the same files is cumulative
    t.delete(F.col("grp") == 7, mode="dv")
    assert t.read().count() == 19_990 - 200 + 1  # id 7 in both sets
    # pruned/skipping reads apply the DV too
    assert t.read_pruned(["p"]).count() == 19_791


def test_cow_dv_update_appends_and_kills_positions(spark, tmp_path):
    """mode='dv' UPDATE: old rows die by position, updated rows land in
    one appended small file; SET right-hand sides see the OLD row."""
    t = _dv_fixture(spark, tmp_path)
    res = t.update(
        F.col("grp") == 3,
        {"url": F.concat(F.col("url"), F.lit("#v2"))},
        mode="dv",
        target_files=1,
    )
    assert res["files_rewritten"] == 0
    assert res["files_written"] == 1 and res["files_dv"] == 2
    assert t.read().count() == 20_000
    assert t.read().filter(F.col("url").endswith("#v2")).count() == 200


def test_cow_merge_after_dv_sees_only_live_rows(spark, tmp_path):
    """A MERGE whose affected set includes a DV-carrying file must feed
    only the LIVE rows into the upsert — the dead rows neither
    resurrect nor duplicate — and the rewrite materializes the DV."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()),
        target_files=4,
    )
    t.delete(F.col("foreign_identifier") == "f021", mode="dv")
    assert t.read().count() == 39
    t.merge(mk(spark, _batch_rows()), COLS, deterministic=True)
    got = _canon(t.read())
    assert ("met", "f021") not in got          # stayed dead
    assert got[("met", "f020")] == "updated"
    assert got[("met", "f999")] == "brand-new"
    assert t.read().count() == 40
    # the merge rewrote the DV carrier: no vector remains
    assert not any(e.get("dv") for e in t._manifest()["files"])


def test_cow_dv_cdf_matches_copy_mode(spark, tmp_path):
    """The change feed must emit the SAME logical deltas whichever
    physical path a delete took (file rewrite vs deletion vector)."""
    t = _dv_fixture(spark, tmp_path, n=2_000)
    t2 = CowTable.create(
        spark, str(tmp_path / "copy"),
        t.read(version=1), target_files=2,
    )
    cond = F.col("grp") == 42
    t.delete(cond, mode="dv")
    t2.delete(cond)  # copy mode
    a = sorted(
        (r["foreign_identifier"], r["_change_type"])
        for r in t.read_changes(1, 2).collect()
    )
    b = sorted(
        (r["foreign_identifier"], r["_change_type"])
        for r in t2.read_changes(1, 2).collect()
    )
    assert a == b and len(a) == 20
    # updating already-dead rows is a no-op commit-wise
    res = t.update(cond, {"url": F.lit("http://moved")}, mode="dv")
    assert res["version"] == 2 and t.version == 2
    t.update(
        F.col("grp") == 7, {"url": F.lit("http://moved7")}, mode="dv"
    )
    feed = t.read_changes(t.version - 1, t.version).collect()
    from collections import Counter

    c = Counter(r["_change_type"] for r in feed)
    assert c == {"update_preimage": 20, "update_postimage": 20}


def test_cow_dv_compact_materializes_and_vacuum_keeps_live_dv(
    spark, tmp_path
):
    """OPTIMIZE rewrites DV carriers (regardless of size) so vectors
    don't accrete; vacuum drops superseded sidecars but never a kept
    version's."""
    import os

    t = _dv_fixture(spark, tmp_path, n=2_000)
    t.delete(F.col("grp") == 1, mode="dv")
    t.delete(F.col("grp") == 2, mode="dv")
    live = t.read().count()
    assert live == 1_960
    # vacuum keeps head only: v2's superseded sidecar goes, v3's stays
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    assert any("data/dv" in p for p in deleted)
    t2 = CowTable(spark, t.root)
    assert t2.read().count() == live
    # compact materializes the remaining DV away
    rc = t2.compact(target_rows=10_000)
    assert rc["files_written"] >= 1
    assert not any(e.get("dv") for e in t2._manifest()["files"])
    assert t2.read().count() == live


def test_cow_dv_clone_carries_absolute_dv_paths(spark, tmp_path):
    """A shallow clone of a DV-carrying snapshot must keep applying the
    source's vectors (absolute paths, zero data copied)."""
    t = _dv_fixture(spark, tmp_path, n=2_000)
    t.delete(F.col("grp") == 9, mode="dv")
    c = t.clone(str(tmp_path / "branch"))
    assert c.read().count() == 1_980
    assert c.read().filter(F.col("grp") == 9).count() == 0


def test_cow_read_join_pruned_by_key_range_and_fallback(spark, tmp_path):
    """Dynamic file pruning via a join: a bounded dim key set prunes
    fact files through the per-file key-range stats; a dim wider than
    max_keys falls back to an exact semi-join (same rows, no prune)."""
    t = _dv_fixture(spark, tmp_path, n=8_000, files=4)
    n_all = len(t._manifest()["files"])
    dim = spark.createDataFrame(
        [("0000010",), ("0000011",)], "foreign_identifier string"
    )
    out = t.read_join_pruned(dim, "foreign_identifier")
    assert sorted(
        r["foreign_identifier"] for r in out.collect()
    ) == ["0000010", "0000011"]
    assert 0 < len(out.inputFiles()) < n_all
    # DV interplay: kill one of the two, the pruned read must not
    # resurrect it
    t.delete(F.col("foreign_identifier") == "0000010", mode="dv")
    out2 = t.read_join_pruned(dim, "foreign_identifier")
    assert [r["foreign_identifier"] for r in out2.collect()] == ["0000011"]
    # fallback: cap of 1 forces the exact semi-join over the snapshot
    out3 = t.read_join_pruned(dim, "foreign_identifier", max_keys=1)
    assert [r["foreign_identifier"] for r in out3.collect()] == ["0000011"]
    # a column with no stats anywhere is refused, not silently full-scanned
    import pytest

    with pytest.raises(ValueError, match="file-level stats"):
        t.read_join_pruned(dim.withColumnRenamed(
            "foreign_identifier", "url"), "url")


def test_cow_zorder_stats_auto_bounds_and_predicate_scope(spark, tmp_path):
    """OPTIMIZE ZORDER takes bucket bounds from the manifest's own
    per-file stats (no hand ranges), and zorder_where scopes the
    rewrite to the files intersecting the predicate — every other file
    carries by reference (O(partition) maintenance, not O(table))."""
    df = spark.range(4_000).select(
        F.concat(F.lit("p"), (F.col("id") % 2).cast("string")).alias(
            "provider"
        ),
        F.lpad(F.col("id").cast("string"), 7, "0").alias(
            "foreign_identifier"
        ),
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias(
            "url"
        ),
        ((F.col("id") * 37) % 100).cast("double").alias("x"),
        ((F.col("id") * 61) % 100).cast("double").alias("y"),
    )
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=8,
        stats_cols=("x", "y"),
    )
    m1 = t._manifest()
    # a file intersects the p0 constraint iff its provider range
    # touches p0 (boundary files straddling p0/p1 count)
    p0_paths = {
        e["path"] for e in m1["files"] if e["min"]["provider"] == "p0"
    }
    assert 0 < len(p0_paths) < len(m1["files"])
    # scoped, stats-auto: only provider p0's files re-cluster
    res = t.compact(
        target_rows=max(1, m1["rows"] // 8),
        zorder_by=["x", "y"],
        zorder_bits=6,
        zorder_where={"provider": ("p0", "p0")},
    )
    assert res["files_compacted"] == len(p0_paths)
    m2 = t._manifest()
    untouched = {e["path"] for e in m2["files"]} & {
        e["path"] for e in m1["files"]
    }
    assert untouched == {
        e["path"] for e in m1["files"] if e["path"] not in p0_paths
    }
    # data identical, and x/y skipping now bites within the zordered set
    assert t.read().count() == 4_000
    out = t.read_where({"x": (0.0, 20.0), "y": (0.0, 20.0)})
    assert len(out.inputFiles()) < len(m2["files"])
    assert out.count() == t.read().filter(
        (F.col("x") <= 20) & (F.col("y") <= 20)
    ).count()
    # auto bounds refuse a column with no stats
    import pytest

    with pytest.raises(ValueError, match="stats"):
        t.compact(zorder_by=["url"], zorder_bits=4)


def test_cow_check_constraints_reject_writers(spark, tmp_path):
    """CHECK constraints: table-property enforcement at commit time —
    violating merges/updates are rejected with NO version created,
    NULL passes (SQL CHECK), dv-mode updates are covered too, and
    drop_constraint lifts the gate."""
    import pytest

    from openverse_catalog_spark.operators.cowtable import (
        ConstraintViolation,
    )

    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()), target_files=2
    )
    t.add_constraint("url_scheme", "url LIKE 'http%'")
    v0 = t.version
    # NULL passes: title is NULL in some base rows, constraint on title
    t.add_constraint("title_len", "length(title) < 100")
    bad = mk(spark, [row(provider="met", fid="fbad", url="ftp://nope",
                         title="x")])
    with pytest.raises(ConstraintViolation, match="url_scheme"):
        t.merge(bad, COLS, deterministic=True)
    assert t.version == v0 + 1  # only the add_constraint commit landed
    with pytest.raises(ConstraintViolation):
        t.update(
            F.col("foreign_identifier") == "f020",
            {"url": F.lit("gopher://old")},
        )
    with pytest.raises(ConstraintViolation):
        t.update(
            F.col("foreign_identifier") == "f020",
            {"url": F.lit("gopher://old")},
            mode="dv",
        )
    ok = mk(spark, [row(provider="met", fid="fok", url="https://fine",
                        title="y")])
    t.merge(ok, COLS, deterministic=True)
    assert _canon(t.read())[("met", "fok")] == "y"
    t.drop_constraint("url_scheme")
    t.merge(bad, COLS, deterministic=True)  # gate lifted
    assert ("met", "fbad") in _canon(t.read())
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("url_scheme")


def test_cow_column_mapping_rename_drop(spark, tmp_path):
    """Metadata-only RENAME/DROP COLUMN: no file rewritten, reads
    translate at the boundary, time travel keeps old names, DV deletes
    and updates work through the new logical name, guards protect the
    engine's key/stats/constraint columns, and dropped physical names
    are tombstoned against schema-evolution reuse."""
    import pytest

    rows = [
        row(provider="met", fid=f"f{i:03d}", url=f"http://u/{i}",
            title=f"t{i}")
        for i in range(20)
    ]
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, rows), target_files=2
    )
    paths = {e["path"] for e in t._manifest()["files"]}
    t.rename_column("title", "headline")
    assert {e["path"] for e in t._manifest()["files"]} == paths
    assert "headline" in t.read().columns
    assert t.read().filter(F.col("headline") == "t5").count() == 1
    assert "title" in t.read(version=1).columns  # old snapshot intact
    # a fresh handle resolves the mapping from the manifest
    t2 = CowTable(spark, t.root)
    assert t2.read().filter(F.col("headline") == "t5").count() == 1
    # UPDATE and DV-DELETE through the new logical name
    t2.update(F.col("headline") == "t5", {"headline": F.lit("T5")})
    assert t2.read().filter(F.col("headline") == "T5").count() == 1
    t2.delete(F.col("headline") == "t7", mode="dv")
    assert t2.read().filter(F.col("headline") == "t7").count() == 0
    # CDF flows logical names
    feed = t2.read_changes(2, 3).collect()
    assert {r["headline"] for r in feed} == {"t5", "T5"}
    # drop + tombstone: re-adding the physical name is refused
    t2.drop_column("headline")
    assert "headline" not in t2.read().columns
    batch = mk(spark, [row(provider="met", fid="fz", url="http://u/z",
                           title="zz")])
    with pytest.raises(ValueError, match="physical"):
        t2.merge(
            batch, COLS, deterministic=True, allow_new_columns=True
        )
    # guards: keys, url, constraint columns stay in physical space
    with pytest.raises(ValueError, match="merge key"):
        t2.rename_column("provider", "src")
    with pytest.raises(ValueError, match="url"):
        t2.drop_column("url")
    t2.add_constraint("fs_pos", "filesize IS NULL OR filesize >= 0")
    with pytest.raises(ValueError, match="CHECK"):
        t2.rename_column("filesize", "bytes")


def test_cow_clone_and_restore_carry_table_properties(spark, tmp_path):
    """Properties are part of the snapshot: a clone inherits mapping,
    constraints and stats cols; RESTORE to a pre-rename version
    restores the old schema and mapping."""
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, _base_rows()),
        target_files=2,
    )
    t.add_constraint("u_scheme", "url LIKE 'http%'")
    t.rename_column("title", "headline_x")
    c = t.clone(str(tmp_path / "branch"))
    assert "headline_x" in c.read().columns
    assert "u_scheme" in CowTable(spark, c.root).constraints
    res = t.restore(2)  # the add_constraint commit, pre-rename
    assert res["restored_from"] == 2
    t3 = CowTable(spark, t.root)
    assert "title" in t3.read().columns
    assert "headline_x" not in t3.read().columns


def test_cow_stream_changes_sees_dv_commits(spark, tmp_path):
    """A deletion-vector commit changes no file list, only entry
    content — the commit-log stream must still deliver its logical
    deltas to the consumer (the CDF spine every incremental consumer
    hangs off)."""
    from openverse_catalog_spark.streaming.incremental import (
        stream_cow_changes,
    )

    t = _dv_fixture(spark, tmp_path, n=1_000)
    t.delete(F.col("grp") == 3, mode="dv")
    seen = []

    def apply(changes, lo, hi):
        seen.append(
            (lo, hi, sorted(
                (r["_change_type"], r["_commit_version"])
                for r in changes.select(
                    "_change_type", "_commit_version"
                ).distinct().collect()
            ))
        )

    res = stream_cow_changes(
        t, str(tmp_path / "ckpt"), apply, start_version=1
    )
    assert res["high_water"] == 2
    assert seen and seen[0][2] == [("delete", 2)]
    # a second dv delete streams incrementally from the mark
    t.delete(F.col("grp") == 5, mode="dv")
    seen.clear()
    res2 = stream_cow_changes(
        t, str(tmp_path / "ckpt"), apply, start_version=1
    )
    assert res2["high_water"] == 3
    assert seen and seen[0][2] == [("delete", 3)]


def test_cow_concurrent_mixed_dv_merge_compact_threads(spark, tmp_path):
    """REAL-concurrency stress over the round-5 surface: four threads
    interleave provider merges, DV deletes and a compactor; every
    logical update must land exactly once (relink or rebase, never a
    lost update) and the final table must equal the serial result."""
    import threading

    rows = [
        row(provider=p, fid=f"f{i:03d}", url=f"http://{p}/{i}",
            title="base")
        for p in ("alpha", "beta", "gamma", "delta")
        for i in range(10)
    ]
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, rows), target_files=4
    )
    errs = []

    def worker(provider, i):
        try:
            h = CowTable(spark, t.root)
            h.merge(
                mk(spark, [row(provider=provider, fid=f"n{i}",
                               url=f"http://{provider}/n{i}",
                               title=f"new-{provider}")]),
                COLS, deterministic=True, max_retries=8,
            )
            h.delete(
                (F.col("provider") == provider)
                & (F.col("foreign_identifier") == "f003"),
                mode="dv", max_retries=8,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def compactor():
        try:
            CowTable(spark, t.root).compact(
                target_rows=1_000_000, max_retries=8
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(p, i))
        for i, p in enumerate(("alpha", "beta", "gamma", "delta"))
    ] + [threading.Thread(target=compactor)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    got = _canon(t.read())
    assert len(got) == 40 + 4 - 4  # 4 inserts, 4 dv deletes
    for i, p in enumerate(("alpha", "beta", "gamma", "delta")):
        assert got[(p, f"n{i}")] == f"new-{p}"
        assert (p, "f003") not in got
    n = t.read().count()
    assert n == t.read().select(
        "provider", "foreign_identifier"
    ).distinct().count()


def test_cow_cdf_replay_reconstructs_head_across_mixed_ops(
    spark, tmp_path
):
    """THE change-feed invariant: applying read_changes(1, head) on top
    of the v1 snapshot reconstructs the head snapshot exactly — across
    a mixed history of merges, copy- and DV-mode updates/deletes,
    compaction (silent) and constraint/schema metadata commits (also
    silent). Any missed, duplicated or mis-typed delta breaks the
    reconstruction."""
    t = _dv_fixture(spark, tmp_path, n=2_000)
    cols = [c for c in COLS if c.name in
            ("provider", "foreign_identifier", "url")]
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
    )

    cols = cols + [ColumnSpec("grp", Datatype.int)]
    batch = spark.createDataFrame(
        [("p", "0000100", "http://u/100", 7),
         ("p", "9999999", "http://u/new", 3)],
        "provider string, foreign_identifier string, url string, grp int",
    )
    t.merge(batch, cols, deterministic=True)              # update + insert
    t.delete(F.col("grp") == 11, mode="dv")               # DV delete
    t.update(F.col("grp") == 12,
             {"url": F.concat(F.col("url"), F.lit("#u"))})  # copy update
    t.update(F.col("grp") == 13,
             {"url": F.concat(F.col("url"), F.lit("#d"))},
             mode="dv")                                   # DV update
    t.add_constraint("grp_range", "grp BETWEEN 0 AND 99")  # metadata
    t.compact(target_rows=10_000)                         # silent
    t.delete(F.col("grp") == 14)                          # copy delete

    feed = t.read_changes(1).collect()
    key = lambda r: (r["provider"], r["foreign_identifier"])  # noqa: E731
    state = {
        key(r): (r["url"], r["grp"])
        for r in t.read(version=1).collect()
    }
    for r in sorted(feed, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("insert", "update_postimage"):
            state[key(r)] = (r["url"], r["grp"])
        elif r["_change_type"] == "delete":
            state.pop(key(r), None)
    head = {
        key(r): (r["url"], r["grp"]) for r in t.read().collect()
    }
    assert state == head
    assert len(head) == 2_000 + 1 - 20 - 20  # insert, dv-del grp11, del grp14


def test_merge_batch_with_row_grain_keys_coarsens_boxes(spark, tmp_path):
    """A merge batch with > 65536 distinct keys[0] values (a fine-key
    table / giant backfill) must NOT error: the file-skip summary
    collapses to one global range box — coarser skipping, same result.
    Files fully outside the batch's key range still skip."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    n = 70_000
    base = spark.range(n).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    t = CowTable.create(
        spark, str(tmp_path / "fine"), base, keys=("id",), target_files=8
    )
    cols = [
        ColumnSpec("id", Datatype.int, required=True,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("v", Datatype.int),
    ]
    # every distinct id in the LOWER HALF of the keyspace: overflow the
    # per-value summary, but leave the upper half's files skippable
    batch = spark.range(n // 2).select(
        F.col("id"), F.lit(-1).alias("v")
    )
    res = t.merge(batch, cols, deterministic=True)
    assert res["version"] == 2
    assert res["files_skipped"] > 0  # upper-range files never rewrote
    got = t.read().groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("v") == -1, 1).otherwise(0)).alias("updated"),
    ).head()
    assert got["n"] == n and got["updated"] == n // 2


def test_partitioned_table_keeps_sampling_path(spark, tmp_path):
    """Partitioned tables must fall back to the sampling write (their
    partition transforms are not derivable driver-side): merge stays
    correct and files stay partition-pure."""
    df = spark.range(400).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        F.col("id").alias("v"),
    )
    t = CowTable.create(
        spark, str(tmp_path / "t"), df, keys=("k",),
        target_files=4, partition_by=("p",),
    )
    batch = spark.createDataFrame(
        [("7", "3", 999)], "k string, p string, v long"
    )
    cols = [
        ColumnSpec("k", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("p", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("v", Datatype.int,
                   upsert_strategy=UpsertStrategy.newest_non_null),
    ]
    res = t.merge(batch, cols, target_files=2)
    assert res["write"] == "sampled"
    assert t.read().filter("k = '7'").head()["v"] == 999


def _summary(multiset=None, range_box=None):
    return BatchSummary(
        boxes=[], has_null=False, range_box=range_box, multiset=multiset
    )


def _entry(lo, hi, rows):
    return {"min": {"k": lo}, "max": {"k": hi}, "rows": rows}


_STR_SUMMARY = _summary([((f"k{i:02d}",), 1) for i in range(20)])


@pytest.mark.parametrize(
    "summary,entries,n,kw,partitioned,want",
    [
        # one target file: nothing to split, nothing to sample
        (_STR_SUMMARY, [], 1, {}, False, ("single", False)),
        # zero-weight candidates: bounds come out empty
        (_summary([(("x",), 0)]), [], 4, {}, False, ("single", False)),
        # the batch's exact multiset decides the split points
        (_STR_SUMMARY, [], 4, {}, False, ("bounds", False)),
        # a no-batch rewrite: one int key interpolates inside files
        (None, [_entry(0, 599, 600), _entry(600, 1199, 600)], 4,
         {}, False, ("bounds", False)),
        # overflow: a global range box and no multiset
        (_summary(range_box=(("a",), ("z",))), [], 4, {}, False,
         ("sampled", True)),
        # float keys: Python and SQL NaN ordering diverge
        (_summary([((1.5,), 3)]), [], 4, {}, False, ("sampled", True)),
        # partition transforms are not derivable on the driver
        (_STR_SUMMARY, [], 4, {}, True, ("sampled", True)),
        # two file-end candidates cannot fill four buckets
        (None, [_entry("a", "f", 10), _entry("g", "m", 10)], 4,
         {}, False, ("sampled", False)),
        # an input column named like the router's own
        (_STR_SUMMARY, [], 4, {"cols": ["k", "__rt"]}, False,
         ("sampled", True)),
        # create: scan lineage by default, opt-in checkpoint
        (None, [], 8, {}, False, ("sampled", False)),
        (None, [], 8, {"checkpoint": True}, False, ("sampled", True)),
        # z-order clusters on its own column
        (None, [_entry(0, 599, 600), _entry(600, 1199, 600)], 4,
         {"order": ("__z",)}, False, ("sampled", False)),
    ],
    ids=[
        "one_file", "empty_bounds", "multiset", "int_interpolated",
        "overflow_box", "float_keys", "partitioned", "few_file_ends",
        "route_col", "create", "create_checkpoint", "zorder",
    ],
)
def test_plan_write_kinds(spark, tmp_path, summary, entries, n, kw,
                          partitioned, want):
    """Every branch of the write planner, pinned: which layout a
    commit takes and whether its input is checkpointed."""
    t = CowTable(
        spark, str(tmp_path / "t"), keys=("k",),
        partition_by=("p",) if partitioned else None,
    )
    plan = t._plan_write(summary, entries, n, **kw)
    assert (plan.kind, plan.checkpoint) == want
    if plan.kind == "bounds":
        assert plan.n == len(plan.bounds) + 1 <= n
    assert plan.order == kw.get("order", ("k",))


def test_murmur3_int_matches_spark_hash(spark):
    """The driver-side Murmur3 port must agree with F.hash (seed 42)
    for every int32 — the routing slots depend on it bit-for-bit."""
    xs = list(range(64)) + [997, 65536, 2**31 - 1, 123456789]
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    got = {r["x"]: r["h"] for r in df.select(
        "x", F.hash("x").alias("h")).collect()}
    for x in xs:
        assert _m3_hash_int(x) == got[x], x


def test_hash_route_slots_cover_partitions():
    for n in (2, 3, 4, 5, 8, 16, 33):
        slots = _hash_route_slots(n)
        assert len(slots) == n
        assert [(_m3_hash_int(v) % n) for v in slots] == list(range(n))


def test_determine_bounds_weighted_quantiles():
    # uniform weights: quartile split points
    cands = [((i,), 1.0) for i in range(100)]
    assert _determine_bounds(cands, 4) == [(24,), (49,), (74,)]
    # duplicate-heavy head: duplicate bounds are skipped, later keys
    # become bounds until the cumulative target catches up
    cands = [((0,), 97.0), ((1,), 1.0), ((2,), 1.0), ((3,), 1.0)]
    assert _determine_bounds(cands, 4) == [(0,), (1,), (2,)]
    # None sorts first
    cands = [((None,), 50.0), ((5,), 50.0)]
    assert _determine_bounds(cands, 2) == [(None,)]


def _mk_cols():
    return [
        ColumnSpec("k", Datatype.char, upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("v", Datatype.int,
                   upsert_strategy=UpsertStrategy.newest_non_null),
    ]


def test_bounds_write_balanced_and_equivalent(spark, tmp_path):
    """A merge through the bounds path lands the same rows as the
    semantic model, with range-disjoint files balanced at the exact
    per-key quantiles (no sampling job ran: the multiset decided)."""
    df = spark.range(1000).select(
        F.format_string("id%04d", "id").alias("k"),
        F.col("id").cast("long").alias("v"),
    )
    t = CowTable.create(
        spark, str(tmp_path / "t"), df, keys=("k",), target_files=4
    )
    batch = spark.range(0, 1000, 7).select(
        F.format_string("id%04d", "id").alias("k"),
        (F.col("id") + 10000).cast("long").alias("v"),
    )
    res = t.merge(batch, _mk_cols(), target_files=4)
    assert res["files_written"] == 4 and res["write"] == "bounds"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {
        f"id{i:04d}": (i + 10000 if i % 7 == 0 else i) for i in range(1000)
    }
    ent = sorted(
        t._manifest()["files"], key=lambda e: e["min"]["k"]
    )
    # exact quantile balance: the full-multiset bounds split 1000 rows
    # into 4 x 250, and per-file ranges are disjoint and ordered
    assert [e["rows"] for e in ent] == [250, 250, 250, 250]
    for a, b in zip(ent, ent[1:]):
        assert a["max"]["k"] < b["min"]["k"]


def test_bounds_write_null_keys_route_first(spark, tmp_path):
    """NULL keys route to the first bucket (range ordering is
    ascending-nulls-first) and survive the merge unchanged."""
    rows = [(None, 0)] + [(f"k{i:03d}", i) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "k string, v long")
    t = CowTable.create(
        spark, str(tmp_path / "t"), df, keys=("k",), target_files=2
    )
    batch = spark.createDataFrame(
        [(None, 100), ("k050", 5050)], "k string, v long"
    )
    t.merge(batch, _mk_cols(), target_files=3)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[None] == 100 and got["k050"] == 5050
    assert len(got) == 200


def test_rewrite_bounds_from_entries_int_interpolation(spark, tmp_path):
    """Predicated UPDATE derives bounds from the touched entries' int
    key stats (interior interpolation) — no sampling job — and the
    rewritten table is value-identical."""
    df = spark.range(1200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    cols = [
        ColumnSpec("k", Datatype.int,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("v", Datatype.int,
                   upsert_strategy=UpsertStrategy.newest_non_null),
    ]
    t = CowTable.create(
        spark, str(tmp_path / "t"), df, keys=("k",), target_files=4
    )
    t.update(F.col("k") % 3 == 0, {"v": F.lit(-1)}, target_files=4)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {i: (-1 if i % 3 == 0 else 2 * i) for i in range(1200)}
    # interpolated entry candidates keep multiple balanced files
    ent = t._manifest()["files"]
    assert len(ent) >= 3
    assert max(e["rows"] for e in ent) <= 2.5 * min(
        e["rows"] for e in ent
    )


def test_entry_hit_overflow_range_box_composite_keys(spark, tmp_path):
    """The overflow summary's one global box (composite keys) keeps
    every file whose (keys[0], keys[1]) range meets the box's
    lexicographic interval and skips the rest; a batch with a NULL key
    component still routes to files holding NULL keys."""
    t = CowTable(spark, str(tmp_path / "t"), keys=("p", "f"))
    box = BatchSummary(
        boxes=[], has_null=False, range_box=(("b", "f10"), ("c", "f20"))
    )

    def entry(lo, hi, nulls=0):
        return {
            "min": {"p": lo[0], "f": lo[1]},
            "max": {"p": hi[0], "f": hi[1]},
            "null_keys": {"p": 0, "f": nulls},
        }

    assert not t._entry_hit(entry(("a", "f00"), ("a", "f99")), box)
    assert not t._entry_hit(entry(("b", "f00"), ("b", "f09")), box)
    assert t._entry_hit(entry(("b", "f05"), ("b", "f15")), box)
    # conservative: inside the interval though past the box's f range
    assert t._entry_hit(entry(("c", "f00"), ("c", "f30")), box)
    assert not t._entry_hit(entry(("c", "f21"), ("d", "f00")), box)
    with_null = BatchSummary(
        boxes=[], has_null=True, range_box=box.range_box
    )
    assert t._entry_hit(entry(("a", "f00"), ("a", "f99"), 1), with_null)
    assert not t._entry_hit(entry(("a", "f00"), ("a", "f99")), with_null)
    assert not box.empty


def test_reader_feature_gate(spark, tmp_path):
    """Commits record the optional read-path features their snapshot
    needs (dv / column_mapping); a manifest demanding a feature this
    engine lacks is REFUSED with a clear error instead of silently
    mis-read — and feature flags drop back off when the capability is
    no longer needed."""
    import pytest

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "id bigint, val bigint"
    )
    t = CowTable.create(spark, str(tmp_path / "t"), base, keys=("id",),
                        target_files=2)
    assert t._manifest(1).get("reader_features") == []
    t.delete(F.col("id") < 5, mode="dv")
    assert t._manifest(2)["reader_features"] == ["dv"]
    t.rename_column("val", "score")
    assert "column_mapping" in t._manifest(3)["reader_features"]
    # compaction materializes DVs away -> "dv" drops off the new commit
    t.compact(target_rows=1_000_000)
    assert "dv" not in t._manifest(t.version)["reader_features"]

    # a future writer's manifest: refuse, with the feature named
    m = dict(t._raw_manifest(t.version))
    m["version"] = t.version + 1
    m["reader_features"] = ["dv", "vector_index_v9"]
    with open(f"{t.root}/manifests/v{m['version']}.json", "w") as f:
        json.dump(m, f, default=str)
    fresh = CowTable(spark, t.root, keys=("id",))
    with pytest.raises(ValueError, match="vector_index_v9"):
        fresh.read()
    # older versions (not requiring the unknown feature) still read
    assert fresh.read(1).count() == 40


def test_analyze_stats_version_pinned_and_approx(spark, tmp_path):
    """ANALYZE stores stats pinned to the analyzed version (time-travel
    readers never see future stats); the HLL path lands within its
    documented error envelope."""
    base = spark.createDataFrame(
        [(i, f"u{i % 7}", None if i % 5 == 0 else i * 2)
         for i in range(500)],
        "id bigint, grp string, val bigint",
    )
    t = CowTable.create(spark, str(tmp_path / "t"), base, keys=("id",),
                        target_files=2)
    assert t.stats() is None
    doc = t.analyze()
    assert doc["rows"] == 500
    assert doc["columns"]["grp"]["ndv"] == 7
    assert doc["columns"]["val"]["nulls"] == 100
    assert doc["columns"]["id"]["min"] == "0"
    # churn past the analyzed version: old stats still served (stale,
    # version-pinned), and a re-analyze at head supersedes them
    t.delete(F.col("id") >= 250)
    assert t.stats()["rows"] == 500  # v1 stats, newest <= head
    doc2 = t.analyze()
    assert doc2["rows"] == 250 and t.stats()["rows"] == 250
    assert t.stats(version=1)["rows"] == 500  # time travel
    # approx NDV within ~5% (HLL++ default rsd 0.05, one fixed dataset)
    apx = t.analyze(approx=True)
    exact = doc2["columns"]["id"]["ndv"]
    assert abs(apx["columns"]["id"]["ndv"] - exact) <= max(3, exact * 0.1)


# -- hidden partitioning (Iceberg partition transforms, manifest-level) -----


def _ts_rows(spark):
    """8 days x varied providers with a timestamp column."""
    import datetime

    rows = []
    for d in range(1, 9):
        for i in range(30):
            rows.append(
                (
                    f"p{i % 4}",
                    f"id{d}_{i:03d}",
                    datetime.datetime(2023, 5, d, i % 24),
                    i,
                )
            )
    return spark.createDataFrame(
        rows, "provider string, foreign_id string, created_on timestamp, v int"
    )


def test_cow_partition_day_pruning_exact(spark, tmp_path):
    df = _ts_rows(spark)
    t = CowTable.create(
        spark, str(tmp_path / "pt"), df, keys=("provider", "foreign_id"),
        target_files=8, partition_by=("day(created_on)",),
    )
    bounds = ("2023-05-03 00:00:00", "2023-05-03 23:59:59")
    picked, rest = t.read_where({"created_on": bounds}, _split=True)
    # files clustered day-first: a one-day probe must prune most files
    assert len(picked) < len(picked) + len(rest)
    assert len(picked) <= 2
    got = t.read_where({"created_on": bounds})
    exp = df.filter(
        (F.col("created_on") >= bounds[0]) & (F.col("created_on") <= bounds[1])
    )
    assert got.count() == exp.count() > 0


def test_cow_partition_bucket_prunes_after_merge(spark, tmp_path):
    from tests.test_merge_upsert import COLS, mk, row

    base = [
        row(
            provider="flickr" if i < 20 else "met",
            fid=f"f{i:03d}",
            url=f"http://u/{i}",
            title=f"old{i}",
        )
        for i in range(40)
    ]
    tgt = mk(spark, base)
    t = CowTable.create(
        spark, str(tmp_path / "pb"), tgt, target_files=4,
        partition_by=("bucket(4, provider)",),
    )
    src = mk(
        spark,
        [
            row(provider="met", fid="f020", url="http://u/20", title="upd"),
            row(provider="met", fid="f999", url="http://u/999", title="new"),
        ],
    )
    t.merge(src, COLS, deterministic=True)
    m = t._manifest()
    # every rewritten file records its partition fields
    assert all("part" in e for e in m["files"])
    picked, rest = t.read_where({"provider": "met"}, _split=True)
    assert rest, "bucket equality probe should prune at least one file"
    assert t.read_where({"provider": "met"}).count() == 21


def test_cow_partition_spec_evolution_metadata_only(spark, tmp_path):
    df = _ts_rows(spark)
    t = CowTable.create(
        spark, str(tmp_path / "pe"), df, keys=("provider", "foreign_id"),
        target_files=8, partition_by=("day(created_on)",),
    )
    v_before = t.version
    paths_before = sorted(e["path"] for e in t._manifest()["files"])
    t.set_partition_spec(("month(created_on)",))
    m = t._manifest()
    # metadata-only: no file rewritten, one new version
    assert t.version == v_before + 1
    assert sorted(e["path"] for e in m["files"]) == paths_before
    # both field definitions survive for pruning
    assert set(m["partition_fields"]) == {"created_on_day", "created_on_month"}
    assert [s["name"] for s in t.partition_spec] == ["created_on_month"]
    # files written under the OLD spec still prune through their day field
    bounds = ("2023-05-03 00:00:00", "2023-05-03 23:59:59")
    picked, rest = t.read_where({"created_on": bounds}, _split=True)
    assert rest, "pre-evolution files must keep pruning via day field"


def test_cow_partition_probe_safety_conservative(spark, tmp_path):
    df = _ts_rows(spark)
    t = CowTable.create(
        spark, str(tmp_path / "ps"), df, keys=("provider", "foreign_id"),
        target_files=8, partition_by=("day(created_on)",),
    )
    n_all = len(t._manifest()["files"])
    # a non-ISO probe string must KEEP every file (no wrong pruning)
    picked, _ = t.read_where({"created_on": ("2023-5-3", "2023-5-3")}, _split=True)
    assert len(picked) == n_all


def test_cow_partition_validation_and_guards(spark, tmp_path):
    import pytest

    df = _ts_rows(spark)
    with pytest.raises(ValueError, match="unknown column"):
        CowTable.create(
            spark, str(tmp_path / "bad1"), df,
            keys=("provider", "foreign_id"), partition_by=("day(nope)",),
        )
    with pytest.raises(ValueError, match="timestamp/date"):
        CowTable.create(
            spark, str(tmp_path / "bad2"), df,
            keys=("provider", "foreign_id"), partition_by=("day(v)",),
        )
    with pytest.raises(ValueError, match="bad partition transform"):
        CowTable.create(
            spark, str(tmp_path / "bad3"), df,
            keys=("provider", "foreign_id"), partition_by=("median(v)",),
        )
    t = CowTable.create(
        spark, str(tmp_path / "ok"), df, keys=("provider", "foreign_id"),
        partition_by=("day(created_on)",),
    )
    with pytest.raises(ValueError, match="partition source column"):
        t.rename_column("created_on", "ts2")
    assert t.describe()["partition_spec"] == ["created_on_day"]


def test_cow_partitioned_writes_are_partition_pure_and_dv_safe(
    spark, tmp_path
):
    """Partition-pure writes: every file's partition fields record
    min == max (a file never spans a tuple), the __p_* layout columns
    never leak into read schemas, and DV deletes key on the
    data-relative path so identical part basenames across partition
    dirs cannot cross-kill rows."""
    df = _ts_rows(spark)
    t = CowTable.create(
        spark, str(tmp_path / "pp"), df, keys=("provider", "foreign_id"),
        target_files=4, partition_by=("day(created_on)",),
    )
    m = t._manifest()
    for e in m["files"]:
        lo, hi = e["part"]["created_on_day"]
        assert lo == hi and lo is not None
    assert not [c for c in t.read().columns if c.startswith("__p_")]
    assert t.read().count() == 240
    # DV delete on the partitioned table: one day dies, bytes stay
    # file-local, every other day survives exactly
    res = t.delete(
        F.expr("created_on >= '2023-05-03' AND created_on < '2023-05-04'"),
        mode="dv",
    )
    assert res["files_dv"] >= 1 and res["files_rewritten"] == 0
    assert t.read().count() == 210
    assert t.read().filter(
        (F.col("created_on") >= "2023-05-03")
        & (F.col("created_on") < "2023-05-04")
    ).count() == 0
    # partitions metadata table is exact after the DV (live rows)
    parts = {
        r["partition"]["created_on_day"]: r["rows"]
        for r in t.partitions_df().collect()
    }
    assert parts.get("2023-05-03", 0) == 0
    assert sum(parts.values()) == 210


def test_cow_zorder_preserves_partition_purity(spark, tmp_path):
    """OPTIMIZE ZORDER on a hidden-partitioned table z-orders WITHIN
    partitions: after the rewrite every file is still partition-pure
    (partition pruning survives) AND range reads prune on the z
    columns inside partitions."""
    import datetime

    rows = []
    for d in (1, 2):
        for i in range(200):
            rows.append((
                f"id{d}_{i:03d}",
                datetime.datetime(2023, 5, d),
                float((i * 37) % 100),
                float((i * 61) % 100),
            ))
    df = spark.createDataFrame(
        rows, "fid string, created_on timestamp, x double, y double"
    )
    t = CowTable.create(
        spark, str(tmp_path / "zp"), df, keys=("fid",),
        target_files=4, partition_by=("day(created_on)",),
        stats_cols=("x", "y"),
    )
    t.compact(
        target_rows=50,
        zorder_by={"x": (0, 100), "y": (0, 100)},
        zorder_bits=5,
    )
    m = t._manifest()
    for e in m["files"]:
        lo, hi = e["part"]["created_on_day"]
        assert lo == hi and lo is not None, "zorder must not un-purify"
    # both prunings still work after the rewrite
    picked, rest = t.read_where(
        {"created_on": ("2023-05-01 00:00:00", "2023-05-01 23:59:59")},
        _split=True,
    )
    assert rest, "partition pruning must survive zorder"
    box = t.read_where({"x": (0.0, 20.0), "y": (0.0, 20.0)})
    assert len(box.inputFiles()) < len(m["files"]), "z-skip must bite"
    assert t.read().count() == 400


def test_cow_merge_when_clauses(spark, tmp_path):
    """Conditional MERGE: WHEN MATCHED AND cond THEN DELETE /
    WHEN MATCHED AND cond THEN UPDATE SET (partial, source-referencing)
    / WHEN NOT MATCHED AND cond THEN INSERT *, Delta clause order, with
    file skipping intact."""
    rows = [(f"k{i:03d}", 10 * i, "keep") for i in range(40)]
    base = spark.createDataFrame(rows, "fid string, val long, tag string")
    t = CowTable.create(
        spark, str(tmp_path / "mw"), base, keys=("fid",), target_files=4
    )
    src = spark.createDataFrame(
        [
            ("k001", 999, "del"),     # matched + delete_cond
            ("k002", 999, "upd"),     # matched + update_cond
            ("k003", 999, "skip"),    # matched, neither cond -> carried
            ("zz1", 7, "ins"),        # unmatched + insert_cond
            ("zz2", 7, "no"),         # unmatched, cond false -> dropped
        ],
        "fid string, val long, tag string",
    )
    res = t.merge_when(
        src,
        delete_cond="s.tag = 'del'",
        update_set={"val": "t.val + s.val", "tag": "s.tag"},
        update_cond="s.tag = 'upd'",
        insert_cond="s.tag = 'ins'",
    )
    assert res["files_skipped"] > 0, "file skipping must survive"
    got = {r["fid"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert "k001" not in got
    assert got["k002"] == (20 + 999, "upd")
    assert got["k003"] == (30, "keep")
    assert got["zz1"] == (7, "ins")
    assert "zz2" not in got
    assert len(got) == 40 - 1 + 1

    # UPDATE SET * takes every shared non-key source column
    t.merge_when(
        spark.createDataFrame(
            [("k005", 1, "star")], "fid string, val long, tag string"
        ),
        update_set="*",
        insert=False,
    )
    got = {r["fid"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert got["k005"] == (1, "star")

    # delete takes precedence over update on the same matched row
    t.merge_when(
        spark.createDataFrame([("k006", 5, "x")],
                              "fid string, val long, tag string"),
        delete_cond="s.val = 5",
        update_set={"val": "s.val"},
    )
    assert "k006" not in {r["fid"] for r in t.read().collect()}

    # guards: duplicate source keys, SET on a key, unknown column
    import pytest

    dup = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y")], "fid string, val long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge_when(dup, update_set="*")
    one = spark.createDataFrame([("a", 1, "x")],
                                "fid string, val long, tag string")
    with pytest.raises(ValueError, match="cannot assign merge keys"):
        t.merge_when(one, update_set={"fid": "s.fid"})
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge_when(one, update_set={"nope": "1"})
    with pytest.raises(ValueError, match="no-op"):
        t.merge_when(one, insert=False)

    # NULL conditions are false (SQL): no row vanishes on a NULL cond
    before = t.read().count()
    t.merge_when(
        spark.createDataFrame([("k007", None, "z")],
                              "fid string, val long, tag string"),
        delete_cond="s.val > 0",  # NULL -> not deleted
        insert=False,
    )
    assert t.read().count() == before

    # empty batch and all-unmatched-cond-false batch are version no-ops
    v = t.version
    t.merge_when(one.limit(0), update_set="*")
    assert t.version == v


def test_cow_apply_changes_cdc_semantics(spark, tmp_path):
    """apply_changes: latest-wins within a batch (ties: delete beats
    upsert), stored-sequence fence across batches (stale updates and
    stale deletes ignored), delete-absent no-op, re-insert after
    delete."""
    from openverse_catalog_spark.streaming.incremental import apply_changes

    base = spark.createDataFrame(
        [("a", 1.0, 10), ("b", 2.0, 10), ("c", 3.0, 10)],
        "fid string, val double, seq long",
    )
    t = CowTable.create(
        spark, str(tmp_path / "cdc"), base, keys=("fid",), target_files=2
    )
    sch = "fid string, val double, seq long, op string"

    # batch 1: a gets two upserts (latest wins), b a same-seq
    # upsert+delete tie (delete wins), d inserted, ghost-delete no-op
    apply_changes(t, spark.createDataFrame(
        [
            ("a", 5.0, 11, "U"), ("a", 6.0, 12, "U"),
            ("b", 9.0, 11, "U"), ("b", None, 11, "D"),
            ("d", 4.0, 11, "U"),
            ("zz", None, 99, "D"),
        ], sch), sequence_by="seq")
    got = {r["fid"]: (r["val"], r["seq"]) for r in t.read().collect()}
    assert got["a"] == (6.0, 12)
    assert "b" not in got
    assert got["d"] == (4.0, 11)
    assert got["c"] == (3.0, 10)

    # batch 2: stale update + stale delete (seq below stored) ignored;
    # b re-inserts after its delete (no tombstone retention)
    apply_changes(t, spark.createDataFrame(
        [
            ("a", -1.0, 5, "U"),
            ("c", None, 5, "D"),
            ("b", 7.0, 20, "U"),
        ], sch), sequence_by="seq")
    got = {r["fid"]: (r["val"], r["seq"]) for r in t.read().collect()}
    assert got["a"] == (6.0, 12), "stale update must be fenced"
    assert got["c"] == (3.0, 10), "stale delete must be fenced"
    assert got["b"] == (7.0, 20), "re-insert after delete"

    import pytest

    with pytest.raises(ValueError, match="lacks op column"):
        apply_changes(
            t,
            spark.createDataFrame([("a", 1.0, 1)],
                                  "fid string, val double, seq long"),
            sequence_by="seq",
        )


def test_cow_txn_idempotent_writes(spark, tmp_path):
    """Writer idempotency tokens (Delta's txnAppId/txnVersion): a
    replayed (app, version) merge is a no-op; a newer version applies;
    apps are independent; the recorded map survives unrelated
    commits."""
    base = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(10)], "fid string, val double"
    )
    t = CowTable.create(
        spark, str(tmp_path / "txn"), base, keys=("fid",), target_files=2
    )
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("val", Datatype.double),
    ]
    b1 = spark.createDataFrame([("k1", 100.0)], "fid string, val double")
    r1 = t.merge(b1, cols, deterministic=True, txn_app="job", txn_version=7)
    assert "txn_skipped" not in r1
    v_after = t.version
    # replay of the same batch: version unchanged, flagged as skipped
    r2 = t.merge(b1, cols, deterministic=True, txn_app="job", txn_version=7)
    assert r2["txn_skipped"] and t.version == v_after
    # an OLDER version from the same app is also fenced
    r3 = t.merge(b1, cols, deterministic=True, txn_app="job", txn_version=3)
    assert r3["txn_skipped"] and t.version == v_after
    # a newer version applies
    b2 = spark.createDataFrame([("k2", 200.0)], "fid string, val double")
    r4 = t.merge(b2, cols, deterministic=True, txn_app="job", txn_version=8)
    assert "txn_skipped" not in r4 and t.version == v_after + 1
    # independent app: same numeric version is NOT fenced
    r5 = t.merge(
        spark.createDataFrame([("k3", 300.0)], "fid string, val double"),
        cols, deterministic=True, txn_app="other", txn_version=7,
    )
    assert "txn_skipped" not in r5
    # an unrelated non-txn commit carries the map forward
    t.delete(F.col("fid") == "k9")
    r6 = t.merge(b1, cols, deterministic=True, txn_app="job", txn_version=8)
    assert r6["txn_skipped"]
    assert t._manifest().get("txns") == {"job": 8, "other": 7}

    # merge_when honors the same fence
    mw = spark.createDataFrame(
        [("k1", 1.0, "x")], "fid string, val double, tag string"
    )
    r7 = t.merge_when(
        mw.select("fid", "val"), update_set="*",
        txn_app="cdcjob", txn_version=1,
    )
    assert "txn_skipped" not in r7
    r8 = t.merge_when(
        mw.select("fid", "val"), update_set="*",
        txn_app="cdcjob", txn_version=1,
    )
    assert r8["txn_skipped"]


def test_cow_zorder_incremental_rewrites_only_new_files(spark, tmp_path):
    """zorder_incremental: files already clustered under the identical
    spec carry BY REFERENCE (same path), only merge-written files since
    the last OPTIMIZE rewrite, bucket bounds are pinned by the first
    run, and z-skipping still works on the combined layout."""
    rows = [
        (f"k{i:03d}", float((i * 37) % 100), float((i * 61) % 100))
        for i in range(300)
    ]
    t = CowTable.create(
        spark, str(tmp_path / "zi"),
        spark.createDataFrame(rows, "fid string, x double, y double"),
        keys=("fid",), target_files=4, stats_cols=("x", "y"),
    )
    r1 = t.compact(target_rows=60, zorder_by=["x", "y"], zorder_bits=5)
    m1 = t._manifest()
    clustered = {e["path"] for e in m1["files"]}
    tag = m1["files"][0]["cluster"]
    assert tag["cols"] == ["x", "y"] and tag["bits"] == 5
    assert all(e.get("cluster") == tag for e in m1["files"])

    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
        ColumnSpec("y", Datatype.double),
    ]
    # new batch INCLUDING values beyond the pinned bounds (must clamp)
    # — large enough that the drifted mass exceeds the TABLE-relative
    # gate (100 drifted / 400 live rows = 0.25 > 0.2)
    t.merge(
        spark.createDataFrame(
            [(f"n{i:03d}", float(200 + i), float(-50 - i))
             for i in range(100)],
            "fid string, x double, y double",
        ),
        cols, deterministic=True,
    )
    m2 = t._manifest()
    unclustered = [e for e in m2["files"] if e.get("cluster") != tag]
    assert unclustered, "merge must have produced unclustered files"

    r2 = t.compact(
        target_rows=60, zorder_by=["x", "y"], zorder_bits=5,
        zorder_incremental=True,
    )
    m3 = t._manifest()
    # every previously-clustered file that the merge did not touch
    # carried by reference; only the unclustered set rewrote
    survived = clustered & {e["path"] for e in m3["files"]}
    assert survived, "already-clustered files must carry by reference"
    assert r2["files_compacted"] == len(unclustered)
    # bounds were REUSED from the first run's tag, not recomputed from
    # the (wider) current data
    assert all(
        e["cluster"]["bounds"] == tag["bounds"]
        for e in m3["files"] if e.get("cluster")
    )
    assert t.read().count() == 400
    # the wholly-out-of-bounds batch tripped the drift gate (every
    # rewritten row clamped), so the NEXT incremental run escalates to
    # a full re-tighten with fresh bounds instead of no-opping
    assert m3["zorder_clamp"]["fraction"] > 0.2
    r3 = t.compact(target_rows=60, zorder_by=["x", "y"], zorder_bits=5,
                   zorder_incremental=True)
    assert r3["retightened"] and r3["files_written"] > 0
    m4 = t._manifest()
    assert m4["zorder_clamp"]["fraction"] == 0.0
    assert all(
        e["cluster"]["bounds"] != tag["bounds"]
        for e in m4["files"] if e.get("cluster")
    ), "re-tighten must recompute bounds over the drifted data"
    # with drift cleared, an incremental run with nothing new is a
    # version no-op again
    v = t.version
    t.compact(target_rows=60, zorder_by=["x", "y"], zorder_bits=5,
              zorder_incremental=True)
    assert t.version == v
    # z-skipping still bites on the combined layout
    box = t.read_where({"x": (0.0, 20.0), "y": (0.0, 20.0)})
    assert len(box.inputFiles()) < len(m4["files"])


def test_cow_bloom_sidecar_lifecycle(spark, tmp_path):
    """Bloom sidecars: bitmaps live in executor-written parquet under
    blooms/, referenced per-entry by pointer. Pins: a fresh handle
    probes through sidecars; a shallow CLONE resolves the source's
    sidecars; vacuum drops sidecar dirs of vacuumed history, keeps
    live ones, and a vacuumed sidecar degrades to conservative-keep
    (exact results, just no pruning)."""
    import os

    rows = [
        ("p", f"f{i:04d}", f"http://h{(i * 7919) % 997}.example/x{i}", f"t{i}")
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "provider string, foreign_identifier string, url string, "
        "title string",
    )
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), df, target_files=6,
        bloom_cols=("url",),
    )
    from tests.test_merge_upsert import COLS  # noqa: F811

    cols = [c for c in COLS if c.name in
            ("provider", "foreign_identifier", "url", "title")]
    t.merge(
        spark.createDataFrame(
            [("p", "f9999", "http://new.example/fresh", "new")],
            "provider string, foreign_identifier string, url string, "
            "title string",
        ),
        cols, deterministic=True,
    )
    sidecars = sorted(os.listdir(f"{t.root}/blooms"))
    assert len(sidecars) == 2  # one per commit that wrote data

    # clone resolves source sidecars (absolute pointer + path rebase)
    c = t.clone(str(tmp_path / "cl"))
    ce = c._manifest()["files"][0]
    assert ce["bloom_sc"].startswith("/")
    hit = c.read_where({"url": rows[123][2]})
    assert [r["foreign_identifier"] for r in hit.collect()] == ["f0123"]
    assert len(hit.inputFiles()) < len(c._manifest()["files"])

    # a full rewrite (compact) re-blooms every file; vacuum then drops
    # every superseded sidecar and keeps only the live one
    t.compact()
    t.vacuum(keep_versions=1, retention_seconds=0)
    left = sorted(os.listdir(f"{t.root}/blooms"))
    assert len(left) == 1
    fresh = CowTable(spark, t.root)
    hit2 = fresh.read_where({"url": "http://new.example/fresh"})
    assert hit2.count() == 1

    # a sidecar deleted out from under a manifest degrades safely:
    # no pruning, still exact
    import shutil

    shutil.rmtree(f"{t.root}/blooms/{left[0]}")
    fresh2 = CowTable(spark, t.root)
    assert fresh2.read_where(
        {"url": "http://new.example/fresh"}
    ).count() == 1


def test_cow_apply_changes_tombstone_retention(spark, tmp_path, monkeypatch):
    """Tombstone retention: a delete's fence survives the row. Stale
    post-delete upserts in LATER batches are dropped; a newer upsert
    clears the tombstone and re-inserts; batch-chop independence holds
    ACROSS a delete boundary (one batch vs chopped-at-the-delete gives
    the same final state); expired tombstones purge, after which a
    stale upsert re-inserts (the documented retention contract).
    Hygiene cadence pinned to every-batch here so the purge assertions
    exercise the physical path."""
    import os
    import time

    import openverse_catalog_spark.streaming.incremental as inc
    from openverse_catalog_spark.streaming.incremental import apply_changes

    monkeypatch.setattr(inc, "_TOMBSTONE_VACUUM_EVERY", 0)

    sch = "fid string, val double, seq long, op string"

    def mk(name):
        base = spark.createDataFrame(
            [("a", 1.0, 0), ("b", 2.0, 0), ("c", 3.0, 0)],
            "fid string, val double, seq long",
        )
        return CowTable.create(
            spark, str(tmp_path / name), base, keys=("fid",),
            target_files=2,
        )

    events = [
        ("a", None, 10, "D"),   # delete a @10
        ("b", 5.0, 3, "U"),     # normal update
        ("a", -1.0, 5, "U"),    # STALE post-delete upsert -> fenced
        ("a", 9.0, 20, "U"),    # fresh upsert -> revives a
        ("c", None, 7, "D"),    # delete c @7
        ("c", -2.0, 6, "U"),    # stale post-delete -> fenced
    ]

    # chopped at every event (worst case) vs one batch: same final state
    t1 = mk("one")
    apply_changes(t1, spark.createDataFrame(events, sch),
                  sequence_by="seq", tombstone_retention=3600)
    t2 = mk("chop")
    for ev in events:
        apply_changes(t2, spark.createDataFrame([ev], sch),
                      sequence_by="seq", tombstone_retention=3600)
    want = {"a": (9.0, 20), "b": (5.0, 3)}
    for t in (t1, t2):
        got = {r["fid"]: (r["val"], r["seq"]) for r in t.read().collect()}
        assert got == want, "c stays deleted, a revives, b updates"

    # tombstone store exists and holds only c (a's tombstone cleared
    # by the reviving upsert)
    ts = CowTable(spark, str(tmp_path / "chop" / "_tombstones"))
    assert {r["fid"] for r in ts.read().collect()} == {"c"}

    # retention: age the tombstone out, then a stale upsert re-inserts
    # (late events past the window are the caller's accepted risk)
    time.sleep(0.01)
    apply_changes(
        t2,
        spark.createDataFrame([("x", 0.0, 1, "U")], sch),
        sequence_by="seq", tombstone_retention=1e-9,
    )
    assert not CowTable(
        spark, str(tmp_path / "chop" / "_tombstones")
    ).read().head(1), "expired tombstones purge on the next apply"
    apply_changes(
        t2,
        spark.createDataFrame([("c", -2.0, 6, "U")], sch),
        sequence_by="seq", tombstone_retention=3600,
    )
    got = {r["fid"]: (r["val"], r["seq"]) for r in t2.read().collect()}
    assert got["c"] == (-2.0, 6)

    # legacy mode (None) untouched: no tombstone table is created
    t3 = mk("legacy")
    apply_changes(t3, spark.createDataFrame(events, sch),
                  sequence_by="seq")
    assert not os.path.isdir(str(tmp_path / "legacy" / "_tombstones"))


def test_cow_tombstone_create_txn_fenced(spark, tmp_path):
    """The tombstone store's CREATING write carries the batch's txn
    token (Delta txnAppId on v1), so a replayed first batch — the
    foreachBatch at-least-once crash window between store create and
    checkpoint advance — txn-skips the store merge instead of minting
    a new store version. r7 bought this fence with create-empty +
    merge_when (+3.3 s/stream fixed cost, SCALING.md r8 A/B); r8 moved
    the token onto the create commit itself: one clustered write, same
    replay guarantee."""
    from openverse_catalog_spark.streaming.incremental import (
        apply_changes,
    )

    sch = "fid string, val double, seq long, op string"
    base = spark.createDataFrame(
        [("a", 1.0, 0), ("b", 2.0, 0), ("c", 3.0, 0)],
        "fid string, val double, seq long",
    )
    t = CowTable.create(
        spark, str(tmp_path / "t"), base, keys=("fid",), target_files=2
    )
    b0 = [("a", None, 10, "D"), ("b", 5.0, 3, "U")]
    apply_changes(
        t, spark.createDataFrame(b0, sch), sequence_by="seq",
        txn_app="cdc", txn_version=0, tombstone_retention=3600,
    )
    ts = CowTable(spark, str(tmp_path / "t" / "_tombstones"))
    assert ts._manifest(1)["txns"] == {"cdc:tombstones": 0}, (
        "the creating commit records the batch token"
    )
    v_store, v_main = ts.version, t.version
    # replay the exact same batch (crash between merge and checkpoint):
    # both the store and the main table must txn-skip — no new versions
    apply_changes(
        t, spark.createDataFrame(b0, sch), sequence_by="seq",
        txn_app="cdc", txn_version=0, tombstone_retention=3600,
    )
    assert (ts.version, t.version) == (v_store, v_main)
    got = {r["fid"]: (r["val"], r["seq"]) for r in t.read().collect()}
    assert got == {"b": (5.0, 3), "c": (3.0, 0)}
    # a genuinely NEW batch still lands through the fenced merge
    apply_changes(
        t, spark.createDataFrame([("c", None, 4, "D")], sch),
        sequence_by="seq", txn_app="cdc", txn_version=1,
        tombstone_retention=3600,
    )
    assert {r["fid"] for r in ts.read().collect()} == {"a", "c"}
    assert {r["fid"] for r in t.read().collect()} == {"b"}


def test_cow_zorder_clamp_drift_retighten(spark, tmp_path):
    """Incremental OPTIMIZE ZORDER drift gate: each incremental run
    records the fraction of rewritten rows clamping outside the pinned
    bucket bounds; under the gate maintain() leaves clustering alone,
    past it maintain() escalates to a full re-cluster with fresh
    bounds — and read_where file-skipping precision recovers."""
    import pyspark.sql.functions as SF

    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    def batch(n, lo, hi, seed):
        return spark.range(n).select(
            SF.concat(SF.lit(f"s{seed}_"), SF.col("id").cast("string"))
            .alias("provider"),
            SF.concat(SF.lit(f"f{seed}_"), SF.col("id").cast("string"))
            .alias("foreign_identifier"),
            (lo + (SF.col("id") * 7919 + seed) % (hi - lo)).cast("double")
            .alias("x"),
            (lo + (SF.col("id") * 104729 + seed) % (hi - lo)).cast("double")
            .alias("y"),
        )

    t = CowTable.create(
        spark, str(tmp_path / "z"), batch(8000, 0, 100, 1),
        target_files=8, stats_cols=("x", "y"),
    )
    r = t.compact(
        target_rows=1000, zorder_by=["x", "y"], zorder_incremental=True
    )
    assert r["files_written"] > 0 and not r["retightened"]
    assert t._manifest()["zorder_clamp"]["fraction"] == 0.0

    cols = [
        ColumnSpec("provider", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("foreign_identifier", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
        ColumnSpec("y", Datatype.double),
    ]

    # in-bounds churn: incremental run measures ~0 drift -> maintain()
    # does NOT re-cluster (the already-tight no-op pin)
    t.merge(batch(1000, 0, 100, 2), cols, deterministic=True)
    t.compact(
        target_rows=1000, zorder_by=["x", "y"], zorder_incremental=True
    )
    assert t._manifest()["zorder_clamp"]["fraction"] <= 0.2
    mt = t.maintain(target_rows=1000, keep_versions=50)
    assert mt["retightened"] is False and "retighten_result" not in mt

    # drifted churn: every new row is outside the pinned [0,100) bounds
    t.merge(batch(8000, 500, 1000, 3), cols, deterministic=True)
    r2 = t.compact(
        target_rows=1000, zorder_by=["x", "y"], zorder_incremental=True
    )
    assert not r2["retightened"]  # this run measures, the next acts
    frac = t._manifest()["zorder_clamp"]["fraction"]
    assert frac > 0.2, f"drift must be recorded (got {frac})"

    def rows_scanned(lo, hi):
        # skip precision = rows the pruned scan must still read (the
        # clamped layout degenerates into edge-bucket files that carry
        # the WHOLE drifted batch, so file counts alone mislead)
        picked, _ = t.read_where({"x": (lo, hi)}, _split=True)
        return sum(e["rows"] for e in picked)

    before = rows_scanned(950.0, 1000.0)
    mt2 = t.maintain(target_rows=1000, keep_versions=50)
    assert mt2["retightened"] is True
    assert t._manifest()["zorder_clamp"]["fraction"] == 0.0
    after = rows_scanned(950.0, 1000.0)
    assert after < before, (
        f"re-tighten must recover skip precision ({before} -> {after})"
    )
    # the drift state survives unrelated commits until the next OPTIMIZE
    t.merge(batch(10, 0, 100, 4), cols, deterministic=True)
    assert t._manifest()["zorder_clamp"]["fraction"] == 0.0


def test_cow_dv_broadcast_guard(spark, tmp_path, monkeypatch):
    """DV apply anti-join: the (file,pos) relation is broadcast only
    while the manifest's recorded deleted-row counts stay under the
    bound (metadata-only decision); past it every read/diff still
    returns exact rows through a shuffle anti-join."""
    import openverse_catalog_spark.operators.cowtable as ct

    base = spark.createDataFrame(
        [(f"f{i:03d}", float(i)) for i in range(100)],
        "fid string, val double",
    )
    t = CowTable.create(
        spark, str(tmp_path / "dvg"), base, keys=("fid",), target_files=2
    )
    t.delete(F.col("val") < 30, mode="dv")
    want = {r["fid"] for r in t.read().collect()}
    assert len(want) == 70

    monkeypatch.setattr(ct, "DV_BROADCAST_MAX_ROWS", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = CowTable(spark, t.root, keys=("fid",))
        df = fresh.read()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, (
            "past the bound the DV anti-join must not be hint-broadcast"
        )
        assert {r["fid"] for r in df.collect()} == want
        # a further DV delete (grown-DV diff path) and the change feed
        # stay exact under the shuffle path too
        fresh.delete(F.col("val") >= 90, mode="dv")
        assert fresh.read().count() == 60
        ch = fresh.read_changes(fresh.version - 1)
        assert ch.filter(F.col("_change_type") == "delete").count() == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # under the bound the hint applies even where size estimates would
    # not broadcast on their own
    monkeypatch.setattr(ct, "DV_BROADCAST_MAX_ROWS", 4_000_000)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = (
            CowTable(spark, t.root, keys=("fid",)).read()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cow_apply_changes_null_sequence_refused(spark, tmp_path):
    """A NULL sequence value loses every latest-wins and fence
    comparison silently — apply_changes refuses the batch instead."""
    import pytest

    from openverse_catalog_spark.streaming.incremental import apply_changes

    t = CowTable.create(
        spark, str(tmp_path / "ns"),
        spark.createDataFrame([("a", 1.0, 0)],
                              "fid string, val double, seq long"),
        keys=("fid",), target_files=1,
    )
    with pytest.raises(ValueError, match="NULL 'seq'"):
        apply_changes(
            t,
            spark.createDataFrame(
                [("a", 2.0, None, "U")],
                "fid string, val double, seq long, op string",
            ),
            sequence_by="seq",
        )


def test_cow_bloom_sidecar_partitioned_paths(spark, tmp_path):
    """Partition-pure writes nest files under __p_*=value dirs where
    BASENAMES repeat — the sidecar must key bitmaps by the same
    partition-qualified relative path the manifest entry records, or
    every probe would silently miss (conservative keep, lost pruning).
    Pins that bloom skipping still bites on a hidden-partitioned
    table."""
    rows = [
        (f"p{i % 3}", f"f{i:04d}", f"http://h{(i * 7919) % 997}.ex/{i}")
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "provider string, foreign_identifier string, url string"
    )
    t = CowTable.create(
        spark, str(tmp_path / "pb"), df, target_files=4,
        bloom_cols=("url",), partition_by=("provider",),
    )
    m = t._manifest()
    n_all = len(m["files"])
    assert n_all >= 3  # at least one file per partition
    assert any("__p_provider=" in e["path"] for e in m["files"])
    # every entry's bitmap resolves through the sidecar by its
    # partition-qualified path
    assert all(t._bloom_rec(e, "url") is not None for e in m["files"])
    hit = t.read_where({"url": rows[123][2]})
    assert [r["foreign_identifier"] for r in hit.collect()] == ["f0123"]
    assert len(hit.inputFiles()) < n_all
    miss = t.read_where({"url": "http://nowhere.ex/absent"})
    assert miss.count() == 0 and len(miss.inputFiles()) == 0


def test_cow_read_join_pruned_multi(spark, tmp_path):
    """Composite-key dynamic file pruning: per-column range/bloom
    checks drop files conservatively, the residual semi-join restores
    exact TUPLE semantics (per-column independence alone would
    over-match mixed tuples), and a column set with no stats at all is
    refused exactly as for one column."""
    rows = [
        (f"f{i:04d}", i % 40, f"s{i % 7}", float(i)) for i in range(800)
    ]
    df = spark.createDataFrame(
        rows, "fid string, bucket int, shard string, v double"
    )
    t = CowTable.create(
        spark, str(tmp_path / "m"), df, keys=("fid",), target_files=8,
        stats_cols=("bucket", "shard"),
    )
    n_all = len(t._manifest()["files"])
    dim = spark.createDataFrame(
        [(3, "s1"), (3, "s2"), (38, "s0")], "bucket int, shard string"
    )
    got = t.read_join_pruned(dim, ["bucket", "shard"])
    want = {
        (r[0], r[1], r[2])
        for r in rows
        if (r[1], r[2]) in {(3, "s1"), (3, "s2"), (38, "s0")}
    }
    assert {
        (r["fid"], r["bucket"], r["shard"]) for r in got.collect()
    } == want
    # tuple semantics: (3, "s0") rows exist but are NOT in the dim and
    # must not leak through per-column independence
    assert not any(
        r["bucket"] == 3 and r["shard"] == "s0" for r in got.collect()
    )

    # files are range-clustered on fid, so bucket/shard stats are wide;
    # prune on the key column instead to see file skipping bite
    key_dim = spark.createDataFrame([("f0001",), ("f0002",)], "fid string")
    pruned = t.read_join_pruned(key_dim, ["fid"])
    assert len(pruned.inputFiles()) < n_all
    # composite including the key column prunes through the key range
    kb_dim = spark.createDataFrame(
        [("f0001", 1), ("f0002", 2)], "fid string, bucket int"
    )
    got2 = t.read_join_pruned(kb_dim, ["fid", "bucket"])
    assert len(got2.inputFiles()) < n_all
    assert {r["fid"] for r in got2.collect()} == {"f0001", "f0002"}

    # all-NULL dim column: equality matches nothing
    null_dim = spark.createDataFrame(
        [(None, "s1")], "bucket int, shard string"
    )
    assert t.read_join_pruned(
        null_dim, ["bucket", "shard"]
    ).count() == 0

    # no stats at all on a column set -> refused, the same ValueError
    # one unprunable column raises (callers fall back to their own plan)
    t2 = CowTable.create(
        spark, str(tmp_path / "nostats"), df, keys=("fid",),
        target_files=2,
    )
    with pytest.raises(ValueError, match="file-level stats"):
        t2.read_join_pruned(dim, ["bucket", "shard"])


# -- every pruned read == its unpruned equivalent --------------------------


def _lk_url(i: int) -> str:
    return f"http://h{(i * 7919) % 997}.example/x{i}"


@pytest.fixture(scope="module")
def pruned_tables(spark, tmp_path_factory):
    """``lk``: keyed (provider, fid) with tight ``n`` stats (n follows
    the key order), wide ``shard`` stats, a ``url`` bloom, four
    NULL-provider rows and one DV-deleted row (fid f0150, n 150).
    ``pt``: day-partitioned on created_on."""
    root = tmp_path_factory.mktemp("pruned")
    rows = [
        (f"p{i // 100}", f"f{i:04d}", i, f"s{i % 7}", _lk_url(i))
        for i in range(400)
    ] + [(None, f"n{i}", 1000 + i, "s0", f"http://null/{i}") for i in range(4)]
    lk = CowTable.create(
        spark, str(root / "lk"),
        spark.createDataFrame(
            rows, "provider string, fid string, n long, shard string, "
            "url string",
        ),
        keys=("provider", "fid"), target_files=8,
        stats_cols=("n", "shard"), bloom_cols=("url",),
    )
    lk.delete(F.col("fid") == "f0150", mode="dv")
    pt = CowTable.create(
        spark, str(root / "pt"), _ts_rows(spark),
        keys=("provider", "foreign_id"), target_files=8,
        partition_by=("day(created_on)",),
    )
    return {"lk": lk, "pt": pt}


def _semi(t, dim, on):
    return t.read().join(dim, on, "semi")


_N = "n long"
_PN = "provider string, n long"
_DAY3 = ("2023-05-03 00:00:00", "2023-05-03 23:59:59")

#: case -> (table, pruned read, unpruned equivalent, files the pruned
#: read scans, as counted before the reads shared one admission test).
#: ``s`` is the Spark session.
_PRUNED_CASES = {
    "read_pruned": (
        "lk",
        lambda t, s: t.read_pruned(["p1", "p3"]),
        lambda t, s: t.read().filter(F.col("provider").isin("p1", "p3")),
        6,
    ),
    "read_pruned_null": (
        "lk",
        lambda t, s: t.read_pruned(["p2", None]),
        lambda t, s: t.read().filter(
            (F.col("provider") == "p2") | F.col("provider").isNull()
        ),
        4,
    ),
    "where_range": (
        "lk",
        lambda t, s: t.read_where({"n": (120, 180)}),
        lambda t, s: t.read().filter(F.col("n").between(120, 180)),
        4,
    ),
    "where_open_range": (
        "lk",
        lambda t, s: t.read_where({"n": (None, 40), "shard": ("s1", None)}),
        lambda t, s: t.read().filter(
            (F.col("n") <= 40) & (F.col("shard") >= "s1")
        ),
        1,
    ),
    "where_eq": (
        "lk",
        lambda t, s: t.read_where({"n": 250}),
        lambda t, s: t.read().filter(F.col("n") == 250),
        2,
    ),
    "where_bloom_eq": (
        "lk",
        lambda t, s: t.read_where({"url": _lk_url(123)}),
        lambda t, s: t.read().filter(F.col("url") == _lk_url(123)),
        1,
    ),
    "where_partition": (
        "pt",
        lambda t, s: t.read_where({"created_on": _DAY3}),
        lambda t, s: t.read().filter(
            F.col("created_on").between(*_DAY3)
        ),
        1,
    ),
    "join_one_col": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame([(149,), (150,), (151,), (320,)], _N), "n"
        ),
        lambda t, s: _semi(
            t, s.createDataFrame([(149,), (150,), (151,), (320,)], _N), "n"
        ),
        4,
    ),
    "join_one_col_bloom": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame(
                [(_lk_url(10),), (_lk_url(123),), ("http://nowhere/x",)],
                "url string",
            ),
            "url",
        ),
        lambda t, s: t.read().filter(
            F.col("url").isin(_lk_url(10), _lk_url(123))
        ),
        2,
    ),
    "join_one_col_all_null": (
        "lk",
        lambda t, s: t.read_join_pruned(s.createDataFrame([(None,)], _N), "n"),
        lambda t, s: t.read().limit(0),
        0,
    ),
    "join_one_col_max_keys": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame([(150,), (151,)], _N), "n", max_keys=1
        ),
        lambda t, s: t.read().filter(F.col("n") == 151),
        9,
    ),
    "join_two_col": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame(
                [("p1", 150), ("p1", 151), ("p3", 151), ("p3", 320)], _PN
            ),
            ["provider", "n"],
        ),
        lambda t, s: t.read().filter(F.col("n").isin(151, 320)),
        3,
    ),
    "join_two_col_all_null": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame([("p1", None)], _PN), ["provider", "n"]
        ),
        lambda t, s: t.read().limit(0),
        0,
    ),
    "join_two_col_max_keys": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame([("p1", 150), ("p1", 151)], _PN),
            ["provider", "n"], max_keys=1,
        ),
        lambda t, s: t.read().filter(F.col("n") == 151),
        9,
    ),
    "join_two_col_mixed_type": (
        "lk",
        lambda t, s: t.read_join_pruned(
            s.createDataFrame(
                [("p1", "151"), ("p3", "320")], "provider string, n string"
            ),
            ["provider", "n"],
        ),
        lambda t, s: t.read().filter(F.col("n").isin(151, 320)),
        6,
    ),
}


def _rows(df):
    """Rows as sorted column->value items (NULLs must sort)."""
    return sorted(
        (tuple(sorted(r.asDict().items())) for r in df.collect()), key=repr
    )


@pytest.mark.parametrize("case", sorted(_PRUNED_CASES))
def test_pruned_read_equals_unpruned(spark, pruned_tables, case):
    """Each pruned read returns exactly the rows of its unpruned
    filter / semi-join over ``read()`` (DV-deleted row, NULL keys and
    tuple semantics included), in the table's column order, and scans
    exactly as many files as the pruning rules admitted before they
    shared one admission test."""
    table, pruned, full, n_files = _PRUNED_CASES[case]
    t = pruned_tables[table]
    got = pruned(t, spark)
    assert got.columns == t.read().columns
    assert _rows(got) == _rows(full(t, spark))
    assert len(got.inputFiles()) == n_files


def test_read_join_pruned_mixed_type_dim_keeps_files(spark, pruned_tables):
    """A string dim over the long ``n`` stats column cannot be ordered
    against the files' bounds: the files are kept and the residual
    decides, exactly as for a two-column join — no TypeError."""
    t = pruned_tables["lk"]
    dim = spark.createDataFrame([("151",), ("320",)], "n string")
    got = t.read_join_pruned(dim, "n")
    assert _rows(got) == _rows(t.read().filter(F.col("n").isin(151, 320)))


def test_cow_analyze_incremental(spark, tmp_path):
    """ANALYZE advanced from the change feed: rows/nulls/min/max stay
    EXACT through inserts, bound-raising updates (pre-image removes the
    stored min -> per-column recompute) and deletes; NDV tracks the
    KMV sketch (exact below k for insert-only churn, an upper bound
    once deletes happen, with the drift recorded); a vacuumed span
    falls back to a full analyze."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    sch = "fid string, grp string, v double"
    base = spark.createDataFrame(
        [(f"f{i:03d}", f"g{i % 7}", float(i)) for i in range(100)]
        + [("fnull", "g0", None)],
        sch,
    )
    t = CowTable.create(
        spark, str(tmp_path / "ai"), base, keys=("fid",), target_files=2
    )
    full0 = t.analyze(cols=["grp", "v"], kmv_k=64)
    assert full0["kmv_k"] == 64 and set(full0["kmv"]) == {"grp", "v"}

    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("grp", Datatype.char),
        ColumnSpec("v", Datatype.double),
    ]
    # churn: new groups + a value beyond the old max; raise the min
    # holder (f000, v=0.0) so the pre-image ties the stored min
    t.merge(
        spark.createDataFrame(
            [("f900", "g7", 1000.0), ("f901", "g8", None),
             ("f000", "g0", 500.0)],
            sch,
        ),
        cols, deterministic=True,
    )
    t.delete(F.col("fid") == "f050")
    inc = t.analyze_incremental()
    assert inc["mode"] == "incremental" and inc["version"] == t.version
    truth = t.analyze(cols=["grp", "v"])  # fresh full scan
    assert inc["rows"] == truth["rows"]
    for c in ("grp", "v"):
        assert inc["columns"][c]["nulls"] == truth["columns"][c]["nulls"]
        assert inc["columns"][c]["min"] == truth["columns"][c]["min"]
        assert inc["columns"][c]["max"] == truth["columns"][c]["max"]
    # deletes happened -> NDV is an upper bound of the live count
    assert inc["deletes_since_full"] >= 1
    assert inc["columns"]["grp"]["ndv"] >= truth["columns"]["grp"]["ndv"]
    # insert-only distincts below k: grp sketch is EXACT over
    # ever-inserted groups (g0..g8 = 9)
    assert inc["columns"]["grp"]["ndv"] == 9

    # the facade's stats-driven planning consumes the advanced doc
    assert t.stats()["rows"] == truth["rows"]

    # vacuumed feed span -> full-analyze fallback (new sketch seeded)
    t.merge(
        spark.createDataFrame([("f902", "g9", 7.0)], sch),
        cols, deterministic=True,
    )
    t.merge(
        spark.createDataFrame([("f903", "g9", 8.0)], sch),
        cols, deterministic=True,
    )
    t.vacuum(keep_versions=1, retention_seconds=0)
    inc2 = t.analyze_incremental()
    assert inc2.get("mode") != "incremental" and "kmv" in inc2
    assert inc2["version"] == t.version


def test_cow_analyze_incremental_metadata_bound_repair(spark, tmp_path):
    """When a bound-tying delete hits a column that has per-file
    manifest stats, the incremental analyze repairs the bound from
    METADATA (fold of per-file bounds) and still lands on the exact
    full-analyze answer."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    t = CowTable.create(
        spark, str(tmp_path / "mb"),
        spark.createDataFrame(
            [(f"f{i:03d}", i * 10) for i in range(50)],
            "fid string, v bigint",
        ),
        keys=("fid",), target_files=4, stats_cols=("v",),
    )
    t.analyze(cols=["v"], kmv_k=32)
    t.delete(F.col("v") == 0)    # the min holder
    t.delete(F.col("v") == 490)  # the max holder
    inc = t.analyze_incremental()
    assert inc["mode"] == "incremental"
    full = t.analyze(cols=["v"])
    assert inc["columns"]["v"]["min"] == full["columns"]["v"]["min"]
    assert inc["columns"]["v"]["max"] == full["columns"]["v"]["max"]
    assert inc["rows"] == full["rows"] == 48


def test_cow_maintain_retighten_edge_cases(spark, tmp_path):
    """maintain() must stay an unattended loop: a recorded drift gate
    over an emptied table no-ops (early-return compact has no work),
    and a z column dropped since the clamp was recorded reports
    retighten_error instead of raising forever."""
    df = spark.createDataFrame(
        [(f"f{i:02d}", float(i), float(i * 2)) for i in range(40)],
        "fid string, x double, y double",
    )
    t = CowTable.create(
        spark, str(tmp_path / "e"), df, keys=("fid",), target_files=4,
        stats_cols=("x", "y"),
    )
    t.compact(target_rows=10, zorder_by=["x"], zorder_incremental=True)
    # force a recorded drift: merge wholly-out-of-bounds rows, then an
    # incremental run measures fraction 1.0
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
        ColumnSpec("y", Datatype.double),
    ]
    t.merge(
        spark.createDataFrame(
            [(f"n{i}", 1000.0 + i, 1.0) for i in range(15)],
            "fid string, x double, y double",
        ),
        cols, deterministic=True,
    )
    t.compact(target_rows=10, zorder_by=["x"], zorder_incremental=True)
    assert t._manifest()["zorder_clamp"]["fraction"] > 0.2

    # emptied table: maintain() completes and reports no retighten work
    t.delete(F.lit(True))
    out = t.maintain(target_rows=10, keep_versions=50)
    assert out["retightened"] is False and "retighten_error" not in out

    # the z column going all-NULL after the clamp was recorded: the
    # re-tighten's bound recompute raises — maintain() reports it and
    # keeps running (it is the unattended loop), never raises
    t2 = CowTable.create(
        spark, str(tmp_path / "e2"), df, keys=("fid",), target_files=4,
        stats_cols=("x", "y"),
    )
    t2.compact(target_rows=10, zorder_by=["x"], zorder_incremental=True)
    t2.merge(
        spark.createDataFrame(
            [(f"n{i}", 1000.0 + i, 1.0) for i in range(15)],
            "fid string, x double, y double",
        ),
        cols, deterministic=True,
    )
    t2.compact(target_rows=10, zorder_by=["x"], zorder_incremental=True)
    assert t2._manifest()["zorder_clamp"]["fraction"] > 0.2
    t2.delete(F.col("x").isNotNull())
    t2.merge(
        spark.createDataFrame(
            [(f"z{i}", None, 5.0) for i in range(6)],
            "fid string, x double, y double",
        ),
        cols, deterministic=True,
    )
    out2 = t2.maintain(target_rows=10, keep_versions=50)
    assert "retighten_error" in out2 and out2["retightened"] is False
    assert "all-NULL" in out2["retighten_error"]


def test_cow_analyze_incremental_schema_evolution(spark, tmp_path):
    """Columns dropped/renamed after the stats seed re-seed with a full
    analyze instead of crashing the stats loop."""
    t = CowTable.create(
        spark, str(tmp_path / "se"),
        spark.createDataFrame(
            [(f"f{i}", i, i * 2) for i in range(20)],
            "fid string, a bigint, b bigint",
        ),
        keys=("fid",), target_files=1,
    )
    t.analyze(cols=["a", "b"], kmv_k=16)
    t.drop_column("b")
    doc = t.analyze_incremental()
    assert doc.get("mode") != "incremental"  # full re-seed
    assert set(doc["columns"]) == {"a"}
    assert doc["version"] == t.version


def test_cow_tombstone_store_crashed_create(spark, tmp_path):
    """A _tombstones directory with NO committed manifest (crash inside
    the first create) is debris, not a table: the next apply clears it
    and proceeds."""
    import os

    from openverse_catalog_spark.streaming.incremental import apply_changes

    t = CowTable.create(
        spark, str(tmp_path / "tc"),
        spark.createDataFrame([("a", 1.0, 0)],
                              "fid string, val double, seq long"),
        keys=("fid",), target_files=1,
    )
    husk = str(tmp_path / "tc" / "_tombstones" / "data")
    os.makedirs(husk)  # simulate data written, manifest never linked
    apply_changes(
        t,
        spark.createDataFrame(
            [("a", None, 10, "D"), ("b", 2.0, 3, "U")],
            "fid string, val double, seq long, op string",
        ),
        sequence_by="seq", tombstone_retention=3600,
    )
    got = {r["fid"] for r in t.read().collect()}
    assert got == {"b"}
    # the store was recreated properly and fences a stale upsert
    apply_changes(
        t,
        spark.createDataFrame(
            [("a", -1.0, 5, "U")],
            "fid string, val double, seq long, op string",
        ),
        sequence_by="seq", tombstone_retention=3600,
    )
    assert {r["fid"] for r in t.read().collect()} == {"b"}


def test_cow_tombstone_store_survives_own_vacuum(spark, tmp_path, monkeypatch):
    """The tombstone vacuum eventually drops v1.json; the store must
    still be recognized by its NEWER manifests (probing v1 specifically
    would misread a live store as debris and destroy every delete
    fence). Cadence pinned to every-batch so the horizon is crossed
    within a short fixture."""
    import os
    import re

    import openverse_catalog_spark.streaming.incremental as inc
    from openverse_catalog_spark.streaming.incremental import apply_changes

    monkeypatch.setattr(inc, "_TOMBSTONE_VACUUM_EVERY", 0)

    t = CowTable.create(
        spark, str(tmp_path / "sv"),
        spark.createDataFrame(
            [(f"k{i}", float(i), 0) for i in range(8)],
            "fid string, val double, seq long",
        ),
        keys=("fid",), target_files=1,
    )
    sch = "fid string, val double, seq long, op string"
    # enough delete-carrying batches to push the store past the vacuum
    # keep window (v1.json gets dropped along the way)
    for i in range(6):
        apply_changes(
            t,
            spark.createDataFrame([(f"k{i}", None, 100 + i, "D")], sch),
            sequence_by="seq", tombstone_retention=3600,
        )
    ts_m = str(tmp_path / "sv" / "_tombstones" / "manifests")
    names = [n for n in os.listdir(ts_m) if re.fullmatch(r"v\d+\.json", n)]
    assert names and "v1.json" not in names, (
        "fixture must cross the vacuum horizon to mean anything"
    )
    # the store is still live: a stale post-delete upsert stays fenced
    apply_changes(
        t,
        spark.createDataFrame([("k0", -1.0, 5, "U")], sch),
        sequence_by="seq", tombstone_retention=3600,
    )
    got = {r["fid"] for r in t.read().collect()}
    assert "k0" not in got and len(got) == 2  # k6, k7 remain


def test_cow_zorder_drift_accumulates_table_relative(spark, tmp_path):
    """The drift gate is TABLE-relative and cumulative: a
    monotonic-append z column whose every batch is wholly out-of-bounds must
    NOT escalate while the drifted mass is small vs the table; the
    per-run out-of-bounds counts accumulate across incremental runs and
    the gate fires only once their total crosses the fraction of live
    rows; the retighten pads fresh bounds with headroom so the next
    in-trend append measures zero new drift."""
    from openverse_catalog_spark.operators.cowtable import (
        ZORDER_RETIGHTEN_HEADROOM,
    )
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    def batch(n, lo, tag):
        return spark.createDataFrame(
            [(f"{tag}{i:04d}", float(lo + (i % 100))) for i in range(n)],
            "fid string, x double",
        )

    t = CowTable.create(
        spark, str(tmp_path / "acc"), batch(1000, 0, "b"),
        keys=("fid",), target_files=4, stats_cols=("x",),
    )
    t.compact(target_rows=400, zorder_by=["x"], zorder_incremental=True)
    assert t._manifest()["zorder_clamp"]["fraction"] == 0.0
    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
    ]

    # append batch A, wholly beyond the pinned [0,100) bounds, but only
    # ~13% of the table: churn-relative gating would fire (100% of the
    # batch clamps); table-relative must NOT
    t.merge(batch(150, 100, "a"), cols, deterministic=True)
    t.compact(target_rows=400, zorder_by=["x"], zorder_incremental=True)
    c1 = t._manifest()["zorder_clamp"]
    assert c1["drifted_rows"] == 150
    assert 0.0 < c1["fraction"] <= 0.2, (
        "a small monotonic append must not trip the table-relative gate"
    )
    # small target so the tick is a pure gate check (a plain compact
    # would rewrite the tagged files and reset the pinned bounds)
    mt = t.maintain(target_rows=100, keep_versions=50)
    assert mt["retightened"] is False and "retighten_result" not in mt

    # batch B pushes the CUMULATIVE drifted mass past 20% of the table
    t.merge(batch(150, 200, "c"), cols, deterministic=True)
    t.compact(target_rows=400, zorder_by=["x"], zorder_incremental=True)
    c2 = t._manifest()["zorder_clamp"]
    assert c2["drifted_rows"] == 300 and c2["fraction"] > 0.2

    # the next incremental run escalates, with headroom-padded bounds
    r = t.compact(
        target_rows=400, zorder_by=["x"], zorder_incremental=True
    )
    assert r["retightened"]
    m = t._manifest()
    assert m["zorder_clamp"] == {
        "cols": ["x"], "bits": 8, "drifted_rows": 0, "fraction": 0.0,
    }
    (lo, hi) = m["files"][0]["cluster"]["bounds"]["x"]
    # data spans [0, 300); pad = span * headroom on each side
    span = 299.0 - 0.0
    assert lo < 0.0 and hi > 299.0
    assert abs((hi - 299.0) - span * ZORDER_RETIGHTEN_HEADROOM) < 1.0

    # an in-trend append that lands INSIDE the headroom measures zero
    # new drift: steady append no longer re-drifts immediately
    t.merge(batch(60, 300, "d"), cols, deterministic=True)
    t.compact(target_rows=400, zorder_by=["x"], zorder_incremental=True)
    c3 = t._manifest()["zorder_clamp"]
    assert c3["drifted_rows"] == 0 and c3["fraction"] == 0.0


def test_cow_maintain_retighten_single_rewrite(spark, tmp_path):
    """When the drift gate will fire, maintain() skips the plain
    small-file compact and lets the retighten do the ONE rewrite (it
    also bin-packs), instead of rewriting the same files twice."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    t = CowTable.create(
        spark, str(tmp_path / "sr"),
        spark.createDataFrame(
            [(f"f{i:03d}", float(i % 100)) for i in range(200)],
            "fid string, x double",
        ),
        keys=("fid",), target_files=4, stats_cols=("x",),
    )
    t.compact(target_rows=100, zorder_by=["x"], zorder_incremental=True)
    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
    ]
    # out-of-bounds churn > 20% of the table, in small files
    t.merge(
        spark.createDataFrame(
            [(f"n{i:03d}", float(1000 + i)) for i in range(120)],
            "fid string, x double",
        ),
        cols, deterministic=True,
    )
    t.compact(target_rows=100, zorder_by=["x"], zorder_incremental=True)
    assert t._manifest()["zorder_clamp"]["fraction"] > 0.2
    v0 = t.version
    out = t.maintain(target_rows=10_000, keep_versions=50)
    assert out["retightened"] is True
    assert "retighten_result" in out and "compact_result" not in out, (
        "the retighten pass must be the single rewrite"
    )
    # exactly ONE compact commit landed (no double rewrite)
    assert t.version == v0 + 1
    assert t.read().count() == 320


def test_cow_maintain_advances_stats(spark, tmp_path):
    """maintain() keeps ANALYZE stats fresh at tick cadence (the
    autoanalyze the reference gets from Postgres): a table that opted
    in via analyze() gets its stats advanced to head through the
    O(churn) incremental path; a never-analyzed table stays stats-free
    (no opt-in, no cost)."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    sch = "fid string, v double"
    t = CowTable.create(
        spark, str(tmp_path / "as"),
        spark.createDataFrame(
            [(f"f{i:03d}", float(i)) for i in range(100)], sch
        ),
        keys=("fid",), target_files=2,
    )
    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("v", Datatype.double),
    ]
    # never analyzed: maintain() must not fabricate stats
    t.merge(
        spark.createDataFrame([("g001", 1.5)], sch), cols,
        deterministic=True,
    )
    out0 = t.maintain(keep_versions=50)
    assert "stats_version" not in out0 and t.stats() is None

    t.analyze(kmv_k=64)
    t.merge(
        spark.createDataFrame(
            [(f"g{i:03d}", float(200 + i)) for i in range(10)], sch
        ),
        cols, deterministic=True,
    )
    out = t.maintain(keep_versions=50)
    st = t.stats()
    assert out["stats_version"] == t.version
    assert st["version"] == t.version and st["mode"] == "incremental"
    assert st["rows"] == t.read().count()
    # idle tick: stats already at head, nothing recorded
    out2 = t.maintain(keep_versions=50)
    assert "stats_version" not in out2 and "stats_error" not in out2


def test_cow_analyze_incremental_ndv_retighten(spark, tmp_path):
    """NDV drift gate: once deletes since the last full seed exceed
    STATS_NDV_RETIGHTEN of the live rows, analyze_incremental escalates
    itself to a full ANALYZE — NDV tightens to exact, sketches re-seed,
    the drift counter resets."""
    t = CowTable.create(
        spark, str(tmp_path / "nr"),
        spark.createDataFrame(
            [(f"f{i:03d}", f"g{i}") for i in range(100)],
            "fid string, grp string",
        ),
        keys=("fid",), target_files=2,
    )
    full = t.analyze(cols=["grp"], kmv_k=256)
    assert full["columns"]["grp"]["ndv"] == 100

    # small delete: stays incremental, drift recorded, NDV an upper bound
    t.delete(F.col("fid") < "f010")
    inc = t.analyze_incremental()
    assert inc["mode"] == "incremental"
    assert inc["deletes_since_full"] == 10
    assert inc["columns"]["grp"]["ndv"] == 100  # sketch can't forget

    # big delete crosses the gate: the SAME call escalates to full
    t.delete(F.col("fid") < "f050")
    doc = t.analyze_incremental()
    assert doc.get("mode") != "incremental"
    assert doc["deletes_since_full"] == 0 and "kmv" in doc
    assert doc["columns"]["grp"]["ndv"] == 50  # exact again
    assert doc["rows"] == 50
    # and the next tick is incremental again off the fresh seed
    assert t.analyze_incremental() == doc


def test_cow_tombstone_hygiene_periodic_and_fence_expiry(
    spark, tmp_path, monkeypatch
):
    """Tombstone hygiene is periodic, correctness is not: (a) expiry is
    enforced in the FENCE (an expired tombstone never fences even while
    it still sits in the store un-purged); (b) the txn-fenced creating
    path replays cleanly (the first batch is fenced like every later
    one); (c) the purge+vacuum sweep runs only once the store's
    manifest chain crosses the cadence, then trims it."""
    import os
    import re
    import time

    import openverse_catalog_spark.streaming.incremental as inc
    from openverse_catalog_spark.streaming.incremental import apply_changes

    sch = "fid string, val double, seq long, op string"
    t = CowTable.create(
        spark, str(tmp_path / "ph"),
        spark.createDataFrame(
            [(f"k{i}", float(i), 0) for i in range(20)],
            "fid string, val double, seq long",
        ),
        keys=("fid",), target_files=1,
    )

    # (b) first delete batch creates the store through the FENCED merge:
    # replaying the same (txn_app, txn_version) is a no-op on the store
    apply_changes(
        t, spark.createDataFrame([("k0", None, 10, "D")], sch),
        sequence_by="seq", tombstone_retention=3600,
        txn_app="cdc", txn_version=1,
    )
    ts_root = str(tmp_path / "ph" / "_tombstones")
    ts = CowTable(spark, ts_root, keys=("fid",))
    v_after_create = ts.version
    apply_changes(
        t, spark.createDataFrame([("k0", None, 10, "D")], sch),
        sequence_by="seq", tombstone_retention=3600,
        txn_app="cdc", txn_version=1,
    )
    assert ts.version == v_after_create, (
        "a replayed first batch must be fenced on the tombstone store"
    )

    # (a) fence-level expiry: the k0 tombstone is seconds old; under a
    # microscopic retention it must NOT fence — and the store still
    # holds it (no purge ran: the chain is short of the cadence)
    time.sleep(0.01)
    apply_changes(
        t, spark.createDataFrame([("k0", -1.0, 5, "U")], sch),
        sequence_by="seq", tombstone_retention=1e-9,
    )
    assert {r["fid"] for r in t.read().collect()} >= {"k0"}, (
        "an expired tombstone must not fence, purged or not"
    )
    mdir = f"{ts_root}/manifests"

    def manifests():
        return [
            n for n in os.listdir(mdir) if re.fullmatch(r"v\d+\.json", n)
        ]

    assert ts.read(version=v_after_create) is not None  # un-vacuumed

    # (c) cross the cadence: the sweep fires once, trims the chain
    monkeypatch.setattr(inc, "_TOMBSTONE_VACUUM_EVERY", 4)
    for i in range(1, 6):
        apply_changes(
            t, spark.createDataFrame([(f"k{i}", None, 100 + i, "D")], sch),
            sequence_by="seq", tombstone_retention=3600,
        )
    names = manifests()
    assert "v1.json" not in names and len(names) <= 6, (
        f"the periodic sweep must have vacuumed the chain (got {names})"
    )
    # fences still live after the sweep
    apply_changes(
        t, spark.createDataFrame([("k3", -9.0, 50, "U")], sch),
        sequence_by="seq", tombstone_retention=3600,
    )
    assert "k3" not in {r["fid"] for r in t.read().collect()}


def test_cdc_stream_trigger_size_independence(spark):
    """The CDC stream's final state is independent of the trigger size:
    maxFilesPerTrigger=1 (worst case — one merge commit per landing
    file, what the registry fixtures pin) and an unbounded trigger (the
    amortized production path — ALL pending files collapse latest-wins
    into ONE merge commit) land identical tables. This is what makes
    files-per-trigger a pure throughput knob at scale: fewer, larger
    merges amortize the fixed per-commit machinery without changing
    results."""
    from openverse_catalog_spark.plans import stream_queries  # noqa: F401
    from openverse_catalog_spark.plans.analytics import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ("stream_cdc_apply", "stream_cdc_tombstones"):
        chopped = QUERIES[name](spark, sf, _max_files_per_trigger=1)
        rows1 = {tuple(r) for r in chopped.collect()}
        wide = QUERIES[name](spark, sf, _max_files_per_trigger=None)
        rows2 = {tuple(r) for r in wide.collect()}
        assert rows1 == rows2, f"{name}: trigger size changed the state"
        assert rows1, name


def test_cow_maintain_z_table_compacts_incrementally(spark, tmp_path):
    """maintain() on a z-maintained table compacts THROUGH the
    incremental z-order path: already-clustered files carry by
    reference (a plain bin-pack would untag them — destroying
    clustering every tick and re-counting their out-of-bounds rows
    into the drift counter until a spurious full retighten fired)."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    t = CowTable.create(
        spark, str(tmp_path / "zm"),
        spark.createDataFrame(
            [(f"f{i:04d}", float(i % 100)) for i in range(1000)],
            "fid string, x double",
        ),
        keys=("fid",), target_files=4, stats_cols=("x",),
    )
    t.compact(target_rows=300, zorder_by=["x"], zorder_incremental=True)
    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
    ]
    # small out-of-bounds churn, measured once: drifted_rows = 60
    t.merge(
        spark.createDataFrame(
            [(f"n{i:04d}", float(500 + i)) for i in range(60)],
            "fid string, x double",
        ),
        cols, deterministic=True,
    )
    t.compact(target_rows=300, zorder_by=["x"], zorder_incremental=True)
    assert t._manifest()["zorder_clamp"]["drifted_rows"] == 60
    tagged_before = {
        e["path"] for e in t._manifest()["files"] if e.get("cluster")
    }

    # in-bounds churn + a maintenance tick with everything "small":
    # the tick must cluster the churn, CARRY the tagged files, and the
    # drift counter must not move (no re-count)
    t.merge(
        spark.createDataFrame(
            [(f"m{i:04d}", float(i % 100)) for i in range(50)],
            "fid string, x double",
        ),
        cols, deterministic=True,
    )
    out = t.maintain(target_rows=100_000, keep_versions=50)
    assert out["compacted"] is True and out["retightened"] is False
    m = t._manifest()
    assert all(e.get("cluster") for e in m["files"]), (
        "maintenance must keep every file clustered (a plain bin-pack "
        "would strip the tags)"
    )
    assert len(m["files"]) < len(tagged_before) + 2, (
        "small tagged files must consolidate, not multiply"
    )
    assert m["zorder_clamp"]["drifted_rows"] == 60, (
        "a maintenance tick with in-bounds churn must not inflate the "
        "drift counter"
    )
    # second idle-ish tick: counter still stable
    out2 = t.maintain(target_rows=100_000, keep_versions=50)
    assert t._manifest()["zorder_clamp"]["drifted_rows"] == 60
    assert out2["retightened"] is False


def test_cow_tombstone_observability_live_fences_only(spark, tmp_path):
    """DESCRIBE DETAIL and TABLE_TOMBSTONES report fences that still
    FENCE: a stored tombstone past the recorded retention (purge is
    lazy/periodic) is excluded, so the horizon never claims a drop the
    next apply will not make."""
    from openverse_catalog_spark.sql_facade import SqlFacade
    from openverse_catalog_spark.streaming.incremental import (
        apply_changes,
        tombstone_retention_of,
    )

    sch = "fid string, val double, seq long, op string"
    t = CowTable.create(
        spark, str(tmp_path / "ob"),
        spark.createDataFrame(
            [(f"k{i}", float(i), 0) for i in range(6)],
            "fid string, val double, seq long",
        ),
        keys=("fid",), target_files=1,
    )
    apply_changes(
        t, spark.createDataFrame(
            [("k1", None, 10, "D"), ("k2", None, 20, "D")], sch
        ),
        sequence_by="seq", tombstone_retention=3600.0,
    )
    f = SqlFacade(spark)
    f.register_table("t", t)
    d = f.sql("DESCRIBE DETAIL t").collect()[0]
    assert d["tombstones"] == 2 and d["tombstone_horizon"] == "20"

    # a later apply under a microscopic window: every stored fence is
    # now expired — observability must report none, even though the
    # periodic sweep has not physically purged them yet
    import time

    time.sleep(0.01)
    apply_changes(
        t, spark.createDataFrame([("k3", None, 30, "D")], sch),
        sequence_by="seq", tombstone_retention=1e-9,
    )
    assert tombstone_retention_of(str(tmp_path / "ob" / "_tombstones")) == 1e-9
    ts = CowTable(spark, str(tmp_path / "ob" / "_tombstones"))
    assert ts.read().count() >= 2, "fixture: rows must still be stored"
    d2 = f.sql("DESCRIBE DETAIL t").collect()[0]
    assert d2["has_tombstones"] is True
    assert d2["tombstones"] == 0 and d2["tombstone_horizon"] is None
    assert f.sql(
        "SELECT count(*) AS n FROM TABLE_TOMBSTONES('t')"
    ).collect()[0]["n"] == 0


def test_cow_z_maintenance_consolidates_tagged_files(spark, tmp_path):
    """Tagged files must not escape maintenance forever: two or more
    small clustered files bin-pack through the incremental z path (tag
    preserved), a tagged DV carrier gets its vector materialized — and
    neither re-inflates the drift counter."""
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
        UpsertStrategy,
    )

    t = CowTable.create(
        spark, str(tmp_path / "zc"),
        spark.createDataFrame(
            [(f"f{i:04d}", float(i % 100)) for i in range(400)],
            "fid string, x double",
        ),
        keys=("fid",), target_files=2, stats_cols=("x",),
    )
    t.compact(target_rows=5000, zorder_by=["x"], zorder_incremental=True)
    cols = [
        ColumnSpec("fid", Datatype.char,
                   upsert_strategy=UpsertStrategy.no_change),
        ColumnSpec("x", Datatype.double),
    ]
    # two churn waves, each clustered into its own small tagged file
    for s in (0, 1):
        t.merge(
            spark.createDataFrame(
                [(f"n{s}{i:03d}", float(150 + i)) for i in range(30)],
                "fid string, x double",
            ),
            cols, deterministic=True,
        )
        t.compact(
            target_rows=5000, zorder_by=["x"], zorder_incremental=True
        )
    # wave 1's compact found TWO small tagged files (the wave-0 output
    # and the base) and bin-packed them together with the fresh churn —
    # consolidation happens inline, and the drift counter reflects ONLY
    # the fresh out-of-bounds rows (2 x 30), not the re-clustered ones
    m = t._manifest()
    assert m["zorder_clamp"]["drifted_rows"] == 60, (
        "re-clustering counted rows must not re-count them"
    )
    assert all(e.get("cluster") for e in m["files"])
    assert len(m["files"]) == 1, (
        "small tagged files must bin-pack together"
    )

    # a tagged DV carrier re-enters and materializes
    t.delete(F.col("fid") == "f0001", mode="dv")
    assert any(e.get("dv") for e in t._manifest()["files"])
    t.compact(
        target_rows=5000, zorder_by=["x"], zorder_incremental=True
    )
    m3 = t._manifest()
    assert not any(e.get("dv") for e in m3["files"]), (
        "OPTIMIZE must materialize DVs on tagged files too"
    )
    assert m3["zorder_clamp"]["drifted_rows"] == 60
    assert t.read().count() == 459


def test_cow_vacuum_checkpoints_every_gap_start(spark, tmp_path):
    """Vacuum with protected pins makes the keep set NON-contiguous;
    every kept version sitting above a dropped parent must be
    checkpoint-materialized or its segment chain dies with the vacuum
    (the v6-over-dropped-v5 shape a catalog's pins + restores produce).
    Every kept version must resolve afterwards — from a FRESH handle."""
    import os

    df = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(20)], "fid string, v double"
    )
    t = CowTable.create(spark, str(tmp_path / "g"), df, keys=("fid",),
                        target_files=1)
    for i in range(6):  # v2..v7, all incremental segments
        t.delete(F.col("fid") == f"k{i}")
    # protect v2 and v4; keep only the head v7 -> v5, v6 drop, so both
    # v4 (gap over v3) and v7 (gap over v6) need side checkpoints
    t.vacuum(keep_versions=1, retention_seconds=0, protect=(2, 4))
    names = set(os.listdir(str(tmp_path / "g" / "manifests")))
    assert "v7.checkpoint.json" in names or "v7.json" in names
    fresh = CowTable(spark, str(tmp_path / "g"), keys=("fid",))
    for v in (2, 4, 7):
        m = fresh._manifest(v)  # must resolve without v3/v5/v6
        assert m["version"] == v
    assert fresh.read(version=4).count() == 17
    assert fresh.read().count() == 14


def test_cow_add_column_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: metadata-only (no file rewritten),
    existing rows read NULL, time travel keeps the old schema, writes
    carry the new column, and re-adding a DROPPED column's name mints
    a fresh physical identity — the dead data in old files must never
    leak into the new logical column."""
    import pytest

    rows = [
        row(provider="met", fid=f"f{i:03d}", url=f"http://u/{i}",
            title=f"t{i}")
        for i in range(10)
    ]
    t = CowTable.create(
        spark, str(tmp_path / "tbl"), mk(spark, rows), target_files=2
    )
    paths = {e["path"] for e in t._manifest()["files"]}
    res = t.add_column("rating", "double")
    assert res["version"] == 2
    assert {e["path"] for e in t._manifest()["files"]} == paths, (
        "ADD COLUMN must not rewrite any file"
    )
    assert t.read().filter(F.col("rating").isNull()).count() == 10
    assert "rating" not in t.read(version=1).columns
    # writes land the new column; old rows keep NULL
    t.update(F.col("foreign_identifier") == "f003", {"rating": F.lit(4.5)})
    got = {r["foreign_identifier"]: r["rating"] for r in t.read().collect()}
    assert got["f003"] == 4.5 and got["f004"] is None
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("rating", "double")
    v = t.version
    with pytest.raises(ValueError, match="not a valid Spark DDL"):
        t.add_column("bad", "quintuple")
    with pytest.raises(ValueError, match="not a valid Spark DDL"):
        t.add_column("x", "notatype")
    assert t.version == v, "a refused type commits nothing"

    # dead-data isolation: drop a populated column, re-add the name —
    # every row must read NULL even though old files still carry the
    # dropped physical column with data
    t.drop_column("title")
    t.add_column("title", "string")
    t2 = CowTable(spark, t.root)
    assert t2.read().filter(F.col("title").isNotNull()).count() == 0, (
        "re-added column must not leak the dropped column's data"
    )
    assert t2.column_mapping.get("title", "").startswith("__c"), (
        "the re-added column needs a fresh physical identity"
    )
    t2.update(F.col("foreign_identifier") == "f001", {"title": F.lit("fresh")})
    assert {
        r["foreign_identifier"] for r in
        t2.read().filter(F.col("title") == "fresh").collect()
    } == {"f001"}


def test_facade_alter_add_column_and_catalog_publish(spark, tmp_path):
    """ALTER TABLE ... ADD COLUMN as facade text: INSERT/MERGE text
    carries the new column immediately (specs extend), exotic types are
    gated, and — for a catalog-managed table — the ALTER publishes
    through an implicit transaction so recover() keeps it (the old
    direct-head dispatch would have rolled every catalog ALTER back as
    a torn transaction)."""
    import pytest

    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark, workdir=str(tmp_path))
    f.sql("CREATE TABLE media (fid string, val double) PRIMARY KEY (fid)")
    f.sql("INSERT INTO media SELECT 'a' AS fid, 1.0 AS val")
    f.sql("ALTER TABLE media ADD COLUMN note string")
    f.sql("INSERT INTO media SELECT 'b' AS fid, 2.0 AS val, 'n' AS note")
    got = {r["fid"]: r["note"]
           for r in f.sql("SELECT fid, note FROM media").collect()}
    assert got == {"a": None, "b": "n"}
    with pytest.raises(ValueError, match="no default upsert spec"):
        f.sql("ALTER TABLE media ADD COLUMN m map<string,string>")

    # catalog-managed: the ALTER must survive recover()
    cat = LakeCatalog.create(spark, str(tmp_path / "lake"))
    fc = SqlFacade(spark, workdir=str(tmp_path / "cw"))
    fc.attach_catalog(cat)
    fc.sql("CREATE TABLE dim (k bigint, v string) PRIMARY KEY (k)")
    fc.sql("INSERT INTO dim SELECT 1 AS k, 'x' AS v")
    fc.sql("ALTER TABLE dim ADD COLUMN w double")
    assert cat.recover()["rolled_back"] == {}, (
        "a published ALTER is not a torn transaction"
    )
    fc.sql("INSERT INTO dim SELECT 2 AS k, 'y' AS v, 9.0 AS w")
    assert {(r["k"], r["w"]) for r in cat.read("dim").collect()} \
        == {(1, None), (2, 9.0)}
    # the same holds for the OTHER ALTERs now routed through the
    # implicit transaction: a catalog-managed RENAME survives recover
    fc.sql("ALTER TABLE dim RENAME COLUMN w TO weight")
    assert cat.recover()["rolled_back"] == {}
    assert "weight" in cat.read("dim").columns


def test_cow_tombstone_store_replay_after_half_written_create(
    spark, tmp_path
):
    """Crash INSIDE the first tombstone-store create, AFTER the
    clustered data write but BEFORE the v1 manifest link: the replayed
    batch must bootstrap the store on its FIRST retry (create writes a
    unique attempt dir, so the husk's half-written data never
    collides), not error until the husk ages past retention."""
    import os

    from openverse_catalog_spark.streaming.incremental import (
        apply_changes,
    )

    t = CowTable.create(
        spark, str(tmp_path / "tc"),
        spark.createDataFrame([("a", 1.0, 0), ("b", 2.0, 0)],
                              "fid string, val double, seq long"),
        keys=("fid",), target_files=1,
    )
    # simulate the torn first create: a data dir WITH a parquet file,
    # no manifests dir entry — exactly what CowTable._write leaves if
    # the process dies before _commit links v1.json
    husk = tmp_path / "tc" / "_tombstones" / "data" / "cdeadbeef0000"
    os.makedirs(husk)
    spark.createDataFrame(
        [("a", 10, 0.0)], "fid string, __ts_seq long, __ts_at double"
    ).coalesce(1).write.mode("overwrite").parquet(str(husk))
    apply_changes(
        t,
        spark.createDataFrame(
            [("a", None, 10, "D")],
            "fid string, val double, seq long, op string",
        ),
        sequence_by="seq", txn_app="cdc", txn_version=0,
        tombstone_retention=3600,
    )
    assert {r["fid"] for r in t.read().collect()} == {"b"}
    ts = CowTable(spark, str(tmp_path / "tc" / "_tombstones"))
    assert {r["fid"] for r in ts.read().collect()} == {"a"}, (
        "the replayed create must land the real tombstones, and reads "
        "must not see the husk's orphan file"
    )
