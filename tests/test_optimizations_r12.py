"""Round-12 optimization pins: the bounds-derived clustered write
(no range-sampling job per commit) must reproduce the sampling write's
observable behavior — same rows, tight disjoint per-file ranges,
balanced files — and the inverse-hash routing must match Spark's hash
partitioning exactly."""

import pytest
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import (
    CowTable,
    _determine_bounds,
    _hash_route_slots,
    _m3_hash_int,
)
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)


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
    assert res["files_written"] == 4
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


def test_python_pass_floor_at_10x_input(spark):
    """Floor-aware pin at a larger synthetic input (r11 verdict item
    7): a single-partition 50k-row frame expands to the session's
    parallelism with rows intact; an already-32-partition frame passes
    through with no added exchange."""
    from openverse_catalog_spark.operators.multimodal import (
        _python_pass_src,
    )

    par = spark.sparkContext.defaultParallelism
    one = spark.range(50_000, numPartitions=1).select(
        F.col("id").alias("doc_id")
    )
    floored = _python_pass_src(one)
    assert floored.rdd.getNumPartitions() == par
    assert floored.count() == 50_000
    wide = spark.range(50_000, numPartitions=par).select(
        F.col("id").alias("doc_id")
    )
    passed = _python_pass_src(wide)
    assert passed.rdd.getNumPartitions() == par
    assert "Exchange" not in passed._jdf.queryExecution().executedPlan().toString()
