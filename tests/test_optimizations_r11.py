"""Round-11 optimization pins: the commit-machinery internals changed
(footer-based manifest stats, write-first commits, one-aggregation CDF
netting), so each change gets a focused equivalence test here.
"""

import datetime

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import (
    CowTable,
    _file_stats,
    _footer_file_stats,
)
from openverse_catalog_spark.operators.incindex import net_feed_transitions


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "t")


def _entries_both_ways(spark, t):
    """(scan entries, footer entries) for the newest data dir of t."""
    import glob
    import os

    dirs = sorted(
        glob.glob(f"{t.root}/data/c*"), key=os.path.getmtime
    )
    d = dirs[-1]
    rel = "data/" + os.path.basename(d)
    scan = _file_stats(
        spark, d, t.keys, rel, t.stats_cols,
        part_specs=t.partition_spec, colmap=t.column_mapping,
    )
    footer = _footer_file_stats(
        d, t.keys, rel, t.stats_cols,
        part_specs=t.partition_spec, colmap=t.column_mapping,
        utc_session=spark.conf.get("spark.sql.session.timeZone", "")
        == "UTC",
    )
    return scan, footer


def test_footer_stats_match_scan_stats(spark, table_dir):
    """Footer-derived manifest entries must be BYTE-EQUAL to the scan's
    for supported types — long strings (>64B, truncation hazard),
    NULL keys, dates, booleans, multi-file dirs."""
    df = spark.createDataFrame(
        [
            ("k" * 120 + "aa", 1, datetime.date(2023, 1, 2), True, None),
            ("k" * 120 + "zz", 2, datetime.date(2024, 3, 4), False, 7),
            (None, 3, None, None, 8),
            ("mid", 4, datetime.date(2023, 6, 1), True, None),
        ],
        "sk string, ik long, d date, b boolean, n int",
    )
    t = CowTable.create(
        spark, table_dir, df, keys=("sk", "ik"),
        stats_cols=("d", "b", "n"), target_files=3,
    )
    scan, footer = _entries_both_ways(spark, t)
    assert footer is not None
    assert footer == scan


def test_footer_stats_fall_back_on_floats_and_timestamps(
    spark, table_dir
):
    """Floats (NaN dropped from footer stats while Spark max() keeps
    it) and legacy INT96 timestamps (no footer stats at all) must NOT
    take the footer path; micros timestamps (the session's write type)
    MUST — they carry exact stats at Spark's own precision."""
    df = spark.createDataFrame(
        [(1, 1.5, datetime.datetime(2024, 1, 1))],
        "k long, f double, ts timestamp",
    )
    t = CowTable.create(
        spark, table_dir, df, keys=("k",), stats_cols=("f", "ts"),
        target_files=1,
    )
    scan, footer = _entries_both_ways(spark, t)
    assert footer is None  # caller falls back to the scan path
    assert scan and scan[0]["stats"]["f"]["min"] == 1.5
    # micros timestamps (incl. microsecond precision + NULLs) are
    # footer-faithful
    df2 = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 2, 3, 4, 123456)),
            (2, None),
        ],
        "k long, ts timestamp",
    )
    t2 = CowTable.create(
        spark, table_dir + "_ts", df2, keys=("k",),
        stats_cols=("ts",), target_files=1,
    )
    scan, footer = _entries_both_ways(spark, t2)
    assert footer == scan
    assert footer[0]["stats"]["ts"]["min"] == datetime.datetime(
        2024, 1, 1, 2, 3, 4, 123456
    )
    # a legacy INT96 file bails (stats missing in the footer)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        t3 = CowTable.create(
            spark, table_dir + "_96", df2, keys=("k",),
            stats_cols=("ts",), target_files=1,
        )
        scan, footer = _entries_both_ways(spark, t3)
        assert footer is None
        assert scan and scan[0]["stats"]["ts"]["min"] is not None
    finally:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )


def test_footer_stats_partitioned_match_scan(spark, table_dir):
    """Partition-pure files let the footer path derive pmin/pmax from
    the transform probe of the footer min — entries must be byte-equal
    to the scan's for every transform family, incl. NULL partition
    values and a multi-commit table."""
    rows = [
        (
            f"p{i % 3}",
            f"o{i:03d}",
            datetime.datetime(1995, 6 + i % 3, 1 + i % 27, i % 24)
            if i % 7
            else None,
            i if i % 5 else None,
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "prov string, fid string, created_on timestamp, n long"
    )
    t = CowTable.create(
        spark, table_dir, df, keys=("prov", "fid"),
        stats_cols=("created_on",), target_files=4,
        partition_by=("month(created_on)",),
    )
    src = spark.createDataFrame(
        [("p1", "o001", datetime.datetime(1995, 7, 2), 99)],
        "prov string, fid string, created_on timestamp, n long",
    )
    t.merge_when(
        src, update_set={"created_on": "s.created_on"}, insert=True
    )
    scan, footer = _entries_both_ways(spark, t)
    assert footer is not None and footer == scan
    assert all("part" in e for e in footer)
    # bucket + truncate + identity with NULL sources
    t2 = CowTable.create(
        spark, table_dir + "_b", df, keys=("fid",), target_files=3,
        partition_by=("bucket(4, prov)", "truncate(5, fid)", "n"),
    )
    scan, footer = _entries_both_ways(spark, t2)
    assert footer is not None and footer == scan


def test_footer_stats_bail_on_uri_altering_names(spark, table_dir):
    """A partition value whose directory name URI-encoding would alter
    (hour transform's space) cannot be reproduced from the raw walk —
    the footer path must bail so manifests keep the Spark-side
    (input_file_name) identity convention."""
    df = spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1, 5))],
        "k long, v string, ts timestamp",
    )
    t = CowTable.create(
        spark, table_dir, df, keys=("k",), target_files=1,
        partition_by=("hour(ts)",),
    )
    scan, footer = _entries_both_ways(spark, t)
    assert footer is None
    assert scan and "%20" in scan[0]["path"]


def test_write_first_empty_results_keep_noop_semantics(
    spark, table_dir
):
    """The head(1) probes are gone; empty batches / fully-deleting
    rewrites must still produce the exact pre-change result dicts and
    manifest states."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    t = CowTable.create(spark, table_dir, df, keys=("k",), target_files=2)
    v1 = t.version
    empty = spark.createDataFrame([], "k long, v string")
    # empty merge_when: noop, no new version, no rows_rejected key
    r = t.merge_when(empty, update_set={"v": "s.v"}, insert=True)
    assert r["version"] == v1 and r["files_written"] == 0
    assert t.version == v1
    # delete that empties every touched file: commit drops them
    r = t.delete(F.col("k").isNotNull())
    assert r["version"] == v1 + 1
    assert r["files_rewritten"] > 0 and r["files_written"] == 0
    assert t.read().count() == 0
    # dv-mode delete with zero surviving matches: noop, no new version
    t2root = table_dir + "2"
    t2 = CowTable.create(
        spark, t2root, df, keys=("k",), target_files=1
    )
    v1 = t2.version
    t2.delete(F.col("k") == 1, mode="dv")
    v2 = t2.version
    r = t2.delete(F.col("k") == 1, mode="dv")  # already dead
    assert r["version"] == v2 == v1 + 1
    assert t2.version == v2


def test_net_feed_transitions_equals_window_formulation(
    spark, table_dir
):
    """The one-aggregation netting must reproduce the two-window
    netting row for row over a real multi-commit CDF span (insert,
    update, delete, update-then-delete, delete-then-reinsert)."""
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    t = CowTable.create(spark, table_dir, df, keys=("doc_id",),
                        target_files=1)
    v0 = t.version
    t.update(F.col("doc_id") == 1, {"text": F.lit("t1b")})
    t.delete(F.col("doc_id") == 2)
    t.update(F.col("doc_id") == 3, {"text": F.lit("t3b")})
    t.delete(F.col("doc_id") == 3)  # update then delete
    from openverse_catalog_spark.schemas.columns import (
        ColumnSpec,
        Datatype,
    )

    cols = [
        ColumnSpec("doc_id", Datatype.int, required=True),
        ColumnSpec("text", Datatype.char),
    ]
    t.merge(
        spark.createDataFrame([(2, "t2-re")], "doc_id long, text string"),
        cols,
    )  # delete then re-insert
    feed = t.read_changes(v0, t.version)

    net = net_feed_transitions(feed, "doc_id", "text")
    got_old = {
        (r["doc_id"], r["p"])
        for r in net.filter(F.col("__old").isNotNull())
        .select("doc_id", F.col("__old.p").alias("p")).collect()
    }
    got_new = {
        (r["doc_id"], r["p"])
        for r in net.filter(
            F.col("__new").isNotNull() & ~F.col("__new.del")
        ).select("doc_id", F.col("__new.p").alias("p")).collect()
    }

    # reference: the pre-round two-window formulation
    pre = feed.filter(
        F.col("_change_type").isin("update_preimage", "delete")
    )
    w_first = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("_commit_version")
    )
    want_old = {
        (r["doc_id"], r["text"])
        for r in pre.withColumn("__rn", w_first)
        .filter("__rn = 1").select("doc_id", "text").collect()
    }
    post = feed.filter(
        F.col("_change_type").isin(
            "insert", "update_postimage", "delete"
        )
    )
    w_last = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("_commit_version"))
    )
    want_new = {
        (r["doc_id"], r["text"])
        for r in post.withColumn("__rn", w_last)
        .filter("__rn = 1").filter("_change_type <> 'delete'")
        .select("doc_id", "text").collect()
    }
    assert got_old == want_old
    assert got_new == want_new
    # sanity on the span's content: 1 updated, 2 delete+reinsert,
    # 3 updated-then-deleted (old only), others untouched
    assert (3, "t3") in got_old and not any(
        d == 3 for d, _ in got_new
    )
    assert (2, "t2-re") in got_new


def test_maintain_tick_overlaps_indexes_isolated_and_ordered(
    spark, tmp_path
):
    """The maintenance tick runs per-index refreshes from a thread
    pool; pin what that must NOT change: every registered index gets
    a report entry in registry order, one index's failure isolates to
    its own entry, and the healthy index still refreshes to the pin."""
    import os

    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.operators.cowtable import CowTable
    from openverse_catalog_spark.operators.searchindex import SearchIndex

    def docs(*rws):
        return spark.createDataFrame(
            list(rws), "doc_id long, text string"
        )

    cat = LakeCatalog.create(spark, str(tmp_path / "lake"))
    a = CowTable.create(
        spark, str(tmp_path / "a"),
        docs((1, "alpha beta"), (2, "beta gamma")), keys=("doc_id",),
    )
    b = CowTable.create(
        spark, str(tmp_path / "b"),
        docs((1, "delta eps"), (2, "eps zeta")), keys=("doc_id",),
    )
    cat.register("a", a)
    cat.register("b", b)
    ia = SearchIndex.create(
        spark, str(tmp_path / "ia"), a, version=cat._entry("a")["version"]
    )
    ib = SearchIndex.create(
        spark, str(tmp_path / "ib"), b, version=cat._entry("b")["version"]
    )
    cat.register_index("ia", "search", ia.root, "a",
                       {"id": "doc_id", "text": "text"})
    cat.register_index("ib", "search", ib.root, "b",
                       {"id": "doc_id", "text": "text"})
    with cat.transaction() as txn:
        txn.table("a").update(
            F.col("doc_id") == 1, {"text": F.lit("alpha omega")}
        )
        txn.table("b").update(
            F.col("doc_id") == 2, {"text": F.lit("eps theta")}
        )
    # break ib behind the registry's back: its open must fail while
    # ia's refresh proceeds on the other thread
    os.rename(str(tmp_path / "ib"), str(tmp_path / "ib_gone"))
    rep = cat.maintain_tables(retention_seconds=3600.0)
    idx_keys = [k for k in rep if k.startswith("index:")]
    assert idx_keys == ["index:ia", "index:ib"]  # registry order
    assert rep["index:ia"]["refreshed"]
    assert rep["index:ia"]["applied"] == cat._entry("a")["version"]
    assert "error" in rep["index:ib"]
    # the healthy index answers the post-churn state
    re = SearchIndex.open(spark, ia.root, a)
    assert {
        r.term for r in re.postings.read().filter("doc_id = 1").collect()
    } == {"alpha", "omega"}


def test_merge_when_checkpointed_target_slice_equivalence(
    spark, table_dir
):
    """merge_when lazily checkpoints the affected-files read when an
    insert clause is present (the matched join and the insert anti-join
    otherwise each re-read every affected file). Pin that the three-
    clause rewrite through the checkpointed slice lands the exact
    expected rows AND that file skipping still bites (the checkpoint
    wraps only the affected slice, never widens it)."""
    base = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    t = CowTable.create(spark, table_dir, base, keys=("k",), target_files=4)
    n_files = len(t._manifest()["files"])
    # source touches only the low half of the key range: updates k<10,
    # deletes 10<=k<15, inserts 100..104
    src = spark.createDataFrame(
        [(k, k * 1000) for k in range(15)]
        + [(k, k * 1000) for k in range(100, 105)],
        "k long, v long",
    )
    r = t.merge_when(
        src,
        update_set={"v": "s.v"},
        update_cond="s.k < 10",
        delete_cond="s.k >= 10 AND s.k < 15",
        insert=True,
        insert_cond="s.k >= 100",
    )
    assert 0 < r["files_rewritten"] < n_files  # skipping intact
    got = {(row["k"], row["v"]) for row in t.read().collect()}
    expected = (
        {(k, k * 1000) for k in range(10)}            # updated
        | {(k, k * 10) for k in range(15, 60)}        # carried
        | {(k, k * 1000) for k in range(100, 105)}    # inserted
    )
    assert got == expected


def test_result_df_matches_createdataframe(spark):
    """The facade's statement-result frames moved from
    spark.createDataFrame (RDD-backed; ~0.7 s per head() on local[32])
    to a parameterized-VALUES LocalRelation. Rows, schema (incl.
    nullability) and plan locality must match the old shape exactly."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    cases = [
        # every scalar type the result sites emit, incl. None cells,
        # keyword-ish column names and weird string content
        ([("x';--", 5, True, None, 2.5)],
         "view string, version long, ok boolean, note string, v double"),
        ([("a", i, i % 2 == 0, None, float(i)) for i in range(40)],
         "table string, n long, flag boolean, s string, d double"),
        ([(None, None, None)], "a string, b long, c boolean"),
    ]
    for rows, schema in cases:
        old = spark.createDataFrame(rows, schema)
        new = f._result_df(rows, schema)
        assert new.schema == old.schema
        assert new.collect() == old.collect()
        # the whole point: a LocalTableScan, not an RDD scan
        assert "LocalTableScan" in new._jdf.queryExecution().executedPlan().toString()
    # fallback paths keep the original construction
    empty = f._result_df([], "a string, b long")
    assert empty.schema == spark.createDataFrame([], "a string, b long").schema
    assert empty.collect() == []
    arr = f._result_df([(["x"],)], "a array<string>")
    assert arr.collect() == spark.createDataFrame(
        [(["x"],)], "a array<string>"
    ).collect()


def test_metadata_tables_local_and_equal(spark, table_dir):
    """files_df / partitions_df moved to the pandas->Arrow
    LocalRelation path (driver-side actions). Rows — including
    None-valued map entries, empty maps and NULL size cells — and
    schema must match the list-based construction; empty tables must
    still produce an empty frame of the same schema."""
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    t = CowTable.create(
        spark, table_dir, df, keys=("k",), target_files=2,
        partition_by=("bucket(4, k)",),
    )
    files = t.files_df()
    assert "LocalTableScan" in (
        files._jdf.queryExecution().executedPlan().toString()
    )
    got = files.orderBy("path").collect()
    assert len(got) == len(t._manifest()["files"])
    assert sum(r["rows"] for r in got) == 40
    assert all(isinstance(r["partition"], dict) for r in got)
    parts = t.partitions_df().collect()
    assert sum(r["rows"] for r in parts) == 40
    assert {r["partition"].get("k_bucket") for r in parts} <= {
        "0", "1", "2", "3", None
    }
    # empty table: schema survives the fallback path
    t2 = CowTable.create(
        spark, table_dir + "2",
        spark.createDataFrame([], "k long, v string"), keys=("k",),
    )
    e = t2.files_df()
    assert e.count() == 0 and len(e.schema.fields) == 7


def test_python_pass_partition_floor(spark):
    """The pixel-decode synth paths repartition single-partition scans
    up to the session parallelism (one row-group parquet = one task =
    one core for the whole Python chain otherwise). Pin: the floor
    raises partition count without changing rows, and an input already
    at/above the floor passes through with NO added shuffle."""
    from openverse_catalog_spark.operators.multimodal import (
        _python_pass_src,
        attach_decodable_jpeg_payload,
        extract_image_pixels,
    )

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 50).select(F.col("id").alias("doc_id")) \
        .coalesce(1)
    floored = _python_pass_src(narrow)
    assert floored.rdd.getNumPartitions() >= min(par, 50 // 2) or par == 1
    wide = spark.range(0, 50, 1, par).select(
        F.col("id").alias("doc_id")
    )
    passed_through = _python_pass_src(wide)
    assert "Exchange" not in passed_through._jdf.queryExecution() \
        .executedPlan().toString()
    # end to end: decode over the floored path matches the bare chain
    got = sorted(
        (r["doc_id"], r["pixel_sum"])
        for r in extract_image_pixels(
            attach_decodable_jpeg_payload(narrow)
        ).collect()
    )
    bare = sorted(
        (r["doc_id"], r["pixel_sum"])
        for r in extract_image_pixels(
            attach_decodable_jpeg_payload(wide)
        ).collect()
    )
    assert got == bare and len(got) == 50


def test_python_pass_floor_at_10x_input(spark):
    """Floor-aware pin at a larger synthetic input: a single-partition
    50k-row frame expands to the session's parallelism with rows
    intact; an already-32-partition frame passes through with no added
    exchange."""
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
