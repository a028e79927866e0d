"""Physical-plan regression tests.

SURVEY §8 claims specific plan shapes (broadcast joins on dims, pushdown
to the parquet scan, map-side partial aggregation, shuffle-free Arrow
passes). These assertions pin them against the actual optimizer output,
so a refactor that silently degrades a plan — a broadcast that falls
back to sort-merge, a filter that stops reaching the scan — fails here
instead of on the 100 TB run.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from openverse_catalog_spark.plans.analytics import QUERIES
from openverse_catalog_spark.plans import clean_queries  # noqa: F401
from openverse_catalog_spark.plans import corpus_queries  # noqa: F401
from openverse_catalog_spark.plans import merge_queries  # noqa: F401
from openverse_catalog_spark.session import load_tables


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_5way_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(QUERIES["join_5way_enrich"](spark, sf_dir))
    # every dimension side must broadcast; the fact side must never
    # sort-merge (that would shuffle the 100 TB table per join)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_license_dim_joins_broadcast(spark, sf_dir):
    # normalize compiles to pure isin/when expressions: no join operator
    # at all, the row never leaves its scan task
    plan = _plan(QUERIES["clean_license_normalize"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange" not in plan
    # backfill still joins the ~32-row pair dimension: must broadcast
    plan = _plan(QUERIES["merge_license_backfill"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    q = o.filter(F.col("o_totalprice") > 1000.0).select("o_orderkey", "o_totalprice")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan
    # column pruning: the scan must read only the two projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema


def test_pricing_summary_partial_agg_single_shuffle(spark, sf_dir):
    q = QUERIES["agg_pricing_summary"](spark, sf_dir)
    plan = _plan(q)
    # map-side partial + final aggregate, exactly one exchange between
    assert "partial_sum" in plan
    import re

    # formatted mode prints each node in the tree AND a detail section —
    # count distinct "(n) Exchange" node ids, not raw substring hits
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # the whole agg pipeline stays inside generated code. An unexecuted
    # AdaptiveSparkPlan reports 0 codegen subtrees, and explain caches
    # the physical plan per DataFrame — so build a FRESH frame (query
    # fns re-assert AQE on), flip AQE off, then do its first explain.
    q2 = QUERIES["agg_pricing_summary"](spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        codegen = _plan(q2, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "Found 0 WholeStageCodegen" not in codegen
    assert "WholeStageCodegen subtree" in codegen


def test_quantize_int8_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["embed_quantize_int8"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_exact_dedupe_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["dedup_exact_text"](spark, sf_dir))
    # normalize+hash are narrow; the only wide op is the groupBy on the
    # hash key (union of 3 corpus branches feeds one aggregation)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """Co-located join: both sides bucketed by the join key -> the
    sort-merge join reads bucket-aligned files and needs NO exchange on
    either side. This is the 100 TB strategy for repeated fact-fact
    joins (bucket once at write time, join shuffle-free forever)."""
    from openverse_catalog_spark.session import load_tables

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    spark.sql("DROP TABLE IF EXISTS tb_orders")
    spark.sql("DROP TABLE IF EXISTS tb_customer")
    try:
        t["orders"].write.bucketBy(4, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable("tb_orders")
        t["customer"].write.bucketBy(4, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable("tb_customer")
        j = (
            spark.table("tb_orders")
            .join(
                spark.table("tb_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "c_name")
        )
        # force the sort-merge path (broadcast would hide the bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_orders")
        spark.sql("DROP TABLE IF EXISTS tb_customer")


def test_taxa_pipeline_shuffle_budget(spark, sf_dir):
    """The end-to-end taxa enrichment holds its declared shuffle budget:
    the fact side exchanges at most twice (window partitioning reused by
    the aggregation; lineage re-agg is dim-sized) and every dimension
    joins as a broadcast."""
    from openverse_catalog_spark.plans.analytics import QUERIES

    plan = _plan(QUERIES["pipeline_taxa_enrich"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("BroadcastHashJoin") >= 3


def test_winsorize_threshold_broadcasts(spark, sf_dir):
    """The percentile-threshold table joins back to the fact side as a
    broadcast — the fact table never shuffles for the clip join."""
    from openverse_catalog_spark.plans.analytics import QUERIES

    plan = _plan(QUERIES["agg_winsorized_values"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_simhash_pairs_joins_on_band_key_not_source(spark, sf_dir):
    """dedup_simhash_pairs must candidate-join on the (band, key) pair —
    a key space of n_bands * 2^band_bits values — never on a handful-of-
    values blocking column like ``source`` (5 distinct values -> each
    block is ~corpus/5 and the within-block join is quadratic). Pins
    VERDICT r1 'What's wrong' #1."""
    plan = _plan(QUERIES["dedup_simhash_pairs"](spark, sf_dir))
    assert "source" not in plan  # the 5-ary blocking column is gone
    # the band equi-join keys are present in the join condition
    assert "band" in plan and "key" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_query_has_no_driver_collect(spark, sf_dir):
    """The registered exact-cosine dedup query runs the triangle
    block-pair plan: grouped GEMM via FlatMapGroupsInPandas, no
    full-corpus broadcast side and no cartesian pair join. Pins VERDICT
    r1 'What's wrong' #4."""
    plan = _plan(QUERIES["dedup_embedding_cosine"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_inaturalist_bulk_single_fact_exchange(spark, sf_dir):
    """pipeline_inaturalist_bulk: the photos fact moves ONCE — the dupes
    window's hashpartitioning(photo_id) exchange is the only shuffle on
    the fact side (the observations join keys on the same column, so at
    scale the SMJ reuses it); observers/taxa/license_codes come in as
    broadcasts; the taxa 'Not assigned' filter is pushed into the scan."""
    from openverse_catalog_spark.plans.analytics import QUERIES

    plan = _plan(QUERIES["pipeline_inaturalist_bulk"](spark, sf_dir))
    # one shuffle exchange total on the lineitem side (formatted mode:
    # each shuffle prints one "Arguments: hashpartitioning(...)" detail)
    shuffles = [
        line for line in plan.splitlines() if "Arguments: hashpartitioning" in line
    ]
    assert len(shuffles) == 1 and "photo_id" in shuffles[0]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # predicate pushdown reached the taxa scan
    assert "MACHINERY" in plan


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """layout_bucketed_join: both sides are storage-bucketed on the join
    key, so the sort-merge join consumes the bucket layout directly —
    the ONLY shuffle in the plan is the final small aggregation; neither
    join input is re-partitioned."""
    from openverse_catalog_spark.plans import layout_queries  # noqa: F401
    from openverse_catalog_spark.plans.analytics import QUERIES

    plan = _plan(QUERIES["layout_bucketed_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    shuffles = [
        line for line in plan.splitlines() if "Arguments: hashpartitioning" in line
    ]
    # exactly one exchange: the groupBy on o_orderpriority
    assert len(shuffles) == 1 and "o_orderpriority" in shuffles[0]


def test_token_budget_cap_never_sorts_whole_domain(spark, sf_dir):
    """The running-sum windows must partition on (domain, bucket), never
    on the domain alone — a domain-wide sort in one task is exactly the
    skew bottleneck the bucketed design removes."""
    from openverse_catalog_spark.plans import sampling_queries  # noqa: F401

    plan = _plan(QUERIES["corpus_token_budget_cap"](spark, sf_dir))
    # every window partitioning over the doc rows must include the
    # bucket column; the only domain-only window runs over the tiny
    # per-bucket aggregate (its input is a HashAggregate, bounded rows)
    import re

    doc_windows = [
        m for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "source" in m and "__b" not in m
    ]
    # domain-only partitionings exist solely for the <=domains*1024-row
    # bucket cumsum (fed by the aggregate), so at most one such exchange
    assert len(doc_windows) <= 1


def test_random_project_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["embed_project_rp"](spark, sf_dir))
    assert "Exchange" not in plan  # pure Arrow pass at any scale


def test_bloom_anti_join_prunes_before_exchange(spark, sf_dir):
    """Both union branches must filter on the bloom flag BEFORE any
    exchange: the definitely-new branch never joins, and only the
    maybe-branch (dup-rate sized) feeds the anti-join."""
    from openverse_catalog_spark.plans import sketch_queries  # noqa: F401

    plan = _plan(QUERIES["dedup_cross_corpus_bloom"](spark, sf_dir))
    assert "Union" in plan
    assert plan.count("MapInPandas") >= 2  # a probe stage per branch
    # the anti-join itself runs on the filtered maybe-branch
    assert "LeftAnti" in plan


def test_cosine_radius_no_shuffle(spark, sf_dir):
    from openverse_catalog_spark.plans import corpus_queries  # noqa: F401

    plan = _plan(QUERIES["knn_cosine_radius"](spark, sf_dir))
    assert "Exchange" not in plan  # broadcast GEMM pass, zero shuffles


def test_pruned_popularity_refresh_reads_only_changed_partitions(spark, tmp_path):
    """popularity_refresh_pruned must never scan an untouched provider's
    partition: files_read (the actual pruned scan file list) stays
    inside the changed partition, and the other partitions' files are
    bit-identical afterwards (never rewritten)."""
    import os

    from openverse_catalog_spark.operators.popularity import (
        popularity_refresh_pruned,
    )

    rows = [(i, float(i % 7 + 1), ["alpha", "beta", "gamma"][i % 3])
            for i in range(90)]
    df = spark.createDataFrame(
        rows, "event_id long, metric double, provider string"
    ).select(
        "event_id", "metric",
        F.lit(1.0).alias("raw_value"), F.lit(0.2).alias("constant"),
        F.lit(0.5).alias("standardized_popularity"), "provider",
    )
    root = str(tmp_path / "scored")
    df.write.partitionBy("provider").parquet(root)

    def snapshot(part):
        d = os.path.join(root, f"provider={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    beta_before, gamma_before = snapshot("beta"), snapshot("gamma")
    late = spark.createDataFrame(
        [(1000, 9.0, "alpha")], "event_id long, metric double, provider string"
    )
    report = popularity_refresh_pruned(
        spark, root, late, "provider", "event_id", "metric"
    )
    assert report["changed"] == ["alpha"]
    assert report["files_read"], "pruned scan must still read the changed part"
    assert all("provider=alpha" in f for f in report["files_read"])
    # untouched partitions: same files, same mtimes — never rewritten
    assert snapshot("beta") == beta_before
    assert snapshot("gamma") == gamma_before
    # changed partition rescored over prior + late rows
    alpha = spark.read.parquet(root).filter(F.col("provider") == "alpha")
    assert alpha.count() == 31  # 30 prior + 1 late


def test_ivf_probe_pushes_centroid_filter_to_index_scan(spark, tmp_path):
    """Probing a persisted IVF index must push the probed-centroid isin
    filter into the parquet scan of the lists (PushedFilters: In(...)),
    so the index's centroid clustering prunes row groups before read."""
    from openverse_catalog_spark.operators import knn

    rows = [(i, [float((i * 13) % 7 - 3), float((i * 5) % 11 - 5), 1.0])
            for i in range(200)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    knn.ivf_build_index(e, path, centroid_mod=40)
    out = knn.ivf_probe_index(
        spark, path, e.filter(F.col("vec_id") % 50 == 0), k=2, nprobe=1
    )
    plan = _plan(out)
    scan = plan[plan.index("lists"):]
    assert "PushedFilters: [In(centroid_id" in scan
    # and the probe actually returns ranked neighbors
    got = out.collect()
    assert got and all(r["rank"] <= 2 for r in got)


def test_pruned_popularity_refresh_upserts_redelivered_ids(spark, tmp_path):
    """A batch that RE-DELIVERS an updated metric for an existing id
    (the normal case — popularity metrics are mutable counts) must not
    duplicate the id in the overwritten partition: prior rows lose to
    the batch via anti-join, and the percentile/constant computation
    sees only the fresh metric."""
    from openverse_catalog_spark.operators.popularity import (
        popularity_refresh_pruned,
    )

    rows = [(i, float(i % 7 + 1), ["alpha", "beta"][i % 2])
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "event_id long, metric double, provider string"
    ).select(
        "event_id", "metric",
        F.lit(1.0).alias("raw_value"), F.lit(0.2).alias("constant"),
        F.lit(0.5).alias("standardized_popularity"), "provider",
    )
    root = str(tmp_path / "scored")
    df.write.partitionBy("provider").parquet(root)
    # event_id 0 already exists in alpha with metric 1.0 — re-deliver
    # it with metric 99.0 plus one genuinely new id
    late = spark.createDataFrame(
        [(0, 99.0, "alpha"), (1000, 2.0, "alpha")],
        "event_id long, metric double, provider string",
    )
    popularity_refresh_pruned(
        spark, root, late, "provider", "event_id", "metric"
    )
    alpha = spark.read.parquet(root).filter(F.col("provider") == "alpha")
    got = {r["event_id"]: r["metric"] for r in alpha.collect()}
    assert alpha.count() == 31  # 30 prior + 1 new, NOT 32
    assert got[0] == 99.0  # the batch's value won


def test_event_funnel_single_shuffle_no_self_join(spark, sf_dir):
    """The funnel must stay one keyed shuffle + a row-local fold — a
    refactor that reintroduces per-step self-joins shows up as extra
    exchanges or join nodes."""
    from openverse_catalog_spark.plans import window_queries  # noqa: F401

    plan = _plan(QUERIES["agg_event_funnel"](spark, sf_dir))
    # groupBy(user) + final groupBy(level): two hash exchanges max
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_cohort_retention_broadcasts_cohort_map(spark, sf_dir):
    from openverse_catalog_spark.plans import window_queries  # noqa: F401

    plan = _plan(QUERIES["agg_cohort_retention"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_warm_bm25_plan_has_one_window_and_no_stats_aggregate(
    spark, tmp_path
):
    """A warm BM25 probe takes df from ONE window over the pruned
    postings and (N, avgdl) from the per-version memo as literals: no
    cross join for the corpus totals and no avg(dl) aggregate left in
    the query plan."""
    import re

    from openverse_catalog_spark.operators.cowtable import CowTable
    from openverse_catalog_spark.operators.searchindex import SearchIndex

    rows = [(i, f"alpha bravo w{'x' * (i % 5)} charlie" * (1 + i % 3))
            for i in range(100)]
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        spark.createDataFrame(rows, "doc_id long, text string"),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    idx.bm25(["alpha"], 5).collect()
    plan = _plan(idx.bm25(["alpha", "charlie"], 5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "avg(dl" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
