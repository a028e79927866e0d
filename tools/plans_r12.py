"""Round-12 plan captures: dump .explain("formatted") for (a) the
declared maintenance queries this round touched (identical plans =
proof the declared results could not move — the optimizations live in
the imperative commit paths), and (b) the INTERNAL frames whose shape
changed: the clustered-write frame (range-sampling exchange -> bounds
routed hash exchange), the search-index postings/doclen diff sources
(3 Exchanges -> 1; join -> projection) and the vector-index reconcile
source (full-outer join -> union+aggregate).

Usage: python tools/plans_r12.py <out_dir> <suffix>
Run once per tree to compare, e.g. with suffix "before" and "after".
The clustered-write capture hooks ``CowTable._write`` and rebuilds the
exchange its ``WritePlan`` asks for, so it needs a tree that has the
write planner; the search/vector-index captures work on both shapes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = sys.argv[1]
SUFFIX = sys.argv[2]
SF = "/root/testdata/sf0.01"
os.makedirs(OUT, exist_ok=True)


def fmt(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def dump(name: str, text: str) -> None:
    path = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
    with open(path, "w") as fh:
        fh.write(text)
    print("wrote", path)


def main() -> None:
    from openverse_catalog_spark.session import get_spark

    spark = get_spark("plans_r12")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    Q = em.queries()

    # -- internal shape captures (hooked) -------------------------------
    from pyspark.sql import functions as F

    from openverse_catalog_spark.operators import cowtable as cw
    from openverse_catalog_spark.operators import searchindex as sx

    write_caps: list[str] = []
    orig_write = cw.CowTable._write

    def cap_write(self, phys_df, plan):
        try:
            if plan.kind == "bounds":
                frame = (
                    phys_df.withColumn(
                        "__rt", self._route_expr(phys_df, plan.bounds)
                    )
                    .repartition(plan.n, F.col("__rt"))
                    .drop("__rt")
                )
            else:
                frame = phys_df.repartitionByRange(
                    plan.n, *[F.col(c) for c in plan.order]
                )
            write_caps.append(
                f"-- write plan: {plan.kind}, n={plan.n}\n" + fmt(frame)
            )
        except Exception as e:  # capture must never break the run
            write_caps.append(f"<capture failed: {e}>")
        return orig_write(self, phys_df, plan)

    cw.CowTable._write = cap_write

    src_caps: dict[str, str] = {}
    if hasattr(sx.SearchIndex, "_merge_src"):  # after-tree
        orig_ms = sx.SearchIndex._merge_src

        def cap_ms(self, src, lsrc, to_v):
            src_caps.setdefault("searchindex_src", fmt(src))
            src_caps.setdefault("searchindex_lsrc", fmt(lsrc))
            return orig_ms(self, src, lsrc, to_v)

        sx.SearchIndex._merge_src = cap_ms
    else:  # before-tree: src/lsrc are built inside _reconcile
        orig_rc = sx.SearchIndex._reconcile

        def cap_rc(self, old_ids, old_p, new_p, new_l, to_v):
            src = (
                new_p.withColumnRenamed("tf", "new_tf")
                .withColumnRenamed("positions", "new_positions")
                .join(
                    old_p.select("term", "doc_id"),
                    ["term", "doc_id"], "full",
                )
                .select(
                    "term", "doc_id", F.col("new_tf").alias("tf"),
                    F.col("new_positions").alias("positions"),
                )
            )
            lsrc = old_ids.join(
                new_l.withColumnRenamed("dl", "new_dl"), ["doc_id"],
                "full",
            ).select("doc_id", F.col("new_dl").alias("dl"))
            src_caps.setdefault("searchindex_src", fmt(src))
            src_caps.setdefault("searchindex_lsrc", fmt(lsrc))
            return orig_rc(self, old_ids, old_p, new_p, new_l, to_v)

        sx.SearchIndex._reconcile = cap_rc

    from openverse_catalog_spark.operators import vectorindex as vx

    orig_vrc = vx.VectorIndex._reconcile
    import inspect

    vsig_fused = "unionByName" in inspect.getsource(orig_vrc)

    def cap_vrc(self, old_a, new_a, to_v):
        pc = self._payload_col()
        if vsig_fused:
            ptype = new_a.schema[pc].dataType
            src = (
                old_a.select(
                    "centroid_id", "neighbor_id",
                    F.lit(None).cast(ptype).alias(pc),
                )
                .unionByName(
                    new_a.select("centroid_id", "neighbor_id", pc)
                )
                .groupBy("centroid_id", "neighbor_id")
                .agg(F.first(pc, ignorenulls=True).alias(pc))
            )
        else:
            src = (
                new_a.withColumnRenamed(pc, "new_payload")
                .join(
                    old_a.select("centroid_id", "neighbor_id"),
                    ["centroid_id", "neighbor_id"], "full",
                )
                .select(
                    "centroid_id", "neighbor_id",
                    F.col("new_payload").alias(pc),
                )
            )
        src_caps.setdefault("vectorindex_src", fmt(src))
        return orig_vrc(self, old_a, new_a, to_v)

    vx.VectorIndex._reconcile = cap_vrc

    # run the two hook-bearing queries once to trigger the captures
    Q["search_index_bm25"](spark, SF).count()
    dump("searchindex_src", src_caps.get("searchindex_src", "<none>"))
    dump("searchindex_lsrc", src_caps.get("searchindex_lsrc", "<none>"))
    # the LAST write of search_index_bm25's statement is the postings
    # reconcile merge commit — a representative maintenance write
    if write_caps:
        dump("commit_write", write_caps[-1])
    Q["vector_index_refresh"](spark, SF).count()
    dump("vectorindex_src", src_caps.get("vectorindex_src", "<none>"))

    # -- declared query plans (must be invariant) -----------------------
    cw.CowTable._write = orig_write  # unhook for speed
    for name in (
        "mv_incremental_orders", "sql_mv_refresh", "search_index_bm25",
        "stream_search_maintenance", "vector_index_refresh",
        "sql_vector_index", "pipeline_end_to_end",
        "mv_join_agg_incremental", "sql_cow_dml",
    ):
        df = Q[name](spark, SF)
        dump(name, fmt(df))
    spark.stop()


if __name__ == "__main__":
    main()
