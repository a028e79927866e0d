"""Round-6 10x probe: closes the round-5 verdict's probe-coverage gap.

Covers (a) knn_ivf_pq RE-probed after the matmul-encode fix (its only
prior probe, 0.75x/row, predates commit fecb781), (b) the queries that
never had a probe — knn_ivf_pq_residual, mv_join_incremental (the
slowest query in the suite), stream_cdc_apply, corpus_unigram_vocab /
encode — (c) an earlier-probed pair whose results were never written into
SCALING.md (merge_cow_partitioned, search_hybrid_rrf), and (d) this
round's new operators (mv_join_agg_incremental, stream_cdc_tombstones).

Same harness as every batch: key-offset replication so join/group
cardinalities scale with rows, cores fixed, per-row <= ~0.25x = the
shuffle/partition shape holds.

Usage: python tools/probe_r6.py
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402

from openverse_catalog_spark.session import get_spark, load_tables  # noqa: E402
from tools.scale_probe import COPIES, SF_DIR, replicate, timed  # noqa: E402

R6_PROBES = [
    ("knn_ivf_pq", {"embeddings": ["vec_id"]}),
    ("knn_ivf_pq_residual", {"embeddings": ["vec_id"]}),
    ("mv_join_incremental", {"orders": ["o_orderkey"]}),
    ("mv_join_agg_incremental", {"orders": ["o_orderkey"]}),
    ("stream_cdc_apply", {"orders": ["o_orderkey"]}),
    ("stream_cdc_tombstones", {"orders": ["o_orderkey"]}),
    ("corpus_unigram_vocab", {"documents": ["doc_id"]}),
    ("corpus_unigram_encode", {"documents": ["doc_id"]}),
    ("merge_cow_partitioned", {"orders": ["o_orderkey"]}),
    ("search_hybrid_rrf", {"documents": ["doc_id"], "embeddings": ["vec_id"]}),
]


def main() -> None:
    spark = get_spark("probe_r6")
    queries = entrymod.queries()
    tmp = tempfile.mkdtemp(prefix="sf10x_r6_")
    tables_needed: dict[str, list[str]] = {}
    for _, offs in R6_PROBES:
        tables_needed.update(offs)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        if t not in tables_needed:
            load_tables(spark, SF_DIR, (t,))[t].write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{t}.parquet")
    replicate(spark, SF_DIR, tmp, tables_needed, copies=COPIES)

    rows = []
    for name, _ in R6_PROBES:
        fn = queries[name]
        timed(fn, spark, SF_DIR)  # warm
        t1 = timed(fn, spark, SF_DIR)
        t10 = timed(fn, spark, tmp)
        rows.append((name, t1, t10, t10 / t1, t10 / t1 / COPIES))
        print(
            f"{name}: {t1:.2f}s -> {t10:.2f}s "
            f"({t10 / t1:.1f}x wall, {t10 / t1 / COPIES:.2f}x/row)"
        )
    lines = [
        "",
        "## Round-6 10x probe (IVF-PQ re-probe / MV join + join-agg / "
        "CDC apply + tombstones / unigram / r5e backfill)",
        "",
        "Same harness (key-offset replication, cores fixed): per-row "
        "<= ~1.2x = the shuffle/partition shape holds. knn_ivf_pq is "
        "RE-probed after the matmul-encode fix (fecb781) — both IVF-PQ "
        "numbers include the full index build at both scales. The MV "
        "and CDC queries rebuild their tables and run their whole "
        "multi-commit churn chain per invocation, so their numbers "
        "include create/commit I/O at both scales; orders replicate "
        "with offset o_orderkey so the fact side and the CDC event "
        "log grow 10x against the same dimension. The unigram pair "
        "re-runs EM vocab learning / Viterbi encoding over a 10x "
        "corpus.",
        "",
        "| query | sf0.1 (s) | 10x (s) | wall | per-row |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t10, w, pr in rows:
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {w:.1f}x | {pr:.2f}x |"
        )
    with open("/root/repo/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
