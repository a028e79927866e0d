"""Operator-level tests: popularity percentiles, dedup family, KNN,
text functions — semantics pinned against hand-computed expectations
(golden-value style, like the reference's popularity test_sql.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openverse_catalog_spark.functions import text as tx
from openverse_catalog_spark.operators import dedupe as dd
from openverse_catalog_spark.operators import knn
from openverse_catalog_spark.operators.popularity import (
    percentile_disc_by_group,
    popularity_constants,
    standardized_popularity,
)


def test_percentile_disc_exact(spark):
    # percentile_disc picks an actual data value: smallest v with cume_dist >= p
    rows = [("a", float(v)) for v in range(1, 11)]  # 1..10
    df = spark.createDataFrame(rows, "g string, v double")
    got = percentile_disc_by_group(df, ["g"], "v", 0.85).first()
    assert got["percentile_value"] == 9.0  # ceil(0.85*10) = 9th value
    got = percentile_disc_by_group(df, ["g"], "v", 0.5).first()
    assert got["percentile_value"] == 5.0


def test_popularity_constants_zero_guard(spark):
    # reference popularity/sql.py:263-268 — 0 percentile value -> 1
    df = spark.createDataFrame([("p1", 0.0), ("p2", 100.0)], "g string, percentile_value double")
    got = {r["g"]: r["constant"] for r in popularity_constants(df, 0.85).collect()}
    assert math.isclose(got["p1"], (0.15 / 0.85) * 1.0)
    assert math.isclose(got["p2"], (0.15 / 0.85) * 100.0)


def test_standardized_popularity_math(spark):
    facts = spark.createDataFrame([("p", 100.0)], "g string, m double")
    consts = spark.createDataFrame([("p", 25.0)], "g string, constant double")
    got = standardized_popularity(facts, consts, ["g"], "m").first()
    assert math.isclose(got["standardized_popularity"], 100.0 / 125.0)


def test_exact_dedupe_keeps_one(spark):
    df = spark.createDataFrame(
        [("p", "f", 1), ("p", "f", 2), ("p", "g", 3)], "prov string, fid string, n int"
    )
    out = dd.exact_dedupe(df, ["prov", "fid"], [F.col("n").desc()]).collect()
    got = {(r["prov"], r["fid"]): r["n"] for r in out}
    assert got == {("p", "f"): 2, ("p", "g"): 3}


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text about spark engines and parquet files")],
        "id long, text string",
    )
    sigs = dd.minhash_signatures(df, "id", "text")
    pairs = dd.minhash_lsh_pairs(sigs, "id").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_identical_equal_distinct_differ(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota kappa")],
        "id long, text string",
    )
    got = {r["id"]: r["simhash"] for r in dd.simhash16(df, "id", "text").collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_ngram_jaccard_exact_value(spark):
    # doc1: tokens a b c d -> 3-grams {a b c, b c d}; doc2: a b c e -> {a b c, b c e}
    # intersection 1, union 3 -> jaccard 1/3
    df = spark.createDataFrame(
        [(1, "a b c d", "s"), (2, "a b c e", "s")], "id long, text string, src string"
    )
    got = dd.ngram_jaccard_pairs(df, "id", "text", n=3, block_col="src").first()
    assert math.isclose(got["jaccard"], 1 / 3)


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),   # closest to 1
        (3, [0.0, 1.0]),   # orthogonal to 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn.cosine_topk(df, df.filter("vec_id = 1"), k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [2, 3]
    assert ranked[0]["cosine"] > 0.99


def test_lsh_recall_against_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = knn.cosine_topk(emb, emb, k=1, broadcast_queries=False)
    approx = knn.lsh_bucket_topk(emb, k=1, n_planes=4, n_tables=8, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5  # 8 tables x 4 planes: union of candidates


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"),
         (2, "der hund und die katze ist nicht da"),
         (3, "xyzzy plugh 12345")],
        "id long, text string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", tx.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
         (3, "alpha beta gamma epsilon")],
        "id long, text string",
    )
    got = {r["id"]: r["f"] for r in df.select("id", tx.fingerprint(F.col("text")).alias("f")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_token_count(spark):
    df = spark.createDataFrame([(1, "Hello, world! 123")], "id long, text string")
    assert df.select(tx.token_count(F.col("text")).alias("n")).first()["n"] == 3


def test_ivf_recall_against_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    exact = knn.cosine_topk(emb, queries, k=3)
    approx = knn.ivf_topk(emb, k=3, centroid_mod=40, query_mod=20, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.4  # nprobe=2 of ~13 lists


def test_embedding_near_dup_exact_finds_salted(spark):
    # scaled copy (cos=1) and perturbed copy (cos~0.999) must surface;
    # an orthogonal-ish distinct vector must not
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [2.0, 4.0, 6.0, 8.0]),       # scaled -> cosine 1.0
        (3, [1.0, 2.0, 3.0, 4.1]),       # near
        (4, [-4.0, 3.0, -2.0, 1.0]),     # far
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_exact(df, threshold=0.99).collect()
    }
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(4 not in pair for pair in got)


def test_blocked_exact_pairs_equal_broadcast_exact(spark, sf_dir):
    """Triangle block-pair exact pairs must be row-identical to the
    broadcast brute-force baseline — blocking partitions the pair space,
    it doesn't approximate it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_exact(emb, threshold=0.8).collect()
    }
    blocked = [
        (r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_blocked(
            emb, threshold=0.8, n_blocks=5
        ).collect()
    ]
    assert len(blocked) == len(set(blocked))  # each pair in exactly one group
    assert set(blocked) == exact


def test_cosine_topk_bounds_query_collect(spark):
    import pytest as _pytest

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="max_queries"):
        knn.cosine_topk(df, df, k=1, max_queries=5)


def test_ngram_max_df_bounds_stop_gram_pairs(spark):
    """A gram shared by every doc must not explode the pair space when
    max_df is set: with the stop-gram dropped, only genuinely similar
    docs pair."""
    stop = "aaa bbb ccc"
    rows = [(i, f"{stop} unique{i} token{i} word{i}") for i in range(30)]
    rows.append((100, f"{stop} unique1 token1 word1"))  # true dup of doc 1
    df = spark.createDataFrame(rows, "id long, text string")
    uncapped = dd.ngram_jaccard_pairs(df, "id", "text", n=3).collect()
    capped = dd.ngram_jaccard_pairs(df, "id", "text", n=3, max_df=10).collect()
    # every doc shares the stop-gram -> uncapped pairs all 31*30/2 docs
    assert len(uncapped) == 31 * 30 // 2
    # capped: only the true dup pair survives (all its grams are rare)
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(1, 100)}
    assert capped[0]["jaccard"] == 1.0


def test_embedding_lsh_near_dup_recall(spark, sf_dir):
    from openverse_catalog_spark.plans.corpus_queries import _embed_corpus

    corpus = _embed_corpus(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_exact(corpus, threshold=0.9).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in knn.embedding_near_dup_pairs(corpus, threshold=0.9).collect()
    }
    assert exact, "salted corpus must contain near-dups"
    assert len(exact & approx) / len(exact) > 0.9  # near-identical vectors collide


def test_dup_components_bounded(spark):
    # two clusters: star {1,2,3} and chain 10-11-12 (diameter 2)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dd.dup_components_bounded(pairs, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_percentile_disc_multi_one_pass(spark):
    from openverse_catalog_spark.operators.popularity import percentile_disc_multi

    rows = [("a", float(v)) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = percentile_disc_multi(df, ["g"], "v", {"p85": 0.85, "p50": 0.5}).first()
    assert (got["p85"], got["p50"]) == (9.0, 5.0)


def test_quantize_int8_golden(spark):
    # vec [0.5, -1.0, 0.25]: scale 1.0, q = [64, -127, 32] (0.5*127=63.5
    # rounds HALF-UP to 64), q_sum = -31; zero vector stays all-zero.
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in knn.quantize_int8(df).collect()}
    assert got[1]["scale"] == 1.0 and got[1]["q_sum"] == 64 - 127 + 32
    recon = [64 / 127, -1.0, 32 / 127]
    want = math.sqrt(sum((a - b) ** 2 for a, b in zip([0.5, -1.0, 0.25], recon)) / 3)
    assert abs(got[1]["rmse"] - want) < 1e-12
    assert got[2]["scale"] == 0.0 and got[2]["q_sum"] == 0 and got[2]["rmse"] == 0.0


def test_license_backfill_guard(spark):
    from openverse_catalog_spark.functions.licenses import backfill_license_url

    df = spark.createDataFrame(
        [
            (1, "by", "4.0", None),            # missing -> filled from dim
            (2, "by", "4.0", "http://keep/x"),  # present -> untouched
            (3, "by-nd", "9.9", None),          # invalid pair -> stays NULL
        ],
        "id long, license string, license_version string, license_url string",
    )
    got = {r["id"]: r for r in backfill_license_url(df, spark).collect()}
    assert got[1]["license_url"] == "https://creativecommons.org/licenses/by/4.0/"
    assert got[1]["backfilled"] is True
    assert got[2]["license_url"] == "http://keep/x" and got[2]["backfilled"] is False
    assert got[3]["license_url"] is None and got[3]["backfilled"] is False


def test_percentile_multi_count_col(spark):
    from openverse_catalog_spark.operators.popularity import percentile_disc_multi

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: r
        for r in percentile_disc_multi(
            df, ["g"], "v", {"p50": 0.5, "p95": 0.95}, count_col="n"
        ).collect()
    }
    assert got["a"]["p50"] == 5.0 and got["a"]["p95"] == 10.0 and got["a"]["n"] == 10
    assert got["b"]["p50"] == 7.0 and got["b"]["n"] == 1


def test_repetition_profile_golden(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.repetition_profile(df).collect()}
    assert set(got) == {1, 2}  # empty/null docs dropped
    assert (got[1]["n_tokens"], got[1]["n_distinct"], got[1]["max_count"]) == (4, 2, 3)
    assert (got[2]["n_tokens"], got[2]["n_distinct"], got[2]["max_count"]) == (3, 3, 1)


def test_contamination_finds_exact_copy_only(spark):
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven"),
            (2, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "one two three four five six seven")],
        "bench_id long, text string",
    )
    got = dd.contamination_check(docs, bench, min_shared=1).collect()
    assert len(got) == 1
    r = got[0]
    # doc 1 shares all 3 of the benchmark's 5-grams -> full overlap
    assert (r["doc_id"], r["bench_id"], r["n_shared"]) == (1, 100, 3)
    assert abs(r["bench_overlap"] - 1.0) < 1e-9


def test_percentile_matches_reference_golden_scenario(spark):
    """The reference's live-Postgres percentile test, verbatim
    (popularity/test_sql.py:202-295): my_provider views [0,50,75,150]
    at p=0.5 -> 50.0; diff_provider comments [0,50] at p=0.3 -> 0.0;
    a provider with no rows for the metric yields no percentile row."""
    rows = [
        ("my_provider", "views", 0.0),
        ("my_provider", "views", 50.0),
        ("my_provider", "views", 75.0),
        ("my_provider", "views", 150.0),
        ("diff_provider", "comments", 0.0),
        ("diff_provider", "comments", 50.0),
    ]
    df = spark.createDataFrame(rows, "provider string, metric string, v double")
    p50 = percentile_disc_by_group(
        df.filter("provider = 'my_provider' AND metric = 'views'"),
        ["provider"], "v", 0.5,
    ).first()
    assert p50["percentile_value"] == 50.0
    p30 = percentile_disc_by_group(
        df.filter("provider = 'diff_provider' AND metric = 'comments'"),
        ["provider"], "v", 0.3,
    ).first()
    assert p30["percentile_value"] == 0.0
    missing = percentile_disc_by_group(
        df.filter("provider = 'diff_provider' AND metric = 'views'"),
        ["provider"], "v", 0.3,
    )
    assert missing.count() == 0


def test_simhash_hybrid_matches_expression_form(spark):
    """The Arrow-vote hybrid (production path) is bit-identical to the
    pure-expression SimHash it replaced, at both widths."""
    from openverse_catalog_spark.operators.dedupe import (
        _simhash_expr,
        _simhash_hybrid,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, None),
            (5, "Pack my box with five dozen liquor jugs, 42 times."),
        ],
        "doc_id long, text string",
    )
    for bits in (16, 60):
        expr = {
            r.doc_id: r.simhash
            for r in docs.select(
                "doc_id", _simhash_expr(F.col("text"), bits).alias("simhash")
            ).collect()
        }
        hybrid = {
            r.doc_id: r.simhash
            for r in _simhash_hybrid(docs, "doc_id", "text", bits).collect()
        }
        assert expr == hybrid


def test_mmr_rerank_prefers_diversity(spark):
    """MMR picks the diverse third item over a near-duplicate of the
    first pick even when the duplicate has higher raw relevance."""
    import math

    from openverse_catalog_spark.operators.knn import mmr_rerank

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 62

    corpus = spark.createDataFrame(
        [
            (1, vec(1, 0)),        # top relevance
            (2, vec(0.999, 0.04)), # near-dup of 1, 2nd relevance
            (3, vec(0.6, 0.8)),    # diverse, 3rd relevance
        ],
        "neighbor_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(10, 1, 0.99), (10, 2, 0.98), (10, 3, 0.80)],
        "query_id long, neighbor_id long, cosine double",
    )
    got = {
        r.mmr_rank: r.neighbor_id
        for r in mmr_rerank(cand, corpus, lam=0.5, k=3).collect()
    }
    assert got[1] == 1      # pure relevance
    assert got[2] == 3      # diversity beats the near-duplicate
    assert got[3] == 2


def test_grouped_blocked_pairs_stay_within_groups(spark):
    """With group_cols, pairs only form within a group, the group key
    prefixes the output, and within-group results equal the ungrouped
    kernel run on that group alone."""
    from pyspark.sql import functions as F

    rows = [
        (1, 0, [1.0, 2.0, 3.0, 4.0]),
        (2, 0, [2.0, 4.0, 6.0, 8.0]),    # same group, cosine 1.0
        (3, 1, [1.0, 2.0, 3.0, 4.0]),    # identical vector, OTHER group
        (4, 1, [1.0, 2.0, 3.0, 4.05]),   # near dup within group 1
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cid int, embedding array<double>"
    )
    got = {
        (r["cid"], r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_blocked(
            df, threshold=0.99, n_blocks=3, group_cols=["cid"]
        ).collect()
    }
    # cross-group identical pair (1,3) and (2,3) MUST be absent
    assert got == {(0, 1, 2), (1, 3, 4)}

    per_group = {
        (r["id_a"], r["id_b"])
        for r in knn.cosine_near_dup_pairs_blocked(
            df.filter(F.col("cid") == 1).drop("cid"),
            threshold=0.99, n_blocks=3,
        ).collect()
    }
    assert per_group == {(a, b) for (g, a, b) in got if g == 1}


def test_exact_substring_pairs_finds_copied_span(spark):
    base = "".join(chr(97 + (i * 7) % 26) for i in range(300))  # 300 chars
    rows = [
        (1, base),
        (2, base[:200] + " totally different ending material here!!"),
        (3, "short doc"),                       # < width: never pairs
        (4, "z" * 64 + base[32:96]),            # misaligned copy: no shared window
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {(r["id_a"], r["id_b"]): r["shared"]
           for r in dd.exact_substring_pairs(df, "id", "text").collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == 5  # aligned windows at offsets 0,32,64,96,128


def test_exact_substring_max_df_drops_boilerplate(spark):
    boiler = "x" * 64
    rows = [(i, boiler + f" unique trailing content number {i} " + "y" * 40)
            for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string")
    uncapped = dd.exact_substring_pairs(df, "id", "text", min_shared=1).count()
    capped = dd.exact_substring_pairs(
        df, "id", "text", min_shared=1, max_df=5
    ).count()
    assert uncapped == 30 * 29 // 2  # the shared boilerplate pairs everyone
    assert capped == 0               # dropped before the self-join


def test_classifier_score_orders_prose_over_soup(spark):
    from openverse_catalog_spark.functions import text as tx

    rows = [
        (1, "The quick brown fox jumps over the lazy dog and then the "
            "other animals in the field were watching it with interest. " * 3),
        (2, "!!!???;;;...,,,:::" * 20),
        (3, "a b"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    scores = {
        r["id"]: r["s"]
        for r in df.select(
            "id", tx.classifier_score(F.col("text")).alias("s")
        ).collect()
    }
    assert 0.0 < scores[2] < scores[3] < scores[1] < 1.0
    # punctuation soup must land under the registered keep threshold
    assert scores[2] < 0.75 <= scores[1]

    # weights are the model: swapping them swaps the decision boundary
    inv = df.select(
        "id",
        tx.classifier_score(
            F.col("text"), weights=(-1.2, -2.0, -1.5, 3.0), bias=1.8
        ).alias("s"),
    ).collect()
    inv_scores = {r["id"]: r["s"] for r in inv}
    assert inv_scores[1] < inv_scores[2]


def test_random_project_is_linear_and_deterministic(spark):
    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 4.0, 6.0, 8.0]),
            (3, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: [r[f"y{p}"] for p in range(4)]
           for r in knn.random_project(df, out_dim=4).collect()}
    again = {r["vec_id"]: [r[f"y{p}"] for p in range(4)]
             for r in knn.random_project(df, out_dim=4).collect()}
    assert out == again                                   # deterministic
    for p in range(4):
        assert abs(out[2][p] - 2 * out[1][p]) < 1e-12     # linear
        assert out[3][p] == 0.0                           # zero maps to zero
    # projection is partition-layout independent
    parts = {r["vec_id"]: [r[f"y{p}"] for p in range(4)]
             for r in knn.random_project(df.repartition(3), out_dim=4).collect()}
    assert parts == out


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    long = " ".join(f"w{i}" for i in range(120))
    rows = [
        (1, long),
        (2, " ".join(f"w{i}" for i in range(20))),   # pure prefix subset
        (3, " ".join(f"x{i}" for i in range(20))),   # disjoint
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in dd.ngram_containment_pairs(
                df, "id", "text", min_containment=0.9).collect()}
    assert set(cont) == {(1, 2)} and cont[(1, 2)] == 1.0
    # the same pair is invisible to a 0.3-Jaccard floor: union-dominated
    jac = dd.ngram_jaccard_pairs(df, "id", "text", n=3, min_jaccard=0.3)
    assert jac.count() == 0


def test_cosine_radius_matches_bruteforce(spark):
    import math

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 1")
    got = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in knn.cosine_radius(df, q, threshold=0.5).collect()}
    assert set(got) == {(1, 2)}  # only the near-parallel vector qualifies
    assert abs(got[(1, 2)] - 0.9 / math.hypot(0.9, 0.1)) < 1e-9
    # self-pairs excluded even at threshold 1.0... and the bound guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_queries"):
        knn.cosine_radius(df, df, threshold=0.5, max_queries=2)


def test_exact_pairs_bounds_corpus_collect(spark):
    """cosine_near_dup_pairs_exact broadcasts the WHOLE corpus — the
    driver collect must be bounded like its cosine_topk/radius siblings
    (an exported function must never OOM the driver silently)."""
    import pytest as _pytest

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="max_rows"):
        knn.cosine_near_dup_pairs_exact(df, threshold=0.9, max_rows=5)
    # under the bound it still works
    assert knn.cosine_near_dup_pairs_exact(df, threshold=0.999).count() >= 1


def test_simhash_near_pairs_refuses_unblocked_cross_join(spark):
    """Without a block key the pair space is O(n^2); the exported API
    must refuse unless the caller opts in for a bounded candidate set."""
    import pytest as _pytest

    sims = spark.createDataFrame(
        [(1, 0b1010), (2, 0b1011), (3, 0b0101)], "doc_id long, simhash long"
    )
    with _pytest.raises(ValueError, match="cross join"):
        dd.simhash_near_pairs(sims, "doc_id", max_hamming=1)
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.simhash_near_pairs(
            sims, "doc_id", max_hamming=1, allow_cross_join=True
        ).collect()
    }
    assert got == {(1, 2)}


def test_exact_dedupe_skips_nested_map_tiebreakers(spark):
    """Orderable-column filter must exclude maps at ANY nesting depth
    (array<map>, struct-with-map), not just top-level map columns —
    else the default tiebreaker ORDER BY raises AnalysisException."""
    df = spark.createDataFrame(
        [
            (1, "a", [{"k": "v"}], {"s": {"k2": "v2"}}, "keep"),
            (1, "b", [{"k": "w"}], {"s": {"k2": "v3"}}, "drop"),
        ],
        "k long, tag string, amaps array<map<string,string>>, "
        "smap struct<s:map<string,string>>, note string",
    )
    out = dd.exact_dedupe(df, ["k"])
    assert out.count() == 1
    # deterministic winner via the orderable columns (tag 'a' first)
    assert out.collect()[0]["tag"] == "a"


def test_lsh_star_edges_connectivity_equals_pairs(spark):
    """Star edges (bucket member -> bucket min) must yield the SAME
    connected components as the all-pairs form while emitting edges
    linear in bucket size — the dup-heavy-corpus scale fix."""
    texts = {
        1: "the quick brown fox jumps over the lazy dog in the park",
        2: "the quick brown fox jumps over the lazy dog in the park",
        3: "the quick brown fox jumps over the lazy dog in the yard",
        4: "completely different content about database systems design",
        5: "completely different content about database systems design",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "id long, text string"
    )
    sigs = dd.minhash_signatures(df, "id", "text")
    pairs = dd.minhash_lsh_pairs(sigs, "id")
    stars = dd.minhash_lsh_star_edges(sigs, "id")

    def comps(edges, rounds):
        out = dd.dup_components_bounded(edges, rounds=rounds)
        return {r["doc_id"]: r["canonical_id"] for r in out.collect()}

    cp, cs = comps(pairs, 3), comps(stars, 4)
    assert set(cp) == set(cs)       # same nodes participate
    assert cp == cs                  # same canonical labels
    # star edge count <= pair edge count; strictly fewer for buckets > 2
    n_pairs, n_stars = pairs.count(), stars.count()
    assert n_stars <= n_pairs
    # hub is always the min -> id_a < id_b invariant holds
    assert stars.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_bigram_nll_flags_shuffled_word_order(spark):
    """The bigram LM must separate docs by word ORDER: a doc whose
    tokens are a permutation of common text (same unigrams, broken
    transitions) scores a higher mean NLL than the repeated natural
    phrasing it was shuffled from."""
    base = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat the and rug cat the on sat the"
    rows = [(i, base) for i in range(10)] + [(99, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the registered query (text_bigram_nll, oracle-gated) reads the
    # documents parquet; drive the same construction on the small frame
    from pyspark.sql import Window

    tok = df.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big_rel = tok.select(
        "doc_id", F.lag("token").over(w).alias("prev"), F.col("token").alias("cur")
    ).filter(F.col("prev").isNotNull())
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").alias("nn"))
    big = big_rel.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("npc"))
    ctx = big.groupBy("prev").agg(F.sum("npc").alias("np"))
    p = 0.75 * (F.col("npc") / F.col("np")) + 0.25 * (F.col("n") / F.col("nn"))
    scored = (
        big_rel.join(big, ["prev", "cur"]).join(ctx, ["prev"])
        .join(uni.withColumnRenamed("token", "cur"), ["cur"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.avg(-F.log2(p)).alias("avg_nll"))
    )
    got = {r["doc_id"]: r["avg_nll"] for r in scored.collect()}
    assert got[99] > got[0]  # broken transitions cost bits


def test_self_repeat_trim_cuts_looped_tail(spark):
    """A doc that loops its opening phrase is truncated at the first
    repeated 5-gram; unique docs and short docs pass through whole."""
    loop = "alpha beta gamma delta epsilon zeta " * 3
    uniq = "one two three four five six seven eight nine ten"
    short = "just four tokens here"
    df = spark.createDataFrame(
        [(1, loop), (2, uniq), (3, short)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in dd.self_repeat_trim(df, "doc_id", "text").collect()}
    assert got[1]["n_tokens"] == 18
    # second pass of the loop starts at token 7 -> keep tokens 1..6
    assert got[1]["kept_tokens"] == 6
    assert got[1]["kept_text"] == "alpha beta gamma delta epsilon zeta"
    assert got[2]["kept_tokens"] == 10 and got[2]["kept_text"].endswith("ten")
    assert got[3]["kept_tokens"] == 4  # < n tokens: no grams, kept whole


def test_ivf_multiprobe_recall_monotone(spark, sf_dir, tmp_path):
    """The nprobe recall/cost knob on the persisted IVF index: probing
    more lists can only ADD candidates per query, so recall@k against
    the brute-force ground truth must be monotone nprobe=1 -> 4, and
    multi-probe must beat single-probe on this fixture (single-probe
    misses every neighbor whose list isn't the query's own)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    path = str(tmp_path / "ivf_idx")
    knn.ivf_build_index(emb, path, "vec_id", "embedding", centroid_mod=40)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.cosine_topk(emb, queries, k=3).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in knn.ivf_probe_index(
                spark, path, queries, "vec_id", "embedding",
                k=3, nprobe=nprobe,
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4
    assert r4 > r1  # the knob buys real recall on this corpus
    assert r4 > 0.6


def test_ivf_index_upsert_equals_rebuild(spark, sf_dir, tmp_path):
    """Incrementally upserting a batch into a persisted IVF index must
    probe identically to rebuilding the index from scratch over the
    union corpus (fixed centroids => per-row assignment is independent
    of the rest of the corpus)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") % 5 == 2).select(
        (F.col("vec_id") + 1000001).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0)

    inc_path = str(tmp_path / "inc")
    knn.ivf_build_index(emb, inc_path, "vec_id", "embedding", centroid_mod=40)
    rep = knn.ivf_index_upsert(spark, inc_path, batch, "vec_id", "embedding")
    assert rep["added"] == batch.count()

    # rebuild-from-scratch control: same centroid set (base ids only —
    # salted ids are > 1e6 so never multiples-of-40 picks from base)
    full_path = str(tmp_path / "full")
    union = emb.select("vec_id", "embedding").unionByName(batch)
    knn.ivf_build_index(
        union, full_path, "vec_id", "embedding", centroid_mod=40
    )
    # centroid sets must agree for the comparison to be meaningful
    c_inc = {r["centroid_id"] for r in
             spark.read.parquet(f"{inc_path}/centroids").collect()}
    c_full = {r["centroid_id"] for r in
              spark.read.parquet(f"{full_path}/centroids").collect()}
    assert c_inc == c_full

    def probe(path):
        return {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in knn.ivf_probe_index(
                spark, path, queries, "vec_id", "embedding", k=3, nprobe=2
            ).collect()
        }

    assert probe(inc_path) == probe(full_path)


def test_ivf_pq_recall_floor_and_rerank_exactness(spark, sf_dir, tmp_path):
    """IVF-PQ: the code-only ADC pass + exact shortlist re-rank must
    (a) keep a recall floor against brute force, (b) never beat the
    plain-IVF recall at the same nprobe by construction-breaking means
    (its candidates are a re-ranked subset of the same probed lists),
    and (c) report EXACT cosines for what it returns (the re-rank is
    not approximate)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    path = str(tmp_path / "ivfpq_idx")
    knn.ivf_pq_build_index(
        emb, path, "vec_id", "embedding", centroid_mod=40, pq_m=8,
        codebook_mod=25,
    )
    exact = knn.cosine_topk(emb, queries, k=3)
    etop = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }
    ecos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in exact.collect()
    }
    got = knn.ivf_pq_probe_index(
        spark, path, queries, emb, "vec_id", "embedding",
        k=3, nprobe=2, shortlist=32,
    ).collect()
    gtop = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(etop & gtop) / len(etop)
    assert recall > 0.4, recall
    # returned cosines are exact: wherever PQ and brute force agree on
    # a pair, the scores match to float tolerance
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in ecos:
            assert abs(r["cosine"] - ecos[key]) < 1e-9
    # the lists store codes, never raw vectors
    lists = spark.read.parquet(f"{path}/lists")
    assert set(lists.columns) == {"neighbor_id", "centroid_id", "codes"}
    import os

    list_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(f"{path}/lists")
        for fn in fns if fn.endswith(".parquet")
    )
    raw_bytes = emb.count() * 64 * 8
    assert list_bytes < raw_bytes / 4  # codes ≪ raw vectors


def test_segment_dedup_c4(spark):
    """C4 rule: a segment appearing twice survives only at its first
    (doc, pos); a full clone dissolves entirely; unique text is kept
    verbatim."""
    w10 = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    a = f"{w10('a')} {w10('b')}"          # two segments
    clone = a                              # doc 2: full clone of doc 1
    partial = f"{w10('b')} {w10('z')}"     # doc 3: shares segment b only
    df = spark.createDataFrame(
        [(1, a), (2, clone), (3, partial)], "id bigint, text string"
    )
    out = {
        r["id"]: (r["n_segments"], r["n_kept"], r["cleaned_text"])
        for r in dd.segment_dedup(df, "id", "text").collect()
    }
    assert out[1] == (2, 2, a)                      # first occurrence keeps all
    assert out[2] == (2, 0, "")                     # clone fully dissolved
    assert out[3] == (2, 1, w10("z"))               # shared b dropped, z kept


def test_ivf_pq_residual_recall_not_worse_than_raw(spark, sf_dir, tmp_path):
    """Residual encoding quantizes the tighter x - c(x) distribution,
    so with the same code budget its ADC ordering should recover at
    least as much of the brute-force top-k as raw encoding on this
    corpus — and its re-ranked cosines stay exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)

    def recall(residual):
        path = str(tmp_path / f"idx_{residual}")
        knn.ivf_pq_build_index(
            emb, path, "vec_id", "embedding", centroid_mod=40, pq_m=8,
            codebook_mod=25, residual=residual,
        )
        got = knn.ivf_pq_probe_index(
            spark, path, queries, emb, "vec_id", "embedding",
            k=3, nprobe=2, shortlist=32,
        ).collect()
        return {(r["query_id"], r["neighbor_id"]) for r in got}

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.cosine_topk(emb, queries, k=3).collect()
    }
    raw, res = recall(False), recall(True)
    r_raw = len(exact & raw) / len(exact)
    r_res = len(exact & res) / len(exact)
    assert r_res >= r_raw - 0.05, (r_res, r_raw)
    assert r_res > 0.4, r_res
    # the two encodings genuinely differ (same lists, different codes)
    raw_codes = spark.read.parquet(str(tmp_path / "idx_False") + "/lists")
    res_codes = spark.read.parquet(str(tmp_path / "idx_True") + "/lists")
    joined = raw_codes.alias("a").join(
        res_codes.alias("b"), "neighbor_id"
    ).filter(F.col("a.codes") != F.col("b.codes"))
    assert joined.count() > 0


def test_unigram_viterbi_em(spark):
    """Unigram-LM tokenizer: the DP segmentation matches a brute-force
    enumeration under the same (score desc, length-digits desc) order;
    EM usage counts come from the best segmentations; encode joins the
    dictionary and Viterbi-falls-back for unseen words."""
    import itertools
    import math

    from openverse_catalog_spark.operators.unigram import (
        _segment,
        piece_scores,
        seed_pieces,
        unigram_encode,
        unigram_learn,
        unigram_word_frequencies,
        viterbi_tokenize,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cats sat"),
            (3, "a cat and a mat"),
            (4, "the the the concatenate"),
        ],
        "doc_id long, text string",
    )
    words = unigram_word_frequencies(docs)
    wf = {r["word"]: r["cnt"] for r in words.collect()}
    assert wf["the"] == 6 and wf["cat"] == 2

    # seed usage: count-weighted substring occurrences, chars always in
    seeds = {
        r["piece"]: r["usage"]
        for r in seed_pieces(words, min_count=2).collect()
    }
    # 'at' occurs in cat(2), sat(2), mat(2), cats(1), concatenate(1x...)
    assert seeds["at"] >= 8
    assert "q" not in seeds and "t" in seeds

    scores = piece_scores(seed_pieces(words, min_count=2))

    def brute(word):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pieces, start = [], 0
            for i, c in enumerate(cuts, start=1):
                if c:
                    pieces.append(word[start:i])
                    start = i
            pieces.append(word[start:])
            if any(len(p) > 4 or p not in scores for p in pieces):
                continue
            sc = sum(scores[p] for p in pieces)
            lens = "".join(str(len(p)) for p in pieces)
            key = (sc, lens)
            if best is None or key > best[0]:
                best = (key, pieces)
        return best[1]

    for w in wf:
        assert _segment(w, scores, 4) == brute(w), w

    # EM: learned scores are micro-logs of the usage distribution
    sc2, usage_df, tok = unigram_learn(words, rounds=2)
    rows = usage_df.collect()
    total = sum(r["usage"] for r in rows)
    for r in rows:
        want = math.floor(
            (math.log(r["usage"]) - math.log(total)) * 1_000_000 + 0.5
        )
        assert r["lp"] == int(want)
        assert sc2[r["piece"]] == r["lp"]
    # every training word tokenizes, score = sum of its piece scores
    for r in viterbi_tokenize(words, sc2).collect():
        assert r["score"] == sum(sc2[p] for p in r["toks"].split(" "))

    # encode: consistent totals; unseen word falls back through Viterbi
    enc = {
        r["doc_id"]: r
        for r in unigram_encode(docs, "text", tok, sc2).collect()
    }
    assert enc[1]["n_words"] == 6
    assert enc[1]["n_tokens"] == len(enc[1]["toks"].split(" "))
    # 'catmat' is unseen but coverable (cat + mat survive EM)
    new = spark.createDataFrame(
        [(9, "the catmat")], "doc_id long, text string"
    )
    e9 = unigram_encode(new, "text", tok, sc2).collect()[0]
    assert e9["n_words"] == 2 and e9["n_tokens"] >= 2
    # a word with a character the corpus never had is honestly refused
    import pytest

    with pytest.raises(ValueError, match="not coverable"):
        unigram_encode(
            spark.createDataFrame(
                [(11, "zzz")], "doc_id long, text string"
            ),
            "text", tok, sc2,
        ).collect()
    # word longer than the cap is dropped from encoding entirely
    long = spark.createDataFrame(
        [(10, "the extraordinarily cat")], "doc_id long, text string"
    )
    e10 = unigram_encode(long, "text", tok, sc2).collect()[0]
    assert e10["n_words"] == 2  # 'extraordinarily' dropped


def test_mine_bitext_margin_hubness_correction(spark):
    """The ratio margin's point: a HUB target (globally close to every
    src) is deflated by its high backward neighborhood average, while
    a clean one-to-one pair keeps a high margin — a raw cosine
    threshold cannot make that distinction."""
    import numpy as np

    from openverse_catalog_spark.operators.knn import mine_bitext_margin

    rng = np.random.default_rng(11)
    base = rng.normal(size=(8, 16))
    # src side (even ids): 8 distinct directions
    src_rows = [
        (2 * i, [float(x) for x in base[i]]) for i in range(8)
    ]
    # tgt: id 1 = clean translation of src 0 (near-copy); id 3 = HUB,
    # the normalized mean of ALL src directions (cosine ~equal to
    # everything); ids 5.. = noise
    hub = base.mean(axis=0)
    tgt_rows = [
        (1, [float(x) for x in base[0] + rng.normal(scale=0.01, size=16)]),
        (3, [float(x) for x in hub]),
    ] + [
        (5 + 2 * j, [float(x) for x in rng.normal(size=16)])
        for j in range(6)
    ]
    src = spark.createDataFrame(
        src_rows, "vec_id long, embedding array<double>"
    )
    tgt = spark.createDataFrame(
        tgt_rows, "vec_id long, embedding array<double>"
    )
    out = {
        r.src_id: r
        for r in mine_bitext_margin(
            src, tgt, k=3, threshold=0.0
        ).collect()
    }
    # src 0's best is its clean translation, with a strong margin
    assert out[0].tgt_id == 1 and out[0].margin > 1.1
    # every src whose best match is the HUB gets a deflated margin:
    # the hub's backward average is itself hub-high
    hub_margins = [r.margin for r in out.values() if r.tgt_id == 3]
    assert hub_margins and all(m < out[0].margin for m in hub_margins)


def test_mine_bitext_backward_bounded_to_winners(spark):
    """The backward GEMM is restricted to forward rank-1 winner ids:
    (a) margins are unchanged vs the definition (each winner still
    scores against ALL of src), and (b) a tgt side LARGER than
    max_queries mines fine when the winner set is small — before the
    bound, batch mining against a big standing corpus raised on the
    backward pass's query-side cap."""
    import numpy as np

    from openverse_catalog_spark.operators.knn import mine_bitext_margin

    rng = np.random.default_rng(23)
    base = rng.normal(size=(6, 16))
    src = spark.createDataFrame(
        [(2 * i, [float(x) for x in base[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # 40 tgt rows: 6 near-copies of the src directions + 34 noise rows
    tgt_rows = [
        (1 + 2 * i,
         [float(x) for x in base[i] + rng.normal(scale=0.01, size=16)])
        for i in range(6)
    ] + [
        (101 + 2 * j, [float(x) for x in rng.normal(size=16)])
        for j in range(34)
    ]
    tgt = spark.createDataFrame(
        tgt_rows, "vec_id long, embedding array<double>"
    )
    queries = src.filter(F.col("vec_id") < 6)  # batch of 3
    # max_queries=10 < |tgt|=40: only the winner bound makes this run
    got = {
        r.src_id: (r.tgt_id, r.cosine, r.margin)
        for r in mine_bitext_margin(
            src, tgt, k=3, threshold=0.0, queries=queries, max_queries=10
        ).collect()
    }
    assert set(got) == {0, 2, 4}
    # margins equal the unbounded full-mining values for those queries
    full = {
        r.src_id: (r.tgt_id, r.cosine, r.margin)
        for r in mine_bitext_margin(
            src, tgt, k=3, threshold=0.0
        ).collect()
    }
    for sid, row in got.items():
        assert row == full[sid], (sid, row, full[sid])


def test_ensure_runtime_confs_skips_only_refused_keys(spark):
    """A conf the session refuses to set at runtime (the error a static
    key raises) is skipped and the others are still set; any other
    error from ``conf.set`` propagates."""
    from types import SimpleNamespace

    import pytest
    from pyspark.errors import AnalysisException

    from openverse_catalog_spark.session import ensure_runtime_confs

    with pytest.raises(AnalysisException) as refused:
        spark.conf.set("spark.sql.warehouse.dir", "/nonexistent")

    class Conf:
        def __init__(self, fail_on, error):
            self.fail_on, self.error, self.set_keys = fail_on, error, []

        def get(self, k, default=None):
            return default

        def set(self, k, v):
            if k == self.fail_on:
                raise self.error
            self.set_keys.append(k)

    def session(conf):
        return SimpleNamespace(
            conf=conf, sparkContext=SimpleNamespace(defaultParallelism=3)
        )

    conf = Conf("spark.sql.ansi.enabled", refused.value)
    ensure_runtime_confs(session(conf))
    assert "spark.sql.ansi.enabled" not in conf.set_keys
    assert {"spark.sql.session.timeZone",
            "spark.sql.shuffle.partitions"} <= set(conf.set_keys)
    with pytest.raises(RuntimeError, match="boom"):
        ensure_runtime_confs(
            session(Conf("spark.sql.ansi.enabled", RuntimeError("boom")))
        )
