"""Incremental inverted index (operators/searchindex.py): refresh from
the change feed must equal a from-scratch rebuild through any churn,
replays must converge, and queries must prune posting files by term."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.searchindex import (
    SearchIndex,
    _doclens_of,
    _postings_of,
)
from openverse_catalog_spark.schemas.columns import (
    ColumnSpec,
    Datatype,
    UpsertStrategy,
)

COLS = [
    ColumnSpec("doc_id", Datatype.int, required=True,
               upsert_strategy=UpsertStrategy.no_change),
    ColumnSpec("text", Datatype.char),
]


def mk_docs(spark, *rows):
    return spark.createDataFrame(
        list(rows), "doc_id long, text string"
    )


def postings_dict(df):
    # (tf, positions) both compared: churn==rebuild must hold for the
    # positional postings too, or phrase queries drift under churn
    return {
        (r.term, r.doc_id): (r.tf, tuple(r.positions))
        for r in df.collect()
    }


def _assert_index_matches_base(idx, base):
    want_p = postings_dict(
        _postings_of(base.read(), "doc_id", "text")
    )
    got_p = postings_dict(idx.postings.read())
    assert got_p == want_p
    want_l = {r.doc_id: r.dl
              for r in _doclens_of(base.read(), "doc_id", "text").collect()}
    got_l = {r.doc_id: r.dl for r in idx.doclen.read().collect()}
    assert got_l == want_l


def test_refresh_equals_rebuild_through_churn(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark,
                (1, "alpha beta gamma alpha"),
                (2, "beta delta epsilon"),
                (3, "gamma gamma zeta")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    _assert_index_matches_base(idx, base)
    # churn: update 1 (term set changes), delete 2, insert 4
    base.update(F.col("doc_id") == 1,
                {"text": F.lit("alpha omega omega")})
    base.delete(F.col("doc_id") == 2)
    base.merge(mk_docs(spark, (4, "zeta eta theta")), COLS)
    r = idx.refresh()
    assert r["refreshed"] and r["applied"] == base.version
    _assert_index_matches_base(idx, base)
    # removed terms really left the index
    assert ("beta", 1) not in postings_dict(idx.postings.read())
    assert all(d != 2 for (_, d) in postings_dict(idx.postings.read()))


def test_refresh_nets_multi_commit_spans(spark, tmp_path):
    """A doc inserted-then-updated, one deleted-then-reinserted, and one
    updated twice inside ONE refresh span all land at their final
    state."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "one uno eins"), (2, "two dos zwei")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.merge(mk_docs(spark, (3, "born fresh")), COLS)          # insert
    base.update(F.col("doc_id") == 3, {"text": F.lit("born again")})
    base.delete(F.col("doc_id") == 2)
    base.merge(mk_docs(spark, (2, "two reborn")), COLS)          # revive
    base.update(F.col("doc_id") == 1, {"text": F.lit("one mid")})
    base.update(F.col("doc_id") == 1, {"text": F.lit("one final")})
    idx.refresh()
    _assert_index_matches_base(idx, base)
    p = postings_dict(idx.postings.read())
    assert ("again", 3) in p and ("fresh", 3) not in p
    assert ("reborn", 2) in p and ("dos", 2) not in p
    assert ("final", 1) in p and ("mid", 1) not in p


def test_refresh_idempotent_and_crash_replay(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "alpha beta"), (2, "gamma delta")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    applied0 = idx.applied_version
    base.update(F.col("doc_id") == 1, {"text": F.lit("alpha zeta")})
    idx.refresh()
    # no new base commits: refresh is a no-op
    assert idx.refresh() == {
        "applied": base.version, "refreshed": False,
    }
    snapshot = postings_dict(idx.postings.read())
    # crash between table commits and the state write: the state file
    # still names the OLD version, so the span replays — and must
    # converge to the same content
    idx._write_state(applied0)
    idx.refresh()
    assert postings_dict(idx.postings.read()) == snapshot
    _assert_index_matches_base(idx, base)


def test_bm25_query_prunes_posting_files(spark, tmp_path):
    """Posting files are key-clustered on term, so a query for a couple
    of terms must open a strict subset of the posting files."""
    docs = [
        (i, " ".join(
            w for w in ("alpha", "bravo", "charlie", "delta", "echo",
                        "foxtrot", "golf", "hotel", "india", "juliet")
            if (i + hash(w)) % 3 != 0
        ) or "alpha")
        for i in range(200)
    ]
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, *docs),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(
        spark, str(tmp_path / "idx"), base, target_files=8
    )
    all_files = set(idx.postings.read().inputFiles())
    pruned = set(
        idx.postings.read_pruned(["alpha"]).inputFiles()
    )
    assert pruned and pruned < all_files
    # and the pruned read answers correctly
    got = {r.doc_id for r in idx.bm25(["alpha"], 1000).collect()}
    want = {
        r.doc_id
        for r in base.read()
        .filter(F.array_contains(F.split("text", " "), "alpha"))
        .collect()
    }
    assert got == want


def test_crash_replay_with_later_base_commits_stays_exact(spark, tmp_path):
    """The found-bug scenario: a refresh lands BOTH merges but crashes
    before the state write; the base then advances; the next refresh
    must replay the PENDING span first (txn-skipped — no double apply)
    and only then consume the new commits — naive renetting of the
    combined span would leave the mid-state term in the index."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    idx.refresh()
    # simulate the crash-before-state-write: restore the pre-refresh
    # state file WITH the pending marker the real refresh wrote
    idx._write_state(1, pending=base.version)
    # base moves on: doc flips back to alpha
    base.update(F.col("doc_id") == 1, {"text": F.lit("alpha")})
    idx.refresh()
    p = postings_dict(idx.postings.read())
    # no stale ('bravo', 1) survivor
    assert p == {("alpha", 1): (1, (0,))}, p
    _assert_index_matches_base(idx, base)


def test_vacuumed_feed_span_triggers_full_resync(spark, tmp_path):
    """A base vacuumed past the unapplied span can no longer serve the
    feed: refresh() must fall back to a snapshot resync instead of
    wedging forever."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "alpha beta"), (2, "gamma")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("delta")})
    base.delete(F.col("doc_id") == 2)
    base.merge(mk_docs(spark, (3, "epsilon zeta")), COLS)
    base.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(ValueError):
        base.read_changes(idx.applied_version, base.version)
    r = idx.refresh()
    assert r["refreshed"]
    _assert_index_matches_base(idx, base)
    p = postings_dict(idx.postings.read())
    assert ("delta", 1) in p and ("alpha", 1) not in p
    assert ("epsilon", 3) in p and all(d != 2 for (_, d) in p)


def test_doclen_excludes_tokenless_and_null_docs(spark, tmp_path):
    """Docs with no qualifying token (or NULL text) never enter doclen:
    BM25's N/avgdl count indexed documents only, like the full scan."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "alpha beta"), (2, "a b"), (3, None)),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    assert {r.doc_id for r in idx.doclen.read().collect()} == {1}
    # an update INTO token-lessness removes the doclen row
    base.update(F.col("doc_id") == 1, {"text": F.lit("x y")})
    idx.refresh()
    assert idx.doclen.read().count() == 0
    assert idx.postings.read().count() == 0


def test_vacuumed_pending_span_resyncs_instead_of_wedging(spark, tmp_path):
    """A crash leaves a pending span; the base then advances AND
    vacuums past it. The replay path must fall back to a full resync
    at the current head (and say so), not raise forever."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    # crash before the merges: pending recorded, nothing applied
    idx._write_state(1, pending=base.version)
    base.update(F.col("doc_id") == 1, {"text": F.lit("charlie")})
    base.merge(mk_docs(spark, (2, "delta echo")), COLS)
    base.vacuum(keep_versions=1, retention_seconds=0)
    r = idx.refresh()
    assert r.get("resync") is True and r["refreshed"]
    _assert_index_matches_base(idx, base)
    # recovered: subsequent refreshes are incremental again
    base.update(F.col("doc_id") == 2, {"text": F.lit("foxtrot")})
    r2 = idx.refresh()
    assert r2["refreshed"] and "resync" not in r2
    _assert_index_matches_base(idx, base)


def test_open_verifies_index_identity(spark, tmp_path):
    """ATTACH-style open refuses an index built over a different table
    or column — binding the wrong pair would serve wrong results and
    corrupt the index at the first refresh."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    other = CowTable.create(
        spark, str(tmp_path / "other"), mk_docs(spark, (1, "beta")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    # correct identity reopens fine
    re = SearchIndex.open(spark, idx.root, base)
    assert re.applied_version == idx.applied_version
    with pytest.raises(ValueError, match="built over"):
        SearchIndex.open(spark, idx.root, other)
    with pytest.raises(ValueError, match="built over"):
        SearchIndex.open(spark, idx.root, base, text_col="body")


def test_capped_refresh_refuses_overreaching_pending_span(spark, tmp_path):
    """A pending span recorded past the caller's version cap (the
    catalog-pin discipline) is refused loudly instead of replaying the
    very versions the cap excludes."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    # an uncapped (raw-API) refresh crashed mid-span at the raw head
    idx._write_state(1, pending=base.version)
    with pytest.raises(ValueError, match="past the requested cap"):
        idx.refresh(to_version=1)
    # the uncapped refresh it directs you to finishes the span
    r = idx.refresh()
    assert r["refreshed"]
    _assert_index_matches_base(idx, base)


def test_capped_refresh_refuses_already_overreached_index(spark, tmp_path):
    """The COMPLETED twin of the overreaching-pending case: an uncapped
    refresh already consumed past-cap versions; a later capped refresh
    must raise, not silently keep serving them."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    idx.refresh()  # uncapped: applied = v2
    with pytest.raises(ValueError, match="already applied"):
        idx.refresh(to_version=1)
    # once the pin catches up, capped refresh is a clean no-op again
    assert idx.refresh(to_version=base.version) == {
        "applied": base.version, "refreshed": False,
    }


def test_open_accepts_legacy_state_without_metadata(spark, tmp_path):
    """A pre-metadata state file ({'applied': N} only) attaches without
    identity verification and the next refresh backfills the keys."""
    import json

    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    applied = idx.applied_version
    with open(f"{idx.root}/state.json", "w") as fh:
        json.dump({"applied": applied}, fh)
    re = SearchIndex.open(spark, idx.root, base)
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    re.refresh()
    assert re._state()["base_root"] == base.root  # backfilled
    _assert_index_matches_base(re, base)


def test_stream_maintenance_triggers_and_is_exactly_once(spark, tmp_path):
    """The commit-log stream triggers refreshes; a second drain on the
    same checkpoint sees only NEW commits, and a wiped checkpoint's
    redelivery is harmless (refresh no-ops at the high-water mark)."""
    from openverse_catalog_spark.streaming.incremental import (
        stream_index_maintenance,
    )

    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, (1, "alpha")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    ckpt = str(tmp_path / "ckpt")
    base.update(F.col("doc_id") == 1, {"text": F.lit("bravo")})
    r1 = stream_index_maintenance(idx, ckpt)
    assert r1["refreshes"] == 1 and r1["applied"] == base.version
    _assert_index_matches_base(idx, base)
    # no new commits: the same checkpoint delivers nothing
    r2 = stream_index_maintenance(idx, ckpt)
    assert r2["ticks"] == 0 and r2["refreshes"] == 0
    # wiping and REUSING the checkpoint path redelivers every manifest
    # (ticks fire) but refresh() no-ops at its own high-water mark
    import shutil

    shutil.rmtree(ckpt)
    r3 = stream_index_maintenance(idx, ckpt)
    assert r3["ticks"] >= 1 and r3["refreshes"] == 0
    assert r3["applied"] == base.version
    _assert_index_matches_base(idx, base)


def _scan_bm25(docs_df, terms, k):
    """From-scratch BM25 over a documents frame — the full-scan oracle
    (plans/search_queries.py formula) the index must equal exactly."""
    from pyspark.sql import Window

    from openverse_catalog_spark.operators.searchindex import (
        B,
        K1,
        _doclens_of,
        _postings_of,
    )

    dl = _doclens_of(docs_df, "doc_id", "text")
    post = _postings_of(docs_df, "doc_id", "text").filter(
        F.col("term").isin(list(terms))
    )
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    idf = (
        post.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "term",
            F.log(1.0 + (F.col("n") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    scored = (
        post.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            (F.col("idf") * F.col("tf") * (K1 + 1.0)
             / (F.col("tf")
                + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl")))
             ).alias("ts"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("ts"), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def test_bm25_index_equals_scan_under_random_churn(spark, tmp_path):
    """PROPERTY: after ANY sequence of random insert/update/delete
    waves — including one where the base is vacuumed past the unapplied
    span (forced resync) — index-served BM25 equals the from-scratch
    full-scan BM25 for random term sets. Pins the equivalence the
    search_index_bm25 / sql_search_index oracles ride on."""
    import random

    rng = random.Random(90210)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lam", "mux"]

    def soup():
        return " ".join(rng.choices(vocab, k=rng.randint(3, 12)))

    live = {i: soup() for i in range(1, 25)}
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, *[(i, t) for i, t in live.items()]),
        keys=("doc_id",), target_files=3,
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    next_id = 100
    for wave in range(6):
        # random churn: each commit kind fires independently
        dels = rng.sample(sorted(live), k=min(len(live) // 4, 3))
        if dels:
            base.delete(F.col("doc_id").isin(dels))
            for i in dels:
                del live[i]
        upds = rng.sample(sorted(live), k=min(len(live) // 3, 4))
        for i in upds:
            live[i] = soup()
            base.update(F.col("doc_id") == i, {"text": F.lit(live[i])})
        news = [(next_id + j, soup()) for j in range(rng.randint(1, 3))]
        next_id += len(news)
        base.merge(mk_docs(spark, *news), COLS)
        live.update(dict(news))
        forced_resync = wave == 3
        if forced_resync:
            # drop the unapplied span: the refresh must resync and
            # STILL land the exact scan-equivalent state
            base.vacuum(keep_versions=1, retention_seconds=0.0)
        r = idx.refresh()
        assert r["refreshed"]
        assert bool(r.get("resync", False)) == forced_resync, (wave, r)
        terms = rng.sample(vocab, k=rng.randint(1, 4))
        got = [(r.doc_id, r.score)
               for r in idx.bm25(terms, 10).collect()]
        want = [(r.doc_id, r.score)
                for r in _scan_bm25(base.read(), terms, 10).collect()]
        assert got == want, (wave, terms, got, want)


def test_index_maintain_compacts_and_preserves_results(spark, tmp_path):
    """Churn-wave refreshes fragment the postings/doclen tables (each
    refresh is a small-file merge commit); idx.maintain() compacts them
    back and vacuums history, and BM25 answers identically after."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, *[(i, f"alpha beta w{i}") for i in range(1, 13)]),
        keys=("doc_id",), target_files=3,
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    for wave in range(4):
        base.update(
            F.col("doc_id") == wave + 1,
            {"text": F.lit(f"gamma delta wave{wave}")},
        )
        idx.refresh()
    before = len(idx.postings._manifest()["files"])
    want = [(r.doc_id, r.score)
            for r in idx.bm25(["alpha", "gamma"], 10).collect()]
    rep = idx.maintain(target_rows=1_000_000, retention_seconds=0.0,
                       keep_versions=1)
    assert rep["postings"]["compacted"]
    after = len(idx.postings._manifest()["files"])
    assert after < before
    got = [(r.doc_id, r.score)
           for r in idx.bm25(["alpha", "gamma"], 10).collect()]
    assert got == want
    # and the index still refreshes incrementally after its own vacuum
    # (the BASE feed is untouched — only index-table history was GC'd)
    base.update(F.col("doc_id") == 9, {"text": F.lit("epsilon zeta")})
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    _assert_index_matches_base(idx, base)


def test_phrase_query_exact_adjacency(spark, tmp_path):
    """phrase(): exact adjacency among INDEXED tokens (sub-3-char words
    drop out of the position sequence), occurrence counting, term-order
    sensitivity, and survival through incremental churn."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark,
                (1, "spark streaming joins spark streaming"),
                (2, "streaming spark"),                  # reversed
                (3, "spark of streaming"),               # 'of' dropped
                (4, "spark fast streaming"),             # not adjacent
                (5, "nothing relevant")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    got = {r.doc_id: r.hits
           for r in idx.phrase("spark streaming", 10).collect()}
    # doc 1: two occurrences; doc 3: 'of' carries no position, so
    # spark/streaming are adjacent among indexed tokens; doc 2 is
    # reversed, doc 4 has a token between
    assert got == {1: 2, 3: 1}
    # phrase through the tokenizer: punctuation/case normalize
    assert {r.doc_id
            for r in idx.phrase("Spark, STREAMING!", 10).collect()} \
        == {1, 3}
    with pytest.raises(ValueError, match="no indexable terms"):
        idx.phrase("a of", 5)
    # churn: doc 4 becomes a match, doc 1 stops matching
    base.update(F.col("doc_id") == 4,
                {"text": F.lit("now spark streaming here")})
    base.update(F.col("doc_id") == 1,
                {"text": F.lit("spark alone and streaming apart")})
    idx.refresh()
    got = {r.doc_id: r.hits
           for r in idx.phrase("spark streaming", 10).collect()}
    assert got == {3: 1, 4: 1}


def test_facade_phrase_search(spark, tmp_path):
    """SEARCH_INDEX('i', '"exact phrase"', k): the double-quoted form
    routes to the positional phrase query as an inline relation."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    f.register_df(
        "src",
        mk_docs(spark,
                (1, "spark streaming pipelines"),
                (2, "streaming spark pipelines"),
                (3, "spark streaming spark streaming")),
    )
    f.sql(
        "CREATE TABLE docs PRIMARY KEY (doc_id) "
        f"LOCATION '{tmp_path / 'docs'}' AS SELECT * FROM src"
    )
    f.sql(
        "CREATE SEARCH INDEX si ON docs (text) "
        f"LOCATION '{tmp_path / 'si'}'"
    )
    rows = f.sql(
        "SELECT doc_id, hits FROM "
        "SEARCH_INDEX('si', '\"spark streaming\"', 5) "
        "ORDER BY hits DESC, doc_id"
    ).collect()
    assert [(r.doc_id, r.hits) for r in rows] == [(3, 2), (1, 1)]
    # the unquoted form still runs BM25 (doc_id, score)
    bm = f.sql(
        "SELECT doc_id, score FROM "
        "SEARCH_INDEX('si', 'spark streaming', 5)"
    ).collect()
    assert {r.doc_id for r in bm} == {1, 2, 3}


def test_filtered_bm25_and_phrase(spark, tmp_path):
    """bm25/phrase(where=...): candidates pre-filter against the base
    at the applied version; idf and corpus stats stay corpus-wide (the
    Lucene filter-context rule); facade WHERE arm routes both forms."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    rows = [
        (1, "spark streaming joins", "a"),
        (2, "spark streaming windows", "b"),
        (3, "spark streaming spark streaming", "b"),
        (4, "plain text here", "a"),
    ]
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    # unfiltered top-1 is doc 3 (highest tf); filtering source='a'
    # excludes it and must surface doc 1, NOT re-rank by filtered idf
    top = idx.bm25(["spark", "streaming"], 1).collect()
    assert top[0].doc_id == 3
    flt = idx.bm25(["spark", "streaming"], 10, where="source = 'a'")
    assert [r.doc_id for r in flt.collect()] == [1]
    # the filtered score equals the UNFILTERED score of the same doc
    # (corpus-wide stats): doc 1's score must match in both runs
    unf = {r.doc_id: r.score
           for r in idx.bm25(["spark", "streaming"], 10).collect()}
    assert flt.collect()[0].score == unf[1]
    # phrase with filter
    ph = idx.phrase("spark streaming", 10, where="source = 'b'")
    assert {(r.doc_id, r.hits) for r in ph.collect()} == {(2, 1), (3, 2)}
    # facade WHERE arm, both forms
    f = SqlFacade(spark)
    f.register_table("docs", base)
    f.sql(
        "ATTACH SEARCH INDEX si ON docs (text) "
        f"LOCATION '{tmp_path / 'idx'}'"
    )
    got = f.sql(
        "SELECT doc_id FROM "
        "SEARCH_INDEX('si', 'spark streaming', 10, WHERE \"source = 'a'\")"
    ).collect()
    assert [r.doc_id for r in got] == [1]
    got = f.sql(
        "SELECT doc_id, hits FROM "
        "SEARCH_INDEX('si', '\"spark streaming\"', 10, "
        "WHERE \"source = 'b'\") ORDER BY hits DESC"
    ).collect()
    assert [(r.doc_id, r.hits) for r in got] == [(3, 2), (2, 1)]


def _sourced_index(spark, tmp_path, n=300):
    words = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    rows = [
        (i, " ".join(w for j, w in enumerate(words) if (i + j) % 3)
         + " pad" * (i % 4), "ab"[i % 2])
        for i in range(n)
    ]
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ),
        keys=("doc_id",), target_files=3,
    )
    return base, SearchIndex.create(
        spark, str(tmp_path / "idx"), base, target_files=6
    )


def test_bm25_warm_probe_job_budget(
    spark, tmp_path, jobs_of, monkeypatch, py4j_calls_of
):
    """A warm probe on the driver path runs no job (the pruned postings
    are read on the driver with pyarrow; the k rows come back as a
    local relation) and a filtered one 1 (the match-set ids' collect),
    and makes a pinned number of py4j round trips (the postings read
    makes none; the result's numbers are written into one ``VALUES``
    text, not bound as one parameter each at about four round trips
    per number). On the distributed path a warm probe
    runs 4 jobs (postings scan with the df window, the doclen
    broadcast, the doc-score aggregate, TakeOrdered) and a filtered
    one 5 (+ the match-set scan). Either way corpus totals come from
    the per-version memo, not from a re-planned aggregate."""
    _, idx = _sourced_index(spark, tmp_path)

    def plain():
        return jobs_of(lambda: idx.bm25(["bravo", "delta"], 10).collect())

    def filtered():
        return jobs_of(
            lambda: idx.bm25(
                ["bravo", "delta"], 10, where="source = 'a'"
            ).collect(),
        )

    idx.bm25(["alpha"], 5).collect()  # warm: the one doclen miss
    assert plain() == 0
    assert filtered() == 1
    calls = py4j_calls_of(
        lambda: idx.bm25(["bravo", "delta"], 10).collect()
    )
    assert calls <= 21, calls
    monkeypatch.setattr(SearchIndex, "DRIVER_MAX_ROWS", 0)
    assert plain() == 4  # (N, avgdl) already memoized by the lens collect
    assert filtered() == 5


def test_bm25_stats_memo_follows_other_handle_refresh(spark, tmp_path):
    """Handle A memoizes (N, avgdl); handle B refreshes the same index
    after a churn commit that moves both. A's next probe must see the
    new doclen version and equal the full-scan BM25; so must a probe
    after A's own compaction."""
    base, a = _sourced_index(spark, tmp_path, n=60)
    terms = ["alpha", "echo", "pad"]
    a.bm25(terms, 10).collect()
    before = a._stats
    b = SearchIndex.open(spark, a.root, base)
    base.delete(F.col("doc_id") < 20)
    base.merge(
        mk_docs(spark, *[(500 + i, "alpha echo " * (i + 3))
                         for i in range(5)]),
        COLS,
    )
    b.refresh()

    def check():
        got = [(r.doc_id, r.score) for r in a.bm25(terms, 10).collect()]
        want = [(r.doc_id, r.score)
                for r in _scan_bm25(base.read(), terms, 10).collect()]
        assert got == want
        assert a._stats[0] == a.doclen.version

    check()
    assert a._stats[1:] != before[1:]  # N and avgdl really moved
    for wave in range(3):
        base.update(F.col("doc_id") == 30 + wave,
                    {"text": F.lit(f"echo foxtrot wave{wave}")})
        b.refresh()
    check()
    rep = a.maintain(target_rows=1_000_000, retention_seconds=0.0,
                     keep_versions=1)
    assert rep["doclen"]["compacted"]
    check()


def test_bm25_degenerate_inputs_return_empty(spark, tmp_path):
    """Terms that tokenize to nothing, and an index whose doclen is
    empty, both answer with zero (doc_id, score) rows, no error."""
    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "alpha beta"), (2, "gamma")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    out = idx.bm25(["a", "12"], 5)
    assert out.columns == ["doc_id", "score"] and out.collect() == []
    empty = CowTable.create(
        spark, str(tmp_path / "empty"),
        mk_docs(spark, (1, "a b"), (2, None)),
        keys=("doc_id",),
    )
    eidx = SearchIndex.create(spark, str(tmp_path / "eidx"), empty)
    assert eidx.doclen.read().count() == 0
    out = eidx.bm25(["alpha"], 5)
    assert out.columns == ["doc_id", "score"] and out.collect() == []


@pytest.fixture
def spark_plan(monkeypatch):
    """Serve every bm25 probe through the distributed plan (the path a
    corpus too big for the driver takes)."""
    monkeypatch.setattr(SearchIndex, "DRIVER_MAX_ROWS", 0)


def test_bm25_index_equals_scan_under_random_churn_spark_plan(
    spark, tmp_path, spark_plan
):
    test_bm25_index_equals_scan_under_random_churn(spark, tmp_path)


def test_filtered_bm25_and_phrase_spark_plan(spark, tmp_path, spark_plan):
    test_filtered_bm25_and_phrase(spark, tmp_path)


def test_bm25_degenerate_inputs_return_empty_spark_plan(
    spark, tmp_path, spark_plan
):
    test_bm25_degenerate_inputs_return_empty(spark, tmp_path)


def _on_both_paths(monkeypatch, probe):
    """``probe()``'s (doc_id, score) rows on the driver path, then on
    the distributed path."""
    got = [[(r.doc_id, r.score) for r in probe().collect()]]
    with monkeypatch.context() as m:
        m.setattr(SearchIndex, "DRIVER_MAX_ROWS", 0)
        got.append([(r.doc_id, r.score) for r in probe().collect()])
    return got


def test_bm25_paths_agree_on_k_filters_and_string_ids(
    spark, tmp_path, monkeypatch
):
    """Both bm25 paths return the same rows, order and scores when k
    exceeds the candidate count (also past the 256 rows a literal
    local relation holds), when the filter matches no candidate, and
    over string doc ids, whose type the result keeps."""
    base, idx = _sourced_index(spark, tmp_path)
    sizes = []
    for terms, k in ((["alpha"], 1000), (["foxtrot", "pad"], 300),
                     (["echo"], 10)):
        drv, spk = _on_both_paths(monkeypatch, lambda: idx.bm25(terms, k))
        want = [(r.doc_id, r.score)
                for r in _scan_bm25(base.read(), terms, k).collect()]
        assert drv == spk == want, (terms, k)
        sizes.append(len(want))
    assert sizes[0] < 1000 and 256 < sizes[1] < 300 and sizes[2] == 10
    drv, spk = _on_both_paths(
        monkeypatch, lambda: idx.bm25(["bravo"], 500, where="doc_id < 12")
    )
    assert drv == spk and 0 < len(drv) < 12
    drv, spk = _on_both_paths(
        monkeypatch,
        lambda: idx.bm25(["alpha", "bravo"], 10, where="source = 'zzz'"),
    )
    assert drv == spk == []
    assert idx.bm25(["alpha"], 10, where="source = 'zzz'").columns == [
        "doc_id", "score"
    ]

    words = ("alpha", "bravo", "charlie", "delta")
    rows = [(f"doc-{i:03d}", " ".join(w for j, w in enumerate(words)
                                      if (i + j) % 3) + " pad" * (i % 5))
            for i in range(60)]
    sbase = CowTable.create(
        spark, str(tmp_path / "sdocs"),
        spark.createDataFrame(rows, "doc_id string, text string"),
        keys=("doc_id",),
    )
    sidx = SearchIndex.create(spark, str(tmp_path / "sidx"), sbase)
    drv, spk = _on_both_paths(
        monkeypatch, lambda: sidx.bm25(["bravo", "delta", "pad"], 15)
    )
    want = [(r.doc_id, r.score) for r in _scan_bm25(
        sbase.read(), ["bravo", "delta", "pad"], 15).collect()]
    assert drv == spk == want and len(want) == 15
    out = sidx.bm25(["bravo"], 3)
    assert dict(out.dtypes) == {"doc_id": "string", "score": "double"}


def test_bm25_paths_agree_across_a_rounding_boundary(
    spark, tmp_path, monkeypatch
):
    """Docs of the query ``alpha bravo`` whose raw scores lie 7e-7
    apart on either side of the 6-decimal boundary 1.3529865: the one
    above rounds to 1.352987 and ranks first although its doc_id is
    the larger. Both paths and the full scan must agree on every cut
    around the pair (a rounding that put both on one side would order
    them by doc_id instead)."""
    import math

    from openverse_catalog_spark.operators.searchindex import B, K1

    grid = [(a, b, p) for a in range(6) for b in range(6)
            for p in range(10) if a + b + p]
    lens = [a + b + p for a, b, p in grid] + [1 + x % 5 for x in range(111)]
    texts = [" ".join(["alpha"] * a + ["bravo"] * b + ["pad"] * p)
             for a, b, p in grid]
    texts += ["zulu " * n for n in lens[len(grid):]]
    rows = [(1000 - i, t) for i, t in enumerate(texts)]

    # the pair's raw scores, by the formula, from the corpus statistics
    n, avgdl = len(lens), sum(lens) / len(lens)

    def idf(df):
        return math.log(1.0 + ((n - df) + 0.5) / (df + 0.5))

    def raw(a, b, p):
        dl = a + b + p
        return sum(
            idf(df) * tf * (K1 + 1.0)
            / (tf + K1 * (1.0 - B + B * dl / avgdl))
            for tf, df in ((a, sum(1 for g in grid if g[0])),
                           (b, sum(1 for g in grid if g[1])))
            if tf
        )

    lo, hi = (5, 3, 5), (1, 2, 0)
    assert raw(*lo) < 1.3529865 - 5e-8 < 1.3529865 + 5e-8 < raw(*hi)
    lo_id, hi_id = 1000 - grid.index(lo), 1000 - grid.index(hi)
    assert hi_id > lo_id

    base = CowTable.create(
        spark, str(tmp_path / "docs"), mk_docs(spark, *rows),
        keys=("doc_id",), target_files=3,
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    terms = ["alpha", "bravo"]
    full = [(r.doc_id, r.score)
            for r in _scan_bm25(base.read(), terms, 1000).collect()]
    ids = [d for d, _ in full]
    assert dict(full)[hi_id] == 1.352987 and dict(full)[lo_id] == 1.352986
    assert ids.index(hi_id) < ids.index(lo_id)
    for k in range(ids.index(hi_id), ids.index(lo_id) + 2):
        drv, spk = _on_both_paths(monkeypatch, lambda: idx.bm25(terms, k))
        assert drv == spk == full[:k], k


def test_open_legacy_state_refuses_wrong_base_accepts_right(spark, tmp_path):
    """A legacy state file (no identity keys) attached to a base that
    holds none of the index's sampled doc ids is refused; the base it
    was built from is accepted."""
    import json

    base = CowTable.create(
        spark, str(tmp_path / "docs"),
        mk_docs(spark, (1, "alpha"), (2, "beta gamma")),
        keys=("doc_id",),
    )
    other = CowTable.create(
        spark, str(tmp_path / "other"),
        mk_docs(spark, (101, "alpha"), (102, "beta")),
        keys=("doc_id",),
    )
    idx = SearchIndex.create(spark, str(tmp_path / "idx"), base)
    applied = idx.applied_version
    with open(f"{idx.root}/state.json", "w") as fh:
        json.dump({"applied": applied}, fh)
    with pytest.raises(ValueError, match="none of its sampled doc_ids"):
        SearchIndex.open(spark, idx.root, other)
    assert SearchIndex.open(spark, idx.root, base).applied_version == applied
