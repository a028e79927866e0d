"""Incremental IVF vector index (operators/vectorindex.py): refresh
from the change feed must equal a from-scratch assignment through any
churn (fixed centroids => incremental == rebuilt), replays must
converge, probes must prune list files by centroid, and attach must
verify identity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.vectorindex import (
    VectorIndex,
    _rank_vectors,
)
DIM = 8


def _vec(seed: int) -> list[float]:
    rng = np.random.default_rng(seed)
    return [float(x) for x in rng.normal(size=DIM)]


def mk_vecs(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _expected_assign(base, idx):
    """From-scratch nearest-centroid assignment of the CURRENT base
    snapshot against the index's frozen centroids — what the lists
    table must hold after any refresh chain."""
    c_ids, c_mat = idx._centroid_matrix()
    out = {}
    for r in base.read().collect():
        v = np.asarray(r.embedding, dtype="float64")
        v = v / np.sqrt((v * v).sum())
        out[int(r.vec_id)] = int(c_ids[int((c_mat @ v).argmax())])
    return out


def _lists_assign(idx):
    return {
        int(r.neighbor_id): int(r.centroid_id)
        for r in idx.lists.read().collect()
    }


def test_refresh_equals_rebuild_through_churn(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(20)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # churn avoids centroid ids (multiples of 5): update 7 (vector
    # moves lists), delete 3, insert 21/22
    base.update(F.col("vec_id") == 7,
                {"embedding": F.lit(_vec(999)).cast("array<double>")})
    base.delete(F.col("vec_id") == 3)
    base.merge_when(mk_vecs(spark, [21, 22]), insert=True)
    r = idx.refresh()
    assert r["refreshed"] and r["applied"] == base.version
    assert not r.get("resync")
    got = _lists_assign(idx)
    assert got == _expected_assign(base, idx)
    assert 3 not in got and 21 in got and 22 in got


def test_refresh_nets_multi_commit_spans(spark, tmp_path):
    """insert-then-update, delete-then-reinsert, and update-twice inside
    ONE span all land at their final assignment."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    base.merge_when(mk_vecs(spark, [11]), insert=True)     # insert
    base.update(F.col("vec_id") == 11,
                {"embedding": F.lit(_vec(501)).cast("array<double>")})
    base.delete(F.col("vec_id") == 2)
    base.merge_when(spark.createDataFrame(
        [(2, _vec(502))], "vec_id long, embedding array<double>"),
        insert=True)
    base.update(F.col("vec_id") == 4,
                {"embedding": F.lit(_vec(503)).cast("array<double>")})
    base.update(F.col("vec_id") == 4,
                {"embedding": F.lit(_vec(504)).cast("array<double>")})
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)


def test_pending_span_replay_converges(spark, tmp_path):
    """A torn refresh (state says pending, merges already landed) must
    replay idempotently: the txn fence skips the landed merge."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    base.update(F.col("vec_id") == 7,
                {"embedding": F.lit(_vec(777)).cast("array<double>")})
    head = base.version
    applied = idx.applied_version
    # run the real refresh, then rewind state to simulate a crash
    # between the merges and the state finalize
    idx.refresh()
    idx._write_state(applied, pending=head)
    r = idx.refresh()
    assert r["applied"] == head
    assert _lists_assign(idx) == _expected_assign(base, idx)


def test_vacuumed_span_full_resync(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(20)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    for s in (601, 602, 603):
        base.update(F.col("vec_id") == 7,
                    {"embedding": F.lit(_vec(s)).cast("array<double>")})
    base.delete(F.col("vec_id") == 9)
    base.vacuum(keep_versions=1, retention_seconds=0.0)
    r = idx.refresh()
    assert r["refreshed"] and r.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # and the NEXT refresh resumes incrementally
    base.merge_when(mk_vecs(spark, [31]), insert=True)
    r2 = idx.refresh()
    assert r2["refreshed"] and not r2.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)


def test_capped_refresh_and_past_cap_refusal(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    pin = base.version
    base.merge_when(mk_vecs(spark, [41]), insert=True)  # unpublished head
    r = idx.refresh(to_version=pin)
    assert r["applied"] == pin and not r["refreshed"]
    assert 41 not in _lists_assign(idx)
    # uncapped refresh consumes the head; a later capped call refuses
    idx.refresh()
    with pytest.raises(ValueError, match="past the requested cap"):
        idx.refresh(to_version=pin)


def test_open_verifies_identity(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    other = CowTable.create(
        spark, str(tmp_path / "other"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    re = VectorIndex.open(spark, idx.root, base)
    assert re.applied_version == idx.applied_version
    with pytest.raises(ValueError, match="attach it to the table"):
        VectorIndex.open(spark, idx.root, other)
    with pytest.raises(ValueError, match="holds no vector index"):
        VectorIndex.open(spark, str(tmp_path / "nope"), base)


def test_probe_matches_ivf_and_prunes(spark, tmp_path):
    """The index probe must equal knn.ivf_topk (same deterministic
    math) and read only the files whose centroid range matches."""
    from openverse_catalog_spark.operators import knn

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(60)),
        keys=("vec_id",), target_files=6,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10,
        target_files=6,
    )
    queries = base.read().filter(F.col("vec_id") % 20 == 0)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in idx.probe(queries, k=3, nprobe=2).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn.ivf_topk(
            base.read(), "vec_id", "embedding",
            k=3, centroid_mod=10, query_mod=20, nprobe=2,
        ).collect()
    }
    assert got == want
    # pruning: a single-centroid read opens a strict subset of files
    m = idx.lists._manifest()
    probed = [int(r.centroid_id) for r in
              idx.lists.read().select("centroid_id").distinct().collect()]
    one = idx.lists.read_pruned([probed[0]])
    # files whose recorded range admits the centroid
    admit = [
        e for e in m["files"]
        if e["min"]["centroid_id"] <= probed[0] <= e["max"]["centroid_id"]
    ]
    assert len(admit) < len(m["files"])
    assert one.count() > 0


def test_single_vector_search(spark, tmp_path):
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(30)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=6,
    )
    q = _vec(3)  # an indexed vector: its own row must rank first
    rows = idx.search(q, k=3, nprobe=2).collect()
    assert rows[0].neighbor_id == 3
    assert rows[0].cosine == pytest.approx(1.0, abs=1e-6)
    assert len(rows) == 3
    with pytest.raises(ValueError, match="zero query vector"):
        idx.search([0.0] * DIM, k=3)


def test_stream_vector_maintenance_and_pin_enforcement(spark, tmp_path):
    """The commit-log stream triggers vector refreshes exactly-once; a
    catalog-managed base (marker file) REFUSES unpinned maintenance
    and follows the catalog pin when pin_fn is given."""
    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.streaming.incremental import (
        stream_vector_maintenance,
    )

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(20)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    ckpt = str(tmp_path / "ckpt")
    base.update(F.col("vec_id") == 7,
                {"embedding": F.lit(_vec(901)).cast("array<double>")})
    r1 = stream_vector_maintenance(idx, ckpt)
    assert r1["refreshes"] == 1 and r1["applied"] == base.version
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # no new commits: same checkpoint delivers nothing
    r2 = stream_vector_maintenance(idx, ckpt)
    assert r2["ticks"] == 0 and r2["refreshes"] == 0

    # registering the base in a catalog writes the managed marker:
    # unpinned maintenance now refuses
    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    cat.register("vecs", base)
    base.merge_when(mk_vecs(spark, [51]), insert=True)  # unpublished
    with pytest.raises(ValueError, match="catalog-managed"):
        stream_vector_maintenance(idx, str(tmp_path / "ckpt2"))
    # pinned maintenance caps at the published version (51 invisible)
    pin = cat._entry("vecs")["version"]
    r3 = stream_vector_maintenance(
        idx, str(tmp_path / "ckpt2"), pin_fn=lambda: pin
    )
    assert r3["applied"] == pin
    assert 51 not in _lists_assign(idx)
    # the explicit opt-out works (everything here IS published safely
    # for the test's purposes)
    r4 = stream_vector_maintenance(
        idx, str(tmp_path / "ckpt3"), allow_unpinned=True
    )
    assert r4["applied"] == base.version
    # unregistering removes the marker
    cat.unregister("vecs")
    import os
    assert not os.path.exists(f"{base.root}/.catalog.json")


def test_facade_show_indexes_and_attach(spark, tmp_path):
    """SHOW INDEXES reports both index kinds with applied/staleness;
    ATTACH VECTOR INDEX reopens a persisted index in a NEW facade."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    f.register_df("emb", mk_vecs(spark, range(20)))
    f.register_df(
        "docs_src",
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")],
            "doc_id long, text string",
        ),
    )
    f.sql(
        "CREATE TABLE vecs PRIMARY KEY (vec_id) "
        f"LOCATION '{tmp_path / 'vecs'}' AS SELECT * FROM emb"
    )
    f.sql(
        "CREATE TABLE docs PRIMARY KEY (doc_id) "
        f"LOCATION '{tmp_path / 'docs'}' AS SELECT * FROM docs_src"
    )
    f.sql(
        "CREATE VECTOR INDEX vi ON vecs (embedding) CENTROID MOD 5 "
        f"LOCATION '{tmp_path / 'vi'}'"
    )
    f.sql(
        "CREATE SEARCH INDEX si ON docs (text) "
        f"LOCATION '{tmp_path / 'si'}'"
    )
    rows = {r["index"]: r for r in f.sql("SHOW INDEXES").collect()}
    assert rows["vi"]["kind"] == "vector" and rows["vi"]["staleness"] == 0
    assert rows["vi"]["mode"] == "ivf" and rows["vi"]["epoch"] == 0
    assert rows["si"]["kind"] == "search"
    assert rows["si"]["mode"] == "inverted" and rows["si"]["epoch"] is None
    # search indexes carry posting-DF balance in the same columns:
    # 'beta' posts in both docs (max_df 2), the others in one each
    assert rows["si"]["max_list"] == 2
    assert rows["si"]["median_list"] == 1.0
    assert rows["si"]["skew"] == 2.0
    # churn makes the index stale; SHOW INDEXES reports the lag
    f.sql("DELETE FROM vecs WHERE vec_id = 3")
    rows = {r["index"]: r for r in f.sql("SHOW INDEXES").collect()}
    assert rows["vi"]["staleness"] == 1
    # a NEW facade reattaches the persisted index and can query it
    f2 = SqlFacade(spark)
    from openverse_catalog_spark.operators.cowtable import CowTable

    f2.register_table(
        "vecs", CowTable(spark, str(tmp_path / "vecs"), keys=("vec_id",))
    )
    f2.sql(
        "ATTACH VECTOR INDEX vi ON vecs (embedding) "
        f"LOCATION '{tmp_path / 'vi'}'"
    )
    f2.sql("REFRESH VECTOR INDEX vi")
    q = " ".join(str(x) for x in _vec(4))
    out = f2.sql(
        f"SELECT neighbor_id, cosine FROM VECTOR_SEARCH('vi', '{q}', 2)"
    ).collect()
    assert out[0].neighbor_id == 4
    # wrong-column attach refuses
    f3 = SqlFacade(spark)
    f3.register_table(
        "docs", CowTable(spark, str(tmp_path / "docs"), keys=("doc_id",))
    )
    with pytest.raises(ValueError, match="not an array vector column"):
        f3.sql(
            "ATTACH VECTOR INDEX vx ON docs (text) "
            f"LOCATION '{tmp_path / 'vi'}'"
        )


def test_vector_index_equals_rebuild_under_random_churn(spark, tmp_path):
    """PROPERTY: after ANY sequence of random insert/update/delete
    waves — including one where the base is vacuumed past the unapplied
    span (forced resync) — the feed-maintained lists equal a
    from-scratch assignment of the current snapshot against the frozen
    centroids, and a probe equals knn.ivf_topk over the same state."""
    import random

    rng = random.Random(31337)
    live = set(range(40))
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, sorted(live)),
        keys=("vec_id",), target_files=4,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=8,
    )
    next_id = 1000
    for wave in range(5):
        # churn must never touch a centroid id (multiples of 8): the
        # frozen centroid set must stay physically present in the base
        mutable = sorted(i for i in live if i % 8 != 0)
        dels = rng.sample(mutable, k=min(3, len(mutable) // 4))
        if dels:
            base.delete(F.col("vec_id").isin(dels))
            live -= set(dels)
        upds = rng.sample(
            sorted(i for i in live if i % 8 != 0), k=3
        )
        for i in upds:
            base.update(
                F.col("vec_id") == i,
                {"embedding": F.lit(_vec(10_000 + wave * 100 + i))
                 .cast("array<double>")},
            )
        news = [next_id + j for j in range(rng.randint(1, 3))]
        next_id += 10
        base.merge_when(mk_vecs(spark, news), insert=True)
        live |= set(news)
        forced = wave == 2
        if forced:
            base.vacuum(keep_versions=1, retention_seconds=0.0)
        r = idx.refresh()
        assert r["refreshed"]
        assert bool(r.get("resync", False)) == forced, (wave, r)
        assert _lists_assign(idx) == _expected_assign(base, idx), wave


def _expected_codes(base, idx):
    """From-scratch (assignment, codes) of the CURRENT base snapshot
    against the frozen centroids + codebooks (residual mode encodes
    x - c(x), matching the engine)."""
    from openverse_catalog_spark.operators.knn import _pq_encode

    c_ids, c_mat = idx._centroid_matrix()
    cb = idx._codebook_tensor()
    out = {}
    for r in base.read().collect():
        v = np.asarray(r.embedding, dtype="float64")
        v = v / np.sqrt((v * v).sum())
        best = int((c_mat @ v).argmax())
        cid = int(c_ids[best])
        enc = v - c_mat[best] if idx.pq_residual else v
        codes = _pq_encode(enc[None, :], cb)[0]
        out[int(r.vec_id)] = (cid, tuple(int(c) for c in codes))
    return out


def _lists_codes(idx):
    return {
        int(r.neighbor_id): (int(r.centroid_id),
                             tuple(int(c) for c in r.codes))
        for r in idx.lists.read().collect()
    }


def test_pq_refresh_equals_rebuild(spark, tmp_path):
    """PQ mode: the feed-maintained code lists equal a from-scratch
    encode of the current snapshot (frozen centroids + codebooks =>
    incremental == rebuilt), through delete/update/insert churn that
    never touches a centroid (mult of 5) or codebook (mult of 3) id."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(20)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=5, pq_m=4, codebook_mod=3,
    )
    assert idx.pq_m == 4
    assert _lists_codes(idx) == _expected_codes(base, idx)
    base.delete(F.col("vec_id") == 7)
    base.update(F.col("vec_id") == 11,
                {"embedding": F.lit(_vec(888)).cast("array<double>")})
    base.merge_when(mk_vecs(spark, [22, 23]), insert=True)
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    got = _lists_codes(idx)
    assert got == _expected_codes(base, idx)
    assert 7 not in got and 22 in got and 23 in got
    # reopen verifies identity and keeps PQ mode
    re = VectorIndex.open(spark, idx.root, base)
    assert re.pq_m == 4


def test_pq_probe_matches_knn_ivf_pq(spark, tmp_path):
    """The CoW-backed PQ probe must equal knn.ivf_pq_probe_index built
    from the same snapshot with the same frozen sampling."""
    from openverse_catalog_spark.operators import knn

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(60)),
        keys=("vec_id",), target_files=4,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=10, pq_m=4, codebook_mod=7,
    )
    path = str(tmp_path / "knnidx")
    knn.ivf_pq_build_index(
        base.read(), path, "vec_id", "embedding",
        centroid_mod=10, pq_m=4, codebook_mod=7,
    )
    queries = base.read().filter(F.col("vec_id") % 20 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
        for r in idx.probe(queries, k=3, nprobe=2, shortlist=8).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
        for r in knn.ivf_pq_probe_index(
            spark, path, queries, base.read(), "vec_id", "embedding",
            k=3, nprobe=2, shortlist=8,
        ).collect()
    }
    assert got == want


def test_pq_facade_lifecycle(spark, tmp_path):
    """CREATE VECTOR INDEX ... PQ m as facade text; VECTOR_SEARCH
    routes through ADC + exact re-rank; self-query ranks first."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    f.register_df("emb", mk_vecs(spark, range(30)))
    f.sql(
        "CREATE TABLE vecs PRIMARY KEY (vec_id) "
        f"LOCATION '{tmp_path / 'vecs'}' AS SELECT * FROM emb"
    )
    f.sql(
        "CREATE VECTOR INDEX vq ON vecs (embedding) "
        f"CENTROID MOD 6 PQ 4 LOCATION '{tmp_path / 'vq'}'"
    )
    f.sql("DELETE FROM vecs WHERE vec_id = 13")
    r = f.sql("REFRESH VECTOR INDEX vq").head()
    assert r["refreshed"] and not r["resync"]
    q = " ".join(str(x) for x in _vec(4))
    out = f.sql(
        f"SELECT neighbor_id, cosine FROM VECTOR_SEARCH('vq', '{q}', 3)"
    ).collect()
    assert out[0].neighbor_id == 4
    assert out[0].cosine == pytest.approx(1.0, abs=1e-6)
    with pytest.raises(ValueError, match="fixed at CREATE"):
        f.sql(
            "ATTACH VECTOR INDEX vq2 ON vecs (embedding) PQ 4 "
            f"LOCATION '{tmp_path / 'vq'}'"
        )


def test_pq_residual_refresh_and_probe(spark, tmp_path):
    """Residual PQ: churn==rebuild on the residual codes, and the probe
    equals knn.ivf_pq_probe_index over a residual index built from the
    same snapshot with the same frozen sampling."""
    from openverse_catalog_spark.operators import knn

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(60)),
        keys=("vec_id",), target_files=4,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=10, pq_m=4, codebook_mod=7, pq_residual=True,
    )
    assert idx.pq_residual
    path = str(tmp_path / "knnidx")
    knn.ivf_pq_build_index(
        base.read(), path, "vec_id", "embedding",
        centroid_mod=10, pq_m=4, codebook_mod=7, residual=True,
    )
    queries = base.read().filter(F.col("vec_id") % 20 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
        for r in idx.probe(queries, k=3, nprobe=2, shortlist=8).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
        for r in knn.ivf_pq_probe_index(
            spark, path, queries, base.read(), "vec_id", "embedding",
            k=3, nprobe=2, shortlist=8,
        ).collect()
    }
    assert got == want
    # churn (ids avoid centroid mult-of-10 and codebook mult-of-7) and
    # refresh: reopen in a fresh handle and probe again — residual
    # mode survives the round-trip and the feed refresh
    base.update(F.col("vec_id") == 13,
                {"embedding": F.lit(_vec(777)).cast("array<double>")})
    base.delete(F.col("vec_id") == 11)
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    re = VectorIndex.open(spark, idx.root, base)
    assert re.pq_residual and re.pq_m == 4
    rows = re.search(_vec(4), k=2, nprobe=2)
    assert rows.collect()[0].neighbor_id == 4


def test_id_col_must_be_base_merge_key(spark, tmp_path):
    """The PQ re-rank fetch, feed grouping, and manifest pruning all
    key on the base's merge key; an unaligned id_col silently served
    wrong/empty re-rank results before the create/open guard."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(10)),
        keys=("vec_id",),
    )
    with pytest.raises(ValueError, match="merge key"):
        VectorIndex.create(
            spark, str(tmp_path / "idx"), base, id_col="embedding",
        )


def test_pq_search_serves_corpus_with_vec_id_minus_one(spark, tmp_path):
    """A corpus row whose vec_id is -1 is an ordinary neighbor of a PQ
    single-vector search: the query is external, so no id of the corpus
    may be excluded as the query's own (an earlier search ran the batch
    probe under a placeholder query id of -1 and dropped this row)."""
    rows = [(-1, _vec(12345))] + [(i, _vec(i)) for i in range(15)]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=5, pq_m=4, codebook_mod=3,
    )
    hits = idx.search(_vec(12345), k=3, nprobe=8, shortlist=16).collect()
    assert hits and hits[0].neighbor_id == -1
    assert hits[0].cosine == pytest.approx(1.0, abs=1e-6)


def test_filtered_search_recall_floor_vs_postfilter(spark, tmp_path):
    """Filtered ANN (search(where=...)): a rare class placed OPPOSITE
    the query escapes the unfiltered top-k entirely, so naive
    over-fetch + post-filter returns nothing — the filtered search must
    escalate nprobe until the probed lists hold min(k, matches)
    matching vectors and return the exact filtered top-k, in BOTH raw
    and PQ modes."""
    rng = np.random.default_rng(31)
    q = [float(x) for x in rng.normal(size=DIM)]
    qn = np.asarray(q)
    qn = qn / np.sqrt((qn * qn).sum())
    rows = []
    for i in range(100):
        if i % 25 == 1:  # rare class, anti-aligned with the query
            v = -qn + rng.normal(scale=0.05, size=DIM)
        else:
            v = rng.normal(size=DIM)
        rows.append((i, [float(x) for x in v],
                     "gd" if i % 25 == 1 else "en"))
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",),
    )
    brute = sorted(
        (
            (i, round(float(
                np.asarray(v) / np.sqrt((np.asarray(v) ** 2).sum()) @ qn
            ), 6))
            for i, v, lang in rows if lang == "gd"
        ),
        key=lambda t: (-round(t[1], 9), t[0]),
    )
    for pq in (None, 4):
        idx = VectorIndex.create(
            spark, str(tmp_path / f"idx{pq}"), base,
            centroid_mod=10, pq_m=pq, codebook_mod=7,
        )
        # post-filter of the unfiltered top-k finds nothing
        post = {
            r.neighbor_id
            for r in idx.search(q, k=3, nprobe=1, shortlist=12).collect()
        }
        assert not {i for i, _, lang in rows if lang == "gd"} & post
        # filtered search escalates to the exact filtered top-k
        got = [
            (r.neighbor_id, r.cosine)
            for r in idx.search(
                q, k=3, nprobe=1, where="lang = 'gd'", shortlist=12
            ).collect()
        ]
        assert [g[0] for g in got] == [b[0] for b in brute[:3]], (pq, got)
        for (_, gc), (_, bc) in zip(got, brute[:3]):
            assert gc == pytest.approx(bc, abs=2e-6)


def test_list_skew_telemetry_and_recluster_heal(spark, tmp_path):
    """Frozen centroids under a hot-cluster churn grow one list without
    bound; list_stats() must report the skew, recluster() must heal it
    by re-sampling centroids at the current corpus as an atomic epoch
    swap, and the feed protocol must continue incrementally across the
    swap."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(40)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10,
    )
    s0 = idx.list_stats()
    assert s0["lists"] == 4 and s0["max_list"] > 0
    # hot-cluster churn: 120 inserts tightly packed around one
    # direction — they all land in a single frozen list
    rng = np.random.default_rng(99)
    hot = np.asarray(_vec(0))
    hot = hot / np.sqrt((hot * hot).sum())
    batch = spark.createDataFrame(
        [
            (100 + j,
             [float(x) for x in 2.0 * hot
              + rng.normal(scale=0.02, size=DIM)])
            for j in range(120)
        ],
        "vec_id long, embedding array<double>",
    )
    base.merge_when(batch, insert=True)
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    s1 = idx.list_stats()
    assert s1["skew"] > 4.0, s1  # the hot list is visible
    # heal: re-sample at the current corpus (hot ids 100..219 now
    # contribute %10 centroids that split the hot cluster)
    r = idx.recluster()
    assert r["epoch"] == 1 and r["centroids"] == 16
    s2 = idx.list_stats()
    assert s2["lists"] == 16
    assert s2["skew"] < s1["skew"] / 2, (s1, s2)
    # content == from-scratch assignment against the NEW centroids
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # the feed resumes incrementally across the epoch swap
    base.delete(F.col("vec_id") == 5)
    base.merge_when(mk_vecs(spark, [300]), insert=True)
    r2 = idx.refresh()
    assert r2["refreshed"] and not r2.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # reopen resolves the new epoch (and the old bare layout is gone)
    re = VectorIndex.open(spark, idx.root, base)
    assert re.epoch == 1
    assert _lists_assign(re) == _expected_assign(base, re)
    import os
    assert not os.path.exists(str(tmp_path / "idx" / "lists"))


def test_pq_recluster_retrains_codebooks(spark, tmp_path):
    """PQ-mode recluster retrains codebooks (residual codes depend on
    the centroid set) and the swapped epoch's lists equal a
    from-scratch encode; search still serves exact top-k."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(60)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=10, pq_m=4, codebook_mod=7, pq_residual=True,
    )
    base.merge_when(mk_vecs(spark, range(60, 90)), insert=True)
    idx.refresh()
    r = idx.recluster(centroid_mod=15)
    assert r["epoch"] == 1 and r["centroids"] == 6
    assert _lists_codes(idx) == _expected_codes(base, idx)
    got = idx.search(_vec(4), k=2, nprobe=3, shortlist=20)
    assert got.collect()[0].neighbor_id == 4


def test_facade_reindex_and_skew_columns(spark, tmp_path):
    """SHOW INDEXES carries the list-balance telemetry (max/median/
    skew) for vector indexes; REINDEX VECTOR INDEX heals a hot cluster
    and the index keeps serving through the epoch swap."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    f.register_df("emb", mk_vecs(spark, range(40)))
    f.sql(
        "CREATE TABLE vecs PRIMARY KEY (vec_id) "
        f"LOCATION '{tmp_path / 'vecs'}' AS SELECT * FROM emb"
    )
    f.sql(
        "CREATE VECTOR INDEX vi ON vecs (embedding) CENTROID MOD 10 "
        f"LOCATION '{tmp_path / 'vi'}'"
    )
    rows = {r["index"]: r for r in f.sql("SHOW INDEXES").collect()}
    assert rows["vi"]["max_list"] >= 1 and rows["vi"]["skew"] >= 1.0
    # hot cluster -> skew visible
    rng = np.random.default_rng(5)
    hot = np.asarray(_vec(0))
    hot = hot / np.sqrt((hot * hot).sum())
    f.register_df(
        "hot",
        spark.createDataFrame(
            [
                (100 + j,
                 [float(x) for x in 2.0 * hot
                  + rng.normal(scale=0.02, size=DIM)])
                for j in range(120)
            ],
            "vec_id long, embedding array<double>",
        ),
    )
    f.sql("INSERT INTO vecs SELECT * FROM hot")
    f.sql("REFRESH VECTOR INDEX vi")
    before = {r["index"]: r for r in f.sql("SHOW INDEXES").collect()}
    assert before["vi"]["skew"] > 4.0
    r = f.sql("REINDEX VECTOR INDEX vi").head()
    assert r["epoch"] == 1 and r["centroids"] == 16
    after = {r["index"]: r for r in f.sql("SHOW INDEXES").collect()}
    assert after["vi"]["skew"] < before["vi"]["skew"] / 2
    # still serves correct neighbors from the new epoch
    q = " ".join(str(x) for x in _vec(7))
    out = f.sql(
        f"SELECT neighbor_id, cosine FROM VECTOR_SEARCH('vi', '{q}', 2)"
    ).collect()
    assert out[0].neighbor_id == 7


def test_probe_qv_shipping_paths_agree(spark, tmp_path):
    """Both query-vector shipping modes (bounded broadcast re-join vs
    unbounded ride-along) must return identical results in raw AND PQ
    mode, filtered and not — ship_queries pins the path explicitly so
    the ride-along branch stays tested without a 65k-row fixture."""
    rows = [(i, _vec(i), "en" if i % 2 == 0 else "de")
            for i in range(60)]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",),
    )
    queries = base.read().filter(F.col("vec_id") % 20 == 0)
    for pq in (None, 4):
        idx = VectorIndex.create(
            spark, str(tmp_path / f"idx{pq}"), base,
            centroid_mod=10, pq_m=pq, codebook_mod=7,
        )
        for where in (None, "lang = 'en'"):
            got = {
                (r.query_id, r.rank): (r.neighbor_id,
                                       round(r.cosine, 6))
                for r in idx.probe(
                    queries, k=3, nprobe=2, shortlist=10,
                    rank_quantize=9, where=where, ship_queries=False,
                ).collect()
            }
            want = {
                (r.query_id, r.rank): (r.neighbor_id,
                                       round(r.cosine, 6))
                for r in idx.probe(
                    queries, k=3, nprobe=2, shortlist=10,
                    rank_quantize=9, where=where, ship_queries=True,
                ).collect()
            }
            assert got == want and got, (pq, where)


def test_stale_handle_refresh_survives_foreign_recluster(spark, tmp_path):
    """A handle opened before another process reclusters must not
    write to the vanished old epoch: refresh() re-syncs the epoch from
    durable state and lands the update in the NEW epoch's lists."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(30)),
        keys=("vec_id",),
    )
    VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10,
    )
    stale = VectorIndex.open(spark, str(tmp_path / "idx"), base)
    assert stale.epoch == 0  # memoized pre-recluster
    # "another process": a fresh handle reclusters (epoch 0 dirs gone)
    other = VectorIndex.open(spark, str(tmp_path / "idx"), base)
    assert other.recluster(centroid_mod=6)["epoch"] == 1
    # churn, then refresh through the STALE handle
    base.merge_when(mk_vecs(spark, [100, 101]), insert=True)
    base.delete(F.col("vec_id") == 3)
    r = stale.refresh()
    assert r["refreshed"] and not r.get("resync")
    assert stale.epoch == 1
    got = _lists_assign(stale)
    assert got == _expected_assign(base, stale)
    assert 100 in got and 3 not in got


def test_filtered_probe_prunes_lists_and_base_columns(spark, tmp_path):
    """PLAN PIN for filtered ANN: the probed-lists read opens a strict
    subset of list files, and the match-set's base scan reads only the
    predicate + id columns (never the vectors)."""
    rows = [(i, _vec(i), "en" if i % 2 == 0 else "de")
            for i in range(120)]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",), target_files=6,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=12,
        target_files=6,
    )
    # the match-set frame (pre-checkpoint): base scan reads only
    # [predicate col -> id], the vectors never load, the filter is in
    # the scan's data filters
    mplan = idx._match_set("lang = 'en'")._jdf.queryExecution() \
        .executedPlan().toString()
    scan = [ln for ln in mplan.splitlines() if "FileScan" in ln]
    assert scan and all("embedding" not in ln for ln in scan), mplan
    assert any("lang" in ln for ln in scan)
    # the filtered search's level frame reads a strict subset of list
    # files (search() itself now collects the <= k rows — the fill
    # check IS the result job — so the pin reconstructs the exact
    # level-0 frame _search_filtered ranks: pruned lists inner-joined
    # against the lazy match scan)
    import numpy as np

    c_ids, c_mat = idx._centroid_matrix()
    qv = np.asarray(_vec(7), dtype="float64")
    qv = qv / np.sqrt((qv * qv).sum())
    order = np.argsort(-(c_mat @ qv), kind="stable")[:2]
    cand = idx.lists.read_pruned(
        sorted(int(c_ids[i]) for i in order)
    ).join(idx._match_set("lang = 'en'"), "neighbor_id")
    all_files = set(idx.lists.read().inputFiles())
    lists_files = {f for f in cand.inputFiles() if "/lists/" in f}
    assert lists_files and lists_files < all_files
    # and the search itself still fills k from that level
    assert idx.search(_vec(7), k=3, nprobe=2,
                      where="lang = 'en'").count() == 3


def test_recluster_learned_heals_below_sampled(spark, tmp_path):
    """recluster(learned=N) must (a) land lists equal to a from-scratch
    cosine assignment against the LEARNED centroids, (b) cut hot-
    cluster skew at least as far as the sampled heal (sampled centroids
    only sit ON corpus points; the Lloyd update moves them toward the
    hot region's mass), and (c) keep the feed protocol incremental
    across the epoch swap."""
    rng = np.random.default_rng(41)
    hot = np.asarray(_vec(0))
    hot = hot / np.sqrt((hot * hot).sum())
    hot_batch = spark.createDataFrame(
        [
            (100 + j,
             [float(x) for x in 2.0 * hot
              + rng.normal(scale=0.02, size=DIM)])
            for j in range(120)
        ],
        "vec_id long, embedding array<double>",
    )

    def healed_skew(slug, **kw):
        base = CowTable.create(
            spark, str(tmp_path / f"{slug}_vecs"),
            mk_vecs(spark, range(40)), keys=("vec_id",),
        )
        idx = VectorIndex.create(
            spark, str(tmp_path / f"{slug}_idx"), base, centroid_mod=10,
        )
        base.merge_when(hot_batch, insert=True)
        idx.refresh()
        r = idx.recluster(**kw)
        return base, idx, r, idx.list_stats()

    _, _, r_s, s_sampled = healed_skew("sampled")
    assert r_s["learned_rounds"] == 0
    base, idx, r_l, s_learned = healed_skew("learned", learned=2)
    assert r_l["epoch"] == 1 and r_l["learned_rounds"] == 2
    # learned centroid ids are ordinals 0..C-1
    c_ids, _ = idx._centroid_matrix()
    assert list(c_ids) == list(range(r_l["centroids"]))
    # content == from-scratch assignment against the learned centroids
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # the learned heal is at least as flat as the sampled one
    assert s_learned["skew"] <= s_sampled["skew"] + 1e-9, (
        s_learned, s_sampled,
    )
    # feed resumes incrementally across the learned swap
    base.delete(F.col("vec_id") == 5)
    base.merge_when(mk_vecs(spark, [300]), insert=True)
    r2 = idx.refresh()
    assert r2["refreshed"] and not r2.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)
    # search serves from the learned epoch
    got = idx.search(_vec(7), k=2, nprobe=3)
    assert got.collect()[0].neighbor_id == 7


def test_recluster_deferred_reclaim(spark, tmp_path):
    """recluster(reclaim=False) must retire the old epoch instead of
    deleting it (in-flight readers keep their files), record it
    durably, and reclaim_epochs() must collect it later — preserving
    the rest of the state doc."""
    import os

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(30)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10,
    )
    # a reader planned against epoch 0 before the heal
    old_reader = idx.lists.read()
    n_before = old_reader.count()
    r = idx.recluster(reclaim=False)
    assert r["epoch"] == 1
    # old epoch intact on disk and still readable
    assert os.path.exists(str(tmp_path / "idx" / "lists"))
    assert old_reader.count() == n_before
    assert idx.retired_epochs == [0]
    # a FRESH handle sees the retired record through durable state
    re = VectorIndex.open(spark, str(tmp_path / "idx"), base)
    assert re.retired_epochs == [0]
    # queries serve the new epoch throughout
    assert idx.search(_vec(3), k=1, nprobe=3).collect()[0].neighbor_id == 3
    # reclaim collects the retired epoch and clears the record
    assert re.reclaim_epochs() == [0]
    assert not os.path.exists(str(tmp_path / "idx" / "lists"))
    assert re.reclaim_epochs() == []
    assert VectorIndex.open(
        spark, str(tmp_path / "idx"), base
    ).retired_epochs == []
    # chained heal: e1 retires, e2 serves, reclaim removes e1 only
    r2 = re.recluster(centroid_mod=6, reclaim=False)
    assert r2["epoch"] == 2 and re.retired_epochs == [1]
    assert os.path.exists(str(tmp_path / "idx" / "e1"))
    assert re.reclaim_epochs() == [1]
    assert not os.path.exists(str(tmp_path / "idx" / "e1"))
    assert os.path.exists(str(tmp_path / "idx" / "e2"))
    assert re.search(_vec(4), k=1, nprobe=3).collect()[0].neighbor_id == 4


def test_facade_reindex_learned(spark, tmp_path):
    """REINDEX VECTOR INDEX ... LEARNED [n] routes the Lloyd-refined
    heal and reports the round count."""
    from openverse_catalog_spark.sql_facade import SqlFacade

    f = SqlFacade(spark)
    f.register_df("emb", mk_vecs(spark, range(40)))
    f.sql(
        "CREATE TABLE vecs PRIMARY KEY (vec_id) "
        f"LOCATION '{tmp_path / 'vecs'}' AS SELECT * FROM emb"
    )
    f.sql(
        "CREATE VECTOR INDEX vi ON vecs (embedding) CENTROID MOD 10 "
        f"LOCATION '{tmp_path / 'vi'}'"
    )
    r = f.sql("REINDEX VECTOR INDEX vi LEARNED").head()
    assert r["epoch"] == 1 and r["learned_rounds"] == 2
    r = f.sql("REINDEX VECTOR INDEX vi CENTROID MOD 8 LEARNED 3").head()
    assert r["epoch"] == 2 and r["learned_rounds"] == 3
    q = " ".join(str(x) for x in _vec(7))
    out = f.sql(
        f"SELECT neighbor_id, cosine FROM VECTOR_SEARCH('vi', '{q}', 2)"
    ).collect()
    assert out[0].neighbor_id == 7


def test_filtered_search_selectivity_arms_agree(spark, tmp_path):
    """Every physical arm of the adaptive selectivity switch must
    return IDENTICAL results: the optimistic post-filter first level,
    the pre-filter escalation (forced via PREFILTER_SELECTIVITY=1.0),
    and the post-filter escalation (forced via 0.0) all match the
    brute-force exact filtered scan — the switch changes the physical
    strategy, never the candidates or ranking."""
    from openverse_catalog_spark.operators.knn import cosine_expr

    rows = [(i, _vec(i), "rare" if i % 10 == 0 else "common")
            for i in range(60)]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10,
    )
    q = _vec(777)
    qarr = F.array(*[F.lit(float(x)) for x in q])
    for where in ("lang = 'common'", "lang = 'rare'"):
        # brute-force truth: exact cosine over the filtered corpus,
        # nprobe forced to every centroid so recall is total
        exact = [
            (r.neighbor_id, r.cosine)
            for r in base.read().filter(where).select(
                F.col("vec_id").alias("neighbor_id"),
                cosine_expr(qarr, F.col("embedding")).alias("c"),
            ).orderBy(F.round(F.col("c"), 9).desc(), "neighbor_id")
            .limit(5)
            .select("neighbor_id", F.round("c", 6).alias("cosine"))
            .collect()
        ]
        got = {}
        for arm, sel in (("pre", 1.0), ("post", 0.0), ("adaptive", None)):
            if sel is not None:
                idx.PREFILTER_SELECTIVITY = sel
            out = idx.search(
                q, k=5, nprobe=len(idx._centroid_matrix()[0]),
                where=where,
            )
            got[arm] = [(r.neighbor_id, r.cosine) for r in out.collect()]
            if sel is not None:
                del idx.PREFILTER_SELECTIVITY
        assert got["pre"] == got["post"] == got["adaptive"] == exact, (
            where, got, exact,
        )
        assert len(exact) == 5
    # the rare predicate under-fills the first (single-probe) level and
    # escalates to the recall floor: all 6 matches surface for k=10
    rare = idx.search(q, k=10, nprobe=1, where="lang = 'rare'")
    assert rare.count() == 6


def test_pq_recluster_learned(spark, tmp_path):
    """recluster(learned=N) in PQ-RESIDUAL mode: codebooks retrain
    against the LEARNED centroids (residual codes depend on the
    centroid set), the swapped epoch's lists equal a from-scratch
    encode, and search still serves exact top-k through the ADC +
    re-rank path."""
    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(60)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=10, pq_m=4, codebook_mod=7, pq_residual=True,
    )
    base.merge_when(mk_vecs(spark, range(60, 90)), insert=True)
    idx.refresh()
    r = idx.recluster(learned=2)
    assert r["epoch"] == 1 and r["learned_rounds"] == 2
    # learned centroids are ordinals and the PQ encode matches a
    # from-scratch encode against them
    c_ids, _ = idx._centroid_matrix()
    assert list(c_ids) == list(range(r["centroids"]))
    assert _lists_codes(idx) == _expected_codes(base, idx)
    got = idx.search(_vec(4), k=2, nprobe=3, shortlist=20)
    assert got.collect()[0].neighbor_id == 4
    # feed resumes incrementally across the learned swap
    base.merge_when(mk_vecs(spark, [200]), insert=True)
    r2 = idx.refresh()
    assert r2["refreshed"] and not r2.get("resync")
    assert _lists_codes(idx) == _expected_codes(base, idx)


def test_create_learned_and_facade_clause(spark, tmp_path):
    """create(learned=N) refines seeds before the FIRST build: lists
    equal a from-scratch assignment against the learned (ordinal)
    centroids, refresh stays incremental, and the facade's CREATE
    VECTOR INDEX ... LEARNED [n] clause routes it (ATTACH refuses the
    clause like the other fixed-at-create options)."""
    import pytest as _pytest

    from openverse_catalog_spark.sql_facade import SqlFacade

    base = CowTable.create(
        spark, str(tmp_path / "vecs"), mk_vecs(spark, range(50)),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=10, learned=2,
    )
    c_ids, _ = idx._centroid_matrix()
    assert list(c_ids) == list(range(len(c_ids)))  # ordinal ids
    assert _lists_assign(idx) == _expected_assign(base, idx)
    base.merge_when(mk_vecs(spark, [100, 101]), insert=True)
    r = idx.refresh()
    assert r["refreshed"] and not r.get("resync")
    assert _lists_assign(idx) == _expected_assign(base, idx)

    f = SqlFacade(spark)
    f.register_df("emb", mk_vecs(spark, range(40)))
    f.sql(
        "CREATE TABLE vecs PRIMARY KEY (vec_id) "
        f"LOCATION '{tmp_path / 'fvecs'}' AS SELECT * FROM emb"
    )
    f.sql(
        "CREATE VECTOR INDEX vl ON vecs (embedding) CENTROID MOD 10 "
        f"LEARNED LOCATION '{tmp_path / 'fvl'}'"
    )
    got = f.sql(
        f"SELECT neighbor_id FROM VECTOR_SEARCH("
        f"'vl', '{' '.join(str(x) for x in _vec(7))}', 1)"
    ).collect()
    assert got[0].neighbor_id == 7
    with _pytest.raises(ValueError, match="LEARNED are fixed"):
        f.sql(
            "ATTACH VECTOR INDEX va ON vecs (embedding) LEARNED "
            f"LOCATION '{tmp_path / 'fvl'}'"
        )


def _one_row_probe(spark, idx, q, k, nprobe, shortlist, where=None):
    """The batch ``probe()`` contract for one external query vector:
    a one-row frame, self-exclusion off, ranked (neighbor_id, cosine)
    rounded the way ``search`` rounds its output."""
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in q])], "vec_id long, embedding array<double>"
    )
    out = idx.probe(
        qdf, k=k, nprobe=nprobe, shortlist=shortlist,
        exclude_self=False, where=where,
    )
    return [
        (r.neighbor_id, r.cosine)
        for r in out.orderBy("rank").select(
            "neighbor_id", F.round("cosine", 6).alias("cosine")
        ).collect()
    ]


def _mlt_queries(n: int) -> list[list[float]]:
    """Query vectors for "more like this" searches: indexed vectors
    slightly perturbed, external random ones, and the vec_id == -1
    row's own vector."""
    rng = np.random.default_rng(4242)
    out = [_vec(12345)]
    for i in range(n - 1):
        if i % 2:
            out.append([float(x) for x in rng.normal(size=DIM)])
        else:
            v = np.asarray(_vec(3 * i + 1)) + rng.normal(scale=0.1, size=DIM)
            out.append([float(x) for x in v])
    return out


@pytest.mark.parametrize("residual", [False, True])
def test_pq_search_equals_one_row_probe(spark, tmp_path, residual):
    """PQ single-vector search (driver-side centroids and ADC lookup
    table, JVM scoring) returns exactly what the batch probe returns
    for the same vector as a one-row frame: same shortlist, rounding
    and tie-breaks, including shortlist == k, a corpus row whose
    vec_id is -1 and an exact duplicate vector (ids 1 and 202 tie on
    ADC and cosine)."""
    rows = [(-1, _vec(12345)), (202, _vec(1))] + [
        (i, _vec(i)) for i in range(80)
    ]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        keys=("vec_id",), target_files=4,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=8, pq_m=4, codebook_mod=3, pq_residual=residual,
    )
    saw_minus_one = False
    for n, q in enumerate(_mlt_queries(10)):
        shortlist = 3 if n % 3 == 0 else 8
        got = [
            (r.neighbor_id, r.cosine)
            for r in idx.search(
                q, k=3, nprobe=2, shortlist=shortlist
            ).collect()
        ]
        want = _one_row_probe(spark, idx, q, 3, 2, shortlist)
        assert got == want, (n, shortlist, got, want)
        assert len(got) == 3
        saw_minus_one |= got[0][0] == -1
        if n == 1:  # the query near vec_id 1 ranks its duplicate next
            assert [g[0] for g in got[:2]] == [1, 202], got
    assert saw_minus_one


def test_pq_filtered_search_equals_probe_and_raw(spark, tmp_path):
    """Filtered PQ search under a rare predicate that escalates nprobe:
    every level's ranking equals the batch probe over the same
    candidates, and with the whole match set on the shortlist the PQ
    answer equals the raw-vector index's exact one."""
    rng = np.random.default_rng(77)
    d = rng.normal(size=DIM)
    d = d / np.sqrt((d * d).sum())
    rows = [(-1, _vec(12345), "en")]
    for i in range(90):
        if i % 30 == 7:  # 3 rare rows, anti-aligned with the queries
            v = -d + rng.normal(scale=0.05, size=DIM)
        else:
            v = rng.normal(size=DIM)
        rows.append((i, [float(x) for x in v],
                     "gd" if i % 30 == 7 else "en"))
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",), target_files=4,
    )
    raw = VectorIndex.create(
        spark, str(tmp_path / "raw"), base, centroid_mod=9,
    )
    pq = VectorIndex.create(
        spark, str(tmp_path / "pq"), base,
        centroid_mod=9, pq_m=4, codebook_mod=3,
    )
    n_cents = len(pq._centroid_matrix()[0])
    where = "lang = 'gd'"
    for n in range(10):
        q = [float(x) for x in d + rng.normal(scale=0.3, size=DIM)]
        # 3 matches <= k: the recall floor escalates until every match
        # is probed, so the final level's candidates are the full
        # filtered probe's
        got = [
            (r.neighbor_id, r.cosine)
            for r in pq.search(
                q, k=3, nprobe=1, shortlist=3, where=where
            ).collect()
        ]
        want = _one_row_probe(spark, pq, q, 3, n_cents, 3, where=where)
        exact = [
            (r.neighbor_id, r.cosine)
            for r in raw.search(q, k=3, nprobe=1, where=where).collect()
        ]
        assert got == want == exact, (n, got, want, exact)
        assert sorted(g[0] for g in got) == [7, 37, 67]


def test_single_vector_search_job_budget(
    spark, tmp_path, jobs_of, py4j_calls_of
):
    """Warm single-vector searches run a fixed number of Spark jobs:
    flat search is one job, PQ search none (the probed codes and the
    shortlisted base vectors are read on the driver with pyarrow; the
    result is a local relation), and a PQ search(where=...) whose
    first level fills k runs the count pinned below. A PQ search also
    makes a pinned number of py4j round trips (the load-independent
    driver cost): no read, ADC or cosine expression tree, per-id
    ``isin`` literal or re-rank plan crosses to the JVM."""
    rows = [(i, _vec(i), "rare" if i % 10 == 0 else "common")
            for i in range(60)]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, lang string"
        ),
        keys=("vec_id",), target_files=4,
    )
    flat = VectorIndex.create(
        spark, str(tmp_path / "flat"), base, centroid_mod=10,
    )
    pq = VectorIndex.create(
        spark, str(tmp_path / "pq"), base,
        centroid_mod=10, pq_m=4, codebook_mod=7,
    )
    q = _vec(777)
    for idx in (flat, pq):  # warm the centroid / codebook memos
        idx.search(q, k=3, nprobe=2).collect()
    counts = {
        "flat": jobs_of(lambda: flat.search(q, k=3, nprobe=2).collect()),
        "pq": jobs_of(lambda: pq.search(q, k=3, nprobe=2).collect()),
        "pq_where": jobs_of(
            lambda: pq.search(
                q, k=3, nprobe=2, where="lang = 'common'"
            ).collect()
        ),
    }
    assert counts["flat"] == 1, counts
    assert counts["pq"] == 0, counts
    # the codes collect over the match-set join (2); the base vectors
    # are read on the driver and the result is a local relation
    assert counts["pq_where"] == 2, counts
    calls = py4j_calls_of(lambda: pq.search(q, k=3, nprobe=2).collect())
    assert calls <= 15, calls


@pytest.mark.parametrize("residual", [False, True])
def test_pq_search_edges(spark, tmp_path, jobs_of, residual):
    """PQ search at the edges of its driver ranking: no candidates (an
    empty local relation whose collect runs no job), k above the
    candidate count, a shortlist above the candidate count, and a
    duplicate vector that ties its original on ADC and cosine and
    ranks after it by id — each equal to the batch probe."""
    rows = [(i, _vec(i)) for i in range(40)] + [(103, _vec(3))]
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        keys=("vec_id",), target_files=3,
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base,
        centroid_mod=8, pq_m=4, codebook_mod=3, pq_residual=residual,
    )
    n_cents = len(idx._centroid_matrix()[0])
    q = np.asarray(_vec(3))
    probed = sorted(int(c) for c in idx._centroid_order(q)[:2])

    none = idx.lists.read_pruned(probed).where(F.lit(False))
    empty = idx._rank(none, q, probed, 3, None)
    assert jobs_of(empty.collect) == 0
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<neighbor_id:bigint,cosine:double>"
    )
    assert idx.search(list(q), k=3, where="vec_id < -5").collect() == []

    def search(**kw):
        return [
            (r.neighbor_id, r.cosine)
            for r in idx.search(list(q), **kw).collect()
        ]

    every = search(k=100, nprobe=n_cents)
    assert sorted(g[0] for g in every) == sorted(i for i, _ in rows)
    assert every == _one_row_probe(spark, idx, q, 100, n_cents, 400)

    wide = search(k=3, nprobe=2, shortlist=500)
    assert wide == _one_row_probe(spark, idx, q, 3, 2, 500)
    assert [g[0] for g in wide[:2]] == [3, 103]
    assert wide[0][1] == wide[1][1] == 1.0


def test_search_of_int_keyed_base_returns_long_ids(spark, tmp_path):
    """A base keyed by an ``int`` column: flat, PQ, filtered PQ and
    empty PQ searches all return ``neighbor_id bigint`` (the lists
    store ids as long) with the rows of the same base keyed by long."""
    want_schema = "struct<neighbor_id:bigint,cosine:double>"
    got = {}
    for key_type in ("int", "long"):
        base = CowTable.create(
            spark, str(tmp_path / f"vecs_{key_type}"),
            spark.createDataFrame(
                [(i, _vec(i)) for i in range(30)],
                f"vec_id {key_type}, embedding array<double>",
            ),
            keys=("vec_id",),
        )
        flat = VectorIndex.create(
            spark, str(tmp_path / f"flat_{key_type}"), base,
            centroid_mod=6,
        )
        pq = VectorIndex.create(
            spark, str(tmp_path / f"pq_{key_type}"), base,
            centroid_mod=6, pq_m=4, codebook_mod=3,
        )
        q = _vec(4)
        outs = [
            flat.search(q, k=4),
            pq.search(q, k=4),
            pq.search(q, k=4, where="vec_id % 2 = 0"),
            pq.search(q, k=4, where="vec_id < 0"),
        ]
        for out in outs:
            assert out.schema.simpleString() == want_schema, key_type
        got[key_type] = [
            [(r.neighbor_id, r.cosine) for r in out.collect()]
            for out in outs
        ]
    assert got["int"] == got["long"]
    assert [len(g) for g in got["int"]] == [4, 4, 4, 0]


def test_rank_vectors_equals_jvm_ranking(spark, tmp_path):
    """The driver ranking of collected ``(neighbor_id, vector)`` rows
    equals the JVM plan's rows, order and doubles at every k: a NULL
    vector, a NULL element, a zero vector, a norm that underflows to
    zero, and vectors shorter or longer than the query get a NULL
    cosine and rank last; NaN (a NaN or infinite element) ranks first;
    two cosines on either side of a 9-decimal rounding boundary and two
    that round to the same 9 decimals order as Spark orders them."""
    import math

    def unit(c):
        return [c, math.sqrt(1.0 - c * c), 0.0]

    rng = np.random.default_rng(9)
    rows = [
        (1, None), (2, [0.0, 0.0, 0.0]), (3, [1.0, 2.0]),
        (4, [1.0, 2.0, 3.0, 4.0]), (5, [1.0, None, 2.0]),
        (6, [float("nan"), 1.0, 1.0]), (7, [1e-170, 0.0, 0.0]),
        # equal at 9 decimals: the lower raw cosine has the lower id
        (8, unit(0.4999999996)), (9, unit(0.5000000004)),
        # either side of 0.7000000005
        (10, unit(0.70000000049)), (11, unit(0.70000000051)),
        (12, [float("inf"), 1.0, 1.0]), (13, [1.0, 1.0, 1.0]),
        (14, [1.0, 1.0, 1.0]),
    ] + [(i, [float(x) for x in rng.normal(size=3)]) for i in range(20, 40)]
    frame = spark.createDataFrame(
        rows, "neighbor_id long, vector array<double>"
    )
    base = CowTable.create(
        spark, str(tmp_path / "vecs"),
        spark.createDataFrame(
            [(i, _vec(i)[:3]) for i in range(10)],
            "vec_id long, embedding array<double>",
        ),
        keys=("vec_id",),
    )
    idx = VectorIndex.create(
        spark, str(tmp_path / "idx"), base, centroid_mod=5,
    )
    q = np.asarray([1.0, 0.0, 0.0])
    t = frame.toArrow()
    for k in (1, 2, 3, 5, 9, 12, 20, len(rows), len(rows) + 5):
        want = [
            (r.neighbor_id, repr(r.cosine))
            for r in idx._rank_spark(frame, q, k).collect()
        ]
        got = [(i, repr(c)) for i, c in _rank_vectors(t, q, k)]
        assert got == want, (k, got, want)
    ranked = [i for i, _ in _rank_vectors(t, q, len(rows))]
    assert ranked[:2] == [6, 12]  # NaN first, by id
    assert ranked[-6:] == [1, 2, 3, 4, 5, 7]  # NULL last, by id
    assert ranked.index(8) < ranked.index(9)
    assert ranked.index(11) < ranked.index(10)
