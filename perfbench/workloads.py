"""The catalog workloads, driven through the engine's public API.

``ingest``  provider DAG runs: landing -> clean -> dedupe -> catalog
            transaction merge. No index or view is registered. Run by
            hand; BENCHMARK.json does not declare it.
``refresh`` small fixed churn commits, each followed by the catalog
            maintenance tick (compaction, index refresh, vacuum), the
            per-provider popularity view refresh and the popularity
            constants recompute.
``serve``   read-only probes (BM25, filtered BM25, vector search, key
            lookups, BM25 hits joined with standardized popularity)
            against a snapshot published through the same write path.

Each workload object offers ``setup()`` (fixture build, and for serve a
warm-up),
``op(i)`` (one timed operation, returns the list of its failures),
``block`` (the timed loop stops only after a whole block of ops, so every
run sees the same op mix) and ``check()`` (untimed output checks, returns
the list of mismatches).
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import re
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.catalog import LakeCatalog
from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.dedupe import exact_dedupe
from openverse_catalog_spark.operators.matview import AggSpec, MaterializedView
from openverse_catalog_spark.operators.merge import merge_upsert
from openverse_catalog_spark.operators.popularity import (
    percentile_disc_by_group,
    popularity_constants,
    standardized_popularity,
)
from openverse_catalog_spark.operators.searchindex import B, K1, SearchIndex
from openverse_catalog_spark.operators.vectorindex import VectorIndex
from openverse_catalog_spark.plans.media_pipeline import clean_media_batch
from openverse_catalog_spark.schemas.columns import (
    IMAGE_TSV_COLUMNS,
    ColumnSpec,
    Datatype,
    UpsertStrategy,
    image_db_schema,
    spark_schema,
)
from openverse_catalog_spark.sources import landing
from openverse_catalog_spark.sources.landing import PagedFetcher, read_json_landing

from gen import VALID_LICENSES, CatalogModel, Generator

# ingest keys the canonical table on the reference's natural key;
# refresh/serve add the numeric media_id the vector index needs as the
# table's single merge key (identifiers map 1:1 to media ids)
MEDIA_KEYS = ("foreign_identifier", "provider")
MEDIA_ID_KEYS = ("media_id",)
VECTOR_COLUMNS = [
    ColumnSpec("media_id", Datatype.int, upsert_strategy=UpsertStrategy.no_change),
    ColumnSpec("views", Datatype.int),
    ColumnSpec("embedding", Datatype.array_double),
]
PAGE = 250            # records per landing page (one jsonl file each)
POP_PERCENTILE = 0.85
TICK = dict(target_rows=4_000, retention_seconds=0.0, catalog_history=4)

# sizes (rows): fixed, so every seed does the same amount of work. They
# are assumed, not taken from recorded catalog traffic: chosen so one run
# with its set-up fits the benchmark's time budget (README "Workloads")
INGEST_CORPUS = 10_000
INGEST_BATCH = 1_000
REFRESH_CORPUS = 3_000
CHURN = dict(n_update=120, n_insert=40, n_delete=40)
SERVE_CORPUS = 3_000


def frame_digest(df) -> tuple[int, int]:
    """Order-independent (rows, hash-sum) of a frame; maps hash through
    their sorted entries so key order inside a map never matters."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() == "map":
            c = F.to_json(F.array_sort(F.map_entries(c)))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
    r = row.agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


class Phases:
    """Wall time of named set-up and check phases, for the run report."""

    def __init__(self):
        self.times: dict[str, float] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = round(self.times.get(name, 0.0) + time.perf_counter() - t, 3)


def du(path: str) -> int:
    """Bytes of every file under ``path`` (files a concurrent vacuum
    removes mid-walk count as gone)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class MediaLake:
    """The catalog fixture: a LakeCatalog with one canonical media table
    and the provider-DAG write path into it."""

    def __init__(self, spark, root: str, gen: Generator, vectors: bool, tracer):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.model = CatalogModel(gen, vectors)
        self.columns = image_db_schema() + (VECTOR_COLUMNS if vectors else [])
        self.keys = MEDIA_ID_KEYS if vectors else MEDIA_KEYS
        self.staging_schema = spark_schema(
            IMAGE_TSV_COLUMNS + (VECTOR_COLUMNS if vectors else [])
        )
        self.landing = f"{root}/landing"
        self.days: list[str] = []
        self.cat = LakeCatalog.create(spark, f"{root}/lake")
        # what the catalog stores (the landing zone is the providers'):
        # its manifests, the media table, then every index and view
        self.stored_roots = [self.cat.root, f"{root}/media"]
        self.media: CowTable | None = None
        self.rows = 0

    def bulk_load(self, n: int) -> None:
        """The initial corpus: one landed batch, cleaned, upserted into an
        empty canonical frame and written as the table's first version."""
        day = self._land(self.model.initial(n))
        empty = self.spark.createDataFrame([], spark_schema(self.columns))
        rows = merge_upsert(
            empty, self.admitted(day), self.columns, keys=self.keys,
            deterministic=True,
        ).select(*[c.name for c in self.columns])
        self.media = CowTable.create(
            self.spark, f"{self.root}/media", rows, keys=self.keys,
            checkpoint=True,
        )
        self.cat.register("media", self.media)
        self.rows = self.media.live_rows()
        if self.rows != n:
            raise RuntimeError(f"initial load kept {self.rows} of {n} rows")

    def pin(self) -> int:
        return int(self.cat.history()[-1]["tables"]["media"]["version"])

    def _land(self, records: list[dict]) -> str:
        """Page the records through the ingester loop into a new landing
        partition; returns its date key."""
        day = f"run{len(self.days):05d}"
        self.days.append(day)
        pages = [records[i:i + PAGE] for i in range(0, len(records), PAGE)]
        fetcher = PagedFetcher(
            lambda p: {"items": pages[p["page"]]} if p["page"] < len(pages) else None,
            lambda r: r["items"],
            lambda prev: {"page": 0 if prev is None else prev["page"] + 1},
        )
        landing.write_landing(fetcher, self.landing, day, "bench")
        return day

    def admitted(self, day: str):
        """Landing partition -> cleaned, deduplicated staging frame."""
        staged = read_json_landing(
            self.spark, f"{self.landing}/ingest_date={day}", self.staging_schema
        )
        cleaned = clean_media_batch(staged, self.spark)
        return exact_dedupe(cleaned, ["provider", "foreign_identifier"], [F.col("url")])

    def provider_run(self, records: list[dict], expect_delta: int,
                     deletes: list[int] = ()) -> list[str]:
        """One provider DAG run; returns its failures (empty = ok)."""
        day = self._land(records)
        batch = self.admitted(day)
        with self.tracer.span("catalog.txn"):
            with self.cat.transaction() as txn:
                t = txn.table("media")
                res = t.merge(batch, self.columns, deterministic=True)
                if deletes:
                    res = t.delete(F.col("media_id").isin(list(deletes)))
        rows = int(res["rows"])
        delta, self.rows = rows - self.rows, rows
        if delta != expect_delta:
            return [f"{day}: committed row delta {delta} != admitted {expect_delta}"]
        return []

    def stored_bytes_per_row(self) -> float:
        return sum(du(r) for r in self.stored_roots) / max(1, self.rows)


class _Workload:
    """Shared plumbing: the seeded generator, the tracer, the phase timer
    and the catalog fixture with its registered consumers."""

    name = ""
    vectors = True
    block = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        # the checks' rebuilt indexes live beside the fixture, not in it
        self.check_dir = os.path.join(os.path.dirname(work), "check")
        self.seed = int(seed)
        self.gen = Generator(seed)
        self.phase = Phases()
        self.notes: dict = {}

    def load(self, n: int) -> MediaLake:
        """A fresh catalog holding an initial corpus of ``n`` items."""
        with self.phase("load"):
            self.lake = MediaLake(
                self.spark, self.work, self.gen, self.vectors, self.tracer
            )
            self.lake.bulk_load(n)
        return self.lake

    def search_index(self, root: str, pin: int) -> SearchIndex:
        return SearchIndex.create(
            self.spark, root, self.lake.media,
            id_col="media_id", text_col="title", version=pin,
        )

    def vector_index(self, root: str, pin: int) -> VectorIndex:
        return VectorIndex.create(
            self.spark, root, self.lake.media,
            id_col="media_id", vec_col="embedding", pq_m=8, version=pin,
        )

    def register_indexes(self, pin: int) -> None:
        """The title search index and the PQ vector index, built at the
        pin and registered so the catalog tick maintains them."""
        cat = self.lake.cat
        with self.phase("indexes"), ThreadPoolExecutor(max_workers=2) as pool:
            s = pool.submit(self.search_index, f"{self.work}/idx_title", pin)
            v = pool.submit(self.vector_index, f"{self.work}/idx_vec", pin)
            self.sidx, self.vidx = s.result(), v.result()
        cat.register_index("title", "search", self.sidx.root, "media",
                           {"id": "media_id", "text": "title"})
        cat.register_index("vec", "vector", self.vidx.root, "media",
                           {"id": "media_id", "vector": "embedding"})
        self.lake.stored_roots += [self.sidx.root, self.vidx.root]

    def stored_bytes_per_row(self) -> float:
        return self.lake.stored_bytes_per_row()


def tick_failures(tick: dict, pin: int) -> list[str]:
    """A tick entry that errored or resynced, or a consumer it left short
    of the pin, is a failure (maintain_tables reports index errors in its
    result instead of raising)."""
    out = []
    for k, v in tick.items():
        if k.startswith("index:"):
            if v.get("error") or v.get("resync"):
                out.append(f"tick {k}: {v}")
            elif v.get("applied") != pin:
                out.append(f"{k} applied {v.get('applied')} != pin {pin}")
    return out


# -- ingest ---------------------------------------------------------------

class Ingest(_Workload):
    name = "ingest"
    vectors = False

    def setup(self) -> None:
        self.load(INGEST_CORPUS)

    def op(self, i: int) -> list[str]:
        recs, delta = self.lake.model.ingest_batch(i, INGEST_BATCH)
        return self.lake.provider_run(recs, delta)

    def check(self) -> list[str]:
        """The published snapshot equals a from-scratch merge_upsert
        replay of every landed batch, in order."""
        lake = self.lake
        with self.phase("check_replay"):
            target = self.spark.createDataFrame([], spark_schema(lake.columns))
            for day in lake.days:
                target = merge_upsert(
                    target, lake.admitted(day), lake.columns,
                    keys=lake.keys, deterministic=True,
                ).localCheckpoint()
            got = frame_digest(lake.cat.read("media"))
            want = frame_digest(target.select(*[c.name for c in lake.columns]))
        return [] if got == want else [f"snapshot digest {got} != replay {want}"]


# -- refresh ---------------------------------------------------------------

class Refresh(_Workload):
    name = "refresh"

    def setup(self) -> None:
        lake = self.load(REFRESH_CORPUS)
        pin = lake.pin()
        self.register_indexes(pin)
        with self.phase("view"):
            self.mv = MaterializedView(
                self.spark, lake.media, f"{self.work}/mv_provider", ["provider"],
                [AggSpec("items", "count"), AggSpec("views", "sum", "views"),
                 AggSpec("top_views", "max", "views")],
            )
            self.mv.build(to_version=pin)
        lake.stored_roots.append(self.mv.root)

    def op(self, i: int) -> list[str]:
        lake = self.lake
        recs, dels, delta = lake.model.churn(i, **CHURN)
        fails = lake.provider_run(recs, delta, deletes=dels)
        tick = lake.cat.maintain_tables(**TICK)
        pin = lake.pin()
        fails += tick_failures(tick, pin)
        mv = self.mv.refresh(to_version=pin)
        if mv.get("base_version") != pin:
            fails.append(f"view at {mv.get('base_version')} != pin {pin}")
        with self.tracer.span("popularity.constants"):
            snap = lake.media.read(pin)
            consts = popularity_constants(
                percentile_disc_by_group(snap, ["provider"], "views", POP_PERCENTILE),
                POP_PERCENTILE,
            ).collect()
        if len(consts) != len(self.gen.providers):
            fails.append(f"{len(consts)} popularity constants")
        return fails

    def check(self) -> list[str]:
        """View == fresh group-by at the pin; search index == a fresh
        build at the pin; vector lists == a rebuild from the frozen
        centroids (churn never touches the centroid/codebook samples)."""
        pin, out = self.lake.pin(), []
        with self.phase("check_view"):
            want = {
                r["provider"]: (r["items"], r["views"], r["top_views"])
                for r in self.lake.media.read(pin).groupBy("provider").agg(
                    F.count(F.lit(1)).alias("items"), F.sum("views").alias("views"),
                    F.max("views").alias("top_views"),
                ).collect()
            }
            got = {r["provider"]: (r["items"], r["views"], r["top_views"])
                   for r in self.mv.read().collect()}
        if got != want:
            out.append("popularity view != group-by at pin")
        with self.phase("check_search"):
            fresh = self.search_index(f"{self.check_dir}/title", pin)
            for name in ("postings", "doclen"):
                a = frame_digest(getattr(self.sidx, name).read())
                b = frame_digest(getattr(fresh, name).read())
                if a != b:
                    out.append(f"search {name} digest {a} != rebuilt {b}")
        with self.phase("check_vector"):
            rebuilt = self.vector_index(f"{self.check_dir}/vec", pin)
            a = frame_digest(self.vidx.lists.read())
            b = frame_digest(rebuilt.lists.read())
        if a != b:
            out.append(f"vector lists digest {a} != rebuilt {b}")
        return out


# -- serve -------------------------------------------------------------------

# probes per block of 20; each block runs in a seeded order and the timed
# loop ends on a block boundary, so every run sees the same mix. The mix
# is assumed, not measured: no record of catalog read traffic exists to
# take it from. The counts were tuned so that as many probes lie below the
# plain bm25 ones (lookups) as above them (filtered, popularity, vector),
# which makes the median op a mid-ranked bm25 probe rather than one at the
# edge between two kinds; a change that speeds only vector or popularity
# probes therefore barely moves op_p50_s (it shows in ops_per_s).
_MIX = [("bm25", 10), ("bm25_filtered", 2), ("vector", 2), ("lookup", 4),
        ("bm25_popularity", 2)]
BLOCK = [k for k, n in _MIX for _ in range(n)]
# untimed probes before the loop: one of every kind, then plain bm25 ones,
# which keep getting faster for their first 15-20 calls while the JIT
# compiles the planner paths (the median op is a plain bm25 probe)
WARMUP = [k for k, _ in _MIX] + ["bm25"] * 15
TOP_K = 10
MIN_SELF_HIT = 0.5    # share of vector probes that must rank the queried item first


def _tokens(text) -> list[str]:
    if text is None:
        return []
    return [t for t in re.split(r"[^a-z]+", text.lower()) if len(t) >= 3]


class Serve(_Workload):
    name = "serve"
    block = len(BLOCK)

    def setup(self) -> None:
        lake = self.load(SERVE_CORPUS)
        self.register_indexes(lake.pin())
        # the published layout is what the write path and the catalog
        # maintenance tick produce
        with self.phase("tick"):
            tick = lake.cat.maintain_tables(**TICK)
            self.pin = lake.pin()
        if tick_failures(tick, self.pin):
            raise RuntimeError(f"setup: {tick_failures(tick, self.pin)}")
        with self.phase("warmup"):
            self.snap = lake.media.read(self.pin)
            self.consts = {
                r["provider"]: r["constant"]
                for r in popularity_constants(
                    percentile_disc_by_group(self.snap, ["provider"], "views", POP_PERCENTILE),
                    POP_PERCENTILE,
                ).collect()
            }
            self.consts_df = self.spark.createDataFrame(
                sorted(self.consts.items()), "provider string, constant double"
            )
            self.live = sorted(lake.model.live)
            self.licenses = sorted({lic for lic, _ in VALID_LICENSES})
            self.recorded: list[tuple] = []
            for j, kind in enumerate(WARMUP):
                self._probe(kind, random.Random(f"{self.seed}:warm:{j}"))

    def _probe(self, kind: str, rng):
        g = self.gen
        if kind == "vector":
            src = rng.choice(self.live)
            q = g.near_vector(src, rng)
            with self.tracer.span("vectorindex.search"):
                rows = self.vidx.search(q, TOP_K, nprobe=2).collect()
            return (src, q), [(int(r["neighbor_id"]), float(r["cosine"])) for r in rows]
        if kind == "lookup":
            ids = rng.choices(self.live, k=rng.randrange(1, 5))
            with self.tracer.span("cowtable.read_pruned") as sp:
                df = self.lake.media.read_pruned(ids, version=self.pin)
                rows = df.select("media_id", "title").collect()
                if sp is not None:
                    sp.counters["files_read"] = len(df.inputFiles())
            return ids, sorted((r[0], r[1]) for r in rows)
        terms = rng.choices(g.terms, cum_weights=g.term_cw, k=rng.randrange(1, 4))
        where = None
        if kind == "bm25_filtered":
            if rng.random() < 0.5:
                where = f"provider = '{rng.choice(g.providers)}'"
            else:
                where = f"license = '{rng.choice(self.licenses)}'"
        with self.tracer.span("searchindex.bm25") as sp:
            hits = self.sidx.bm25(terms, TOP_K, where=where)
            if kind != "bm25_popularity":
                rows = hits.collect()
                if sp is not None:
                    sp.counters["files_read"] = len(hits.inputFiles())
                return (terms, where), [(int(r["doc_id"]), float(r["score"])) for r in rows]
        with self.tracer.span("popularity.score"):
            facts = self.snap.select("media_id", "provider", "views").join(
                hits.withColumnRenamed("doc_id", "media_id"), "media_id"
            )
            rows = standardized_popularity(
                facts, self.consts_df, ["provider"], "views"
            ).select("media_id", "score", "standardized_popularity").collect()
        return (terms, None), sorted(
            (int(r["media_id"]), float(r["score"]), float(r["standardized_popularity"]))
            for r in rows
        )

    def op(self, i: int) -> list[str]:
        block = list(BLOCK)
        random.Random(f"{self.seed}:block:{i // len(block)}").shuffle(block)
        kind = block[i % len(block)]
        t = time.perf_counter()
        args, result = self._probe(kind, random.Random(f"{self.seed}:op:{i}"))
        self.notes.setdefault("probe_s", {}).setdefault(kind, []).append(
            round(time.perf_counter() - t, 4))
        self.recorded.append((kind, args, result))
        return []

    # -- brute-force references --------------------------------------------

    def _reference(self):
        pdf = self.snap.select(
            "media_id", "foreign_identifier", "provider", "license", "title",
            "views", "embedding",
        ).toPandas()
        docs = {}
        for mid, title in zip(pdf["media_id"], pdf["title"]):
            toks = _tokens(title)
            if toks:
                docs[int(mid)] = toks
        df: dict[str, int] = {}
        for toks in docs.values():
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        return pdf, docs, df, n, avgdl

    def _bm25(self, ref, terms, allowed=None):
        pdf, docs, df, n, avgdl = ref
        qt = []
        for t in terms:
            for run in re.findall(r"[a-z]+", t.lower()):
                if len(run) >= 3 and run not in qt:
                    qt.append(run)
        scores = {}
        for mid, toks in docs.items():
            if allowed is not None and mid not in allowed:
                continue
            s, hit = 0.0, False
            for t in qt:
                tf = toks.count(t)
                if tf:
                    hit = True
                    idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * len(toks) / avgdl))
            if hit:
                scores[mid] = round(s, 6)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))

    @staticmethod
    def _same_topk(got, want, k) -> bool:
        """Equal scores rank for rank (to rounding); ids equal except
        where a score tie straddles the cut."""
        if len(got) != min(k, len(want)):
            return False
        for (gi, gs), (wi, ws) in zip(got, want):
            if abs(gs - ws) > 2e-6:
                return False
        cut = want[len(got) - 1][1] if got else None
        strict_g = {i for i, s in got if cut is None or abs(s - cut) > 2e-6}
        strict_w = {i for i, s in want[:len(got)] if cut is None or abs(s - cut) > 2e-6}
        return strict_g == strict_w

    def check(self) -> list[str]:
        if not self.recorded:
            return ["no probe completed"]
        with self.phase("check_reference"):
            ref = self._reference()
        pdf = ref[0]
        mids = pdf["media_id"].astype(int)
        by_id = dict(zip(mids, pdf["title"]))
        views = dict(zip(mids, pdf["views"]))
        prov = dict(zip(mids, pdf["provider"]))
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        ids = pdf["media_id"].to_numpy()
        row_of = {int(m): j for j, m in enumerate(ids)}
        out, hits = [], []
        for kind, args, result in self.recorded:
            if kind == "lookup":
                want = sorted((k, by_id[k]) for k in set(args) if k in by_id)
                ok = result == want
            elif kind == "vector":
                # every answer is a live item with its exact cosine, in
                # rank order; how often the perturbed item comes back
                # first (recall@1) is checked over all vector probes below,
                # and recall@k against the exact cosine top-k is reported
                # (IVF + PQ is approximate: no single probe must match)
                src, q = args
                q = np.asarray(q) / np.linalg.norm(q)
                cos = mat @ q
                exact = ids[np.argsort(-cos, kind="stable")[:TOP_K]].tolist()
                got = [m for m, _ in result]
                hits.append(bool(got) and got[0] == src == exact[0])
                self.notes.setdefault("vector_recall_at_k", []).append(
                    len(set(exact) & set(got)) / TOP_K
                )
                ok = len(got) == TOP_K and all(
                    m in row_of and abs(c - cos[row_of[m]]) < 2e-6 for m, c in result
                ) and [c for _, c in result] == sorted((c for _, c in result), reverse=True)
            else:
                terms, where = args
                allowed = None
                if where is not None:
                    col, val = re.match(r"(\w+) = '(.*)'", where).groups()
                    allowed = set(mids[pdf[col] == val])
                want = self._bm25(ref, terms, allowed)[:TOP_K]
                if kind == "bm25_popularity":
                    got_pairs = sorted(((m, s) for m, s, _ in result), key=lambda x: (-x[1], x[0]))
                    ok = self._same_topk(got_pairs, want, TOP_K) and all(
                        abs(p - views[m] / (views[m] + self.consts[prov[m]])) < 1e-9
                        for m, _, p in result
                    )
                else:
                    ok = self._same_topk(result, want, TOP_K)
            if not ok:
                out.append(f"{kind} probe mismatch: {str(args)[:120]}")
        if hits:
            self.notes["vector_self_hit"] = sum(hits) / len(hits)
            if sum(hits) < MIN_SELF_HIT * len(hits):
                out.append(f"vector recall@1 {sum(hits)}/{len(hits)} below {MIN_SELF_HIT}")
        return out


WORKLOADS = {w.name: w for w in (Ingest, Refresh, Serve)}
