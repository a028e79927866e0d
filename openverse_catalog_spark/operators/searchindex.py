"""Incrementally-maintained inverted index: the Spark-native stand-in
for the reference's Elasticsearch handoff.

The reference rebuilds its search index by re-shipping whole tables to
an external indexer per data refresh (data_refresh_task_factory.py:
183-240 — REINDEX then alias swap). This module keeps the index INSIDE
the lakehouse and maintains it from the base table's CHANGE FEED, so an
index refresh costs O(changed documents), never O(corpus):

* ``postings`` — a CoW lake table keyed ``(term, doc_id)`` holding per-
  document term frequencies AND positional postings (0-based offsets
  in the filtered token sequence — what exact-phrase queries verify
  against). Merge-key range clustering means posting files are
  term-ordered, so a query's ``read_pruned(terms)`` opens only the
  files whose term range can contain a query term — the same
  file-skipping dividend every other keyed read in the engine gets.
* ``doclen`` — a CoW table keyed ``doc_id`` with each document's token
  count (the BM25 length normalizer). A query handle memoizes it per
  doclen version (a committed manifest never changes, so version ``v``
  is exact until a refresh or compaction commits ``v + 1``): one
  driver-side Arrow read (:meth:`~.cowtable.CowTable.read_arrow`, no
  Spark job) into sorted numpy arrays, from which (N, avgdl) and every
  candidate's length come, or, for a doclen too big for the driver,
  one thin-table aggregate for (N, avgdl) alone.
* queries: a BM25 probe reads the term-pruned postings files on the
  driver with ``read_arrow`` and scores them there, returning its
  top-k as a local relation (no Spark job per probe; a filter costs
  one, the match-set ids' collect); only inputs past
  ``SearchIndex.DRIVER_MAX_ROWS`` rows keep a distributed
  window/join/aggregate plan. Phrase queries verify adjacency against
  the stored positions in Spark.
* a ``state.json`` recording the base version the index reflects.

The maintenance protocol (pending-span WAL, txn-fenced reconcile,
capped refresh, vacuum->resync) is the shared
:class:`~.incindex.IncrementalIndex`; this module contributes the
TOKENIZED net-transition: ``refresh()`` reduces the CDF span to a NET
per-document transition (old = the span's FIRST pre-image — the state
the index holds; new = the FINAL post-image, or nothing after a
trailing delete), tokenizes both from feed row images — the index
itself is never scanned to find what to remove — and reconciles in ONE
``merge_when`` commit per table (matched+gone -> DELETE, matched ->
UPDATE tf, unmatched+new -> INSERT).

Tokenization matches plans/search_queries.py (lowercase, [a-z]+ runs of
length >= 3) so index-served BM25 is oracle-comparable against a full
corpus scan.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.incindex import (
    IncrementalIndex,
    _spark_round,
    _spark_top,
)
from openverse_catalog_spark.session import literal_df

K1 = 1.2
B = 0.75


def _tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), "[^a-z]+"), lambda x: F.length(x) >= 3
    )


def _query_terms(text_or_terms) -> list[str]:
    """Query text (one string, or a list of strings) through the same
    tokenizer as :func:`_tokens`, in query order with duplicates kept
    (phrase slots need both; BM25 dedupes)."""
    if isinstance(text_or_terms, str):
        text_or_terms = [text_or_terms]
    return [
        run
        for t in text_or_terms
        for run in re.findall(r"[a-z]+", str(t).lower())
        if len(run) >= 3
    ]


def _postings_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf, positions) rows for a frame of documents.
    ``positions`` are 0-based offsets within the FILTERED token
    sequence (sub-3-char tokens never get a position — a phrase query
    therefore matches adjacency among indexed tokens, on both the
    index and the from-scratch oracle). Positions are row-local, so
    the CDF net-transition maintenance covers them for free: a changed
    doc's postings re-derive wholesale from its row image."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "term"),
    )
    return toks.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def _doclens_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl) for docs with >= 1 qualifying token. Token-less and
    NULL-text docs are EXCLUDED (size() of a null array is -1 with ANSI
    off): BM25's N and avgdl count indexed documents only, matching the
    full-scan definition where such docs never produce a dl row."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_tokens(F.col(text_col))).alias("dl"),
    ).filter(F.col("dl") > 0)


class SearchIndex(IncrementalIndex):
    """Inverted index over a documents CowTable, CDF-maintained."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(spark, root, base)
        self.id_col = id_col
        self.text_col = text_col
        self.postings = CowTable(
            spark, f"{self.root}/postings", keys=("term", "doc_id")
        )
        self.doclen = CowTable(
            spark, f"{self.root}/doclen", keys=("doc_id",)
        )
        self._stats: tuple[int, int, float | None] | None = None
        self._doclens: tuple | None = None  # (v, sorted ids, their dl)

    def _identity(self) -> dict:
        return {
            "base_root": self.base.root,
            "id_col": self.id_col,
            "text_col": self.text_col,
        }

    def _index_tables(self) -> list:
        return [("postings", self.postings), ("doclen", self.doclen)]

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        target_files: int = 8,
        version: int | None = None,
    ) -> "SearchIndex":
        """Build the index from a base snapshot (pin the version FIRST
        so a concurrent base write between the two scans cannot tear
        the build). ``version`` overrides the raw head — a catalog-
        managed base must pass its PINNED version, or the index would
        tokenize an unpublished (possibly aborted) head no catalog
        reader sees."""
        idx = cls(spark, root, base, id_col, text_col)
        v = base.version if version is None else int(version)
        snap = base.read(v)
        # independent tables, concurrent builds (guide §2.6); the
        # pinned-version read keeps both consistent regardless of order
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [
                ex.submit(
                    CowTable.create, spark, idx.postings.root,
                    _postings_of(snap, id_col, text_col),
                    keys=("term", "doc_id"), target_files=target_files,
                    # tokenize+aggregate lineage: don't run it twice
                    # for the range sample (cowtable checkpoint note)
                    checkpoint=True,
                ),
                ex.submit(
                    CowTable.create, spark, idx.doclen.root,
                    _doclens_of(snap, id_col, text_col),
                    keys=("doc_id",),
                    target_files=max(2, target_files // 2),
                    checkpoint=True,
                ),
            ]
            for f in futs:
                f.result()
        idx._write_state(v)
        return idx

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        allow_legacy: bool = False,
    ) -> "SearchIndex":
        """Attach an EXISTING persisted index (a new session resuming
        O(churn) maintenance — the whole point of persisting it).
        Validates the root holds one AND that it was built from THIS
        base table and these columns — binding a persisted index to a
        different table or column would serve wrong results and then
        corrupt the index at the first refresh.

        A PRE-METADATA state file (written before identity keys
        existed) has nothing recorded to verify against, and the next
        ``_write_state`` backfills the attach-time arguments —
        permanently legitimizing whatever binding this call made. So a
        legacy attach is SANITY-CHECKED instead of waved through: the
        claimed id/text columns must exist on the base, and a sample of
        the persisted doclen's doc_ids must occur in the base table.
        The overlap probe CAN false-refuse a correct-but-very-stale
        index whose sampled docs all churned out of the base since its
        last refresh; a caller who has verified the binding out of
        band passes ``allow_legacy=True`` to skip the probe (the
        column-existence check still applies)."""
        idx = cls(spark, root, base, id_col, text_col)
        if not os.path.exists(f"{idx.root}/state.json"):
            raise ValueError(
                f"{root!r} holds no search index (no state.json); "
                "build one with SearchIndex.create"
            )
        if idx._verify_identity():
            return idx
        # legacy state: verify the binding empirically before the next
        # state write backfills it as truth
        snap = base.read()
        missing = [c for c in (id_col, text_col) if c not in snap.columns]
        if missing:
            raise ValueError(
                f"legacy search index at {root!r}: base table "
                f"{base.root!r} has no column(s) {missing}; refusing "
                "the attach"
            )
        if allow_legacy:
            return idx
        # two actions: collect the sampled ids, then probe the base for
        # any of them (an empty index has nothing to refute)
        ids = [
            r[0]
            for r in idx.doclen.read().select("doc_id").limit(20).collect()
        ]
        if ids:
            hit = snap.select(id_col).where(F.col(id_col).isin(ids))
            if not hit.head(1):
                raise ValueError(
                    f"legacy search index at {root!r}: none of its "
                    f"sampled doc_ids occur in {base.root!r}.{id_col} "
                    "— either a wrong-table attach, or a correct index "
                    "so stale every sampled doc churned out; verify "
                    "the binding and re-open with allow_legacy=True"
                )
        return idx

    # -- maintenance --------------------------------------------------------

    def _apply_feed(self, feed: DataFrame, to_v: int) -> None:
        idc, txc = self.id_col, self.text_col

        # net transition per dirty doc over the span (old = the FIRST
        # pre-image — the state the index holds; new = the LAST
        # post-state, unless the final event deletes): ONE keyed
        # aggregation, checkpointed once for its consumers — the
        # former two-window formulation shuffled the feed twice and
        # materialized two separate checkpoints
        from openverse_catalog_spark.operators.incindex import (
            net_feed_transitions,
        )

        net = net_feed_transitions(feed, idc, txc).localCheckpoint(
            eager=False
        )
        has_old = F.col("__old").isNotNull()
        new_live = F.col("__new").isNotNull() & ~F.col("__new.del")

        # FUSED postings diff (guide §2.3: aggregate before you
        # shuffle, once): the former shape ran TWO (term, doc_id)
        # aggregations — postings of the old images, postings of the
        # new — and full-outer-joined them, so the tokenized pairs
        # crossed three Exchanges. Tokenizing both sides tagged and
        # aggregating ONCE yields the identical diff rows (tf/positions
        # from the new side; a pair with only old-side tokens nets tf
        # NULL -> DELETE) through a single Exchange.
        old_toks = net.filter(has_old).select(
            F.col(idc).alias("doc_id"),
            F.lit(False).alias("__new_side"),
            F.posexplode(_tokens(F.col("__old.p"))).alias("pos", "term"),
        )
        new_toks = net.filter(new_live).select(
            F.col(idc).alias("doc_id"),
            F.lit(True).alias("__new_side"),
            F.posexplode(_tokens(F.col("__new.p"))).alias("pos", "term"),
        )
        pairs = old_toks.unionByName(new_toks).groupBy(
            "term", "doc_id"
        ).agg(
            F.count(F.when(F.col("__new_side"), 1)).alias("__ntf"),
            F.sort_array(
                F.collect_list(F.when(F.col("__new_side"), F.col("pos")))
            ).alias("__npos"),
        )
        live = F.col("__ntf") > 0
        src = pairs.select(
            "term", "doc_id",
            F.when(live, F.col("__ntf")).alias("tf"),
            F.when(live, F.col("__npos")).alias("positions"),
        )
        # FUSED doclen diff: the former old_ids x new_lens full-outer
        # join re-derived both sides from the same net frame — the
        # diff is a pure projection of it (docs the index holds OR docs
        # gaining a positive token count; dl NULL -> DELETE)
        dl0 = F.when(new_live, F.size(_tokens(F.col("__new.p"))))
        lsrc = (
            net.select(
                F.col(idc).alias("doc_id"),
                dl0.alias("__dl0"),
                has_old.alias("__has_old"),
            )
            .filter(F.col("__has_old") | (F.col("__dl0") > 0))
            .select(
                "doc_id",
                F.when(F.col("__dl0") > 0, F.col("__dl0")).alias("dl"),
            )
        )
        self._merge_src(src, lsrc, to_v)

    def _reconcile(
        self,
        old_ids: DataFrame,
        old_p: DataFrame,
        new_p: DataFrame,
        new_l: DataFrame,
        to_v: int,
    ) -> None:
        """Resync reconcile (old side comes from an index scan, so the
        fused single-pass diff of ``_apply_feed`` does not apply): the
        classic full-outer diff of old vs new postings/doclens, fed to
        the same pair of txn-fenced merges."""
        src = (
            new_p.withColumnRenamed("tf", "new_tf")
            .withColumnRenamed("positions", "new_positions")
            .join(old_p.select("term", "doc_id"), ["term", "doc_id"],
                  "full")
            .select(
                "term", "doc_id", F.col("new_tf").alias("tf"),
                F.col("new_positions").alias("positions"),
            )
        )
        lsrc = (
            old_ids
            .join(new_l.withColumnRenamed("dl", "new_dl"),
                  ["doc_id"], "full")
            .select("doc_id", F.col("new_dl").alias("dl"))
        )
        self._merge_src(src, lsrc, to_v)

    def _merge_src(
        self, src: DataFrame, lsrc: DataFrame, to_v: int
    ) -> None:
        """One merge_when per index table, txn-fenced on the span end so
        a replayed span txn-skips instead of double-applying. The two
        merges target INDEPENDENT tables fed by the same checkpointed
        net transition, so they run CONCURRENTLY from a 2-thread pool
        (guide §2.6: actions are only sequential because driver code
        calls them sequentially) — the doclen commit's fixed costs hide
        under the postings commit's. Crash/failure semantics are
        unchanged: the pending-span WAL replays the span and each
        merge's txn fence skips the half that already landed, exactly
        as for a crash between the formerly-sequential merges."""
        from concurrent.futures import ThreadPoolExecutor

        def _postings() -> None:
            self.postings.merge_when(
                src,
                update_set={"tf": "s.tf", "positions": "s.positions"},
                delete_cond="s.tf IS NULL",
                insert=True,
                insert_cond="s.tf IS NOT NULL",
                check_duplicate_keys=False,  # key-unique by construction
                txn_app="searchindex-postings",
                txn_version=to_v,
            )

        def _doclen() -> None:
            self.doclen.merge_when(
                lsrc,
                update_set={"dl": "s.dl"},
                delete_cond="s.dl IS NULL",
                insert=True,
                insert_cond="s.dl IS NOT NULL",
                check_duplicate_keys=False,
                txn_app="searchindex-doclen",
                txn_version=to_v,
            )

        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(_postings), ex.submit(_doclen)]
            for f in futs:
                f.result()

    def _full_resync(self, to_v: int) -> None:
        """Rebuild the index CONTENT from the base snapshot at ``to_v``
        through the same reconcile merges (old = everything currently
        indexed — the one case that legitimately scans the index)."""
        snap = self.base.read(to_v)
        self._reconcile(
            self.doclen.read().select("doc_id"),
            self.postings.read().select("term", "doc_id"),
            _postings_of(snap, self.id_col, self.text_col),
            _doclens_of(snap, self.id_col, self.text_col),
            to_v,
        )

    def posting_stats(self) -> dict:
        """Posting-length telemetry, the lexical twin of the vector
        index's ``list_stats``: (terms, max_df, median_df, skew =
        max/median). BM25/phrase cost tracks the query terms' posting
        sizes — the honest inverted-index bound — so a corpus whose
        vocabulary Zipf-curve puts a stop-word-like term in every
        document shows up HERE before it shows up as a slow query.
        Unlike list skew this is not healable by re-clustering (term
        assignment is the text, not a centroid choice); the operational
        responses are query-side (prune/require rarer terms) or
        schema-side (stop-term policies at ingest). One column-pruned
        aggregate over the postings table's term column — positions,
        tf, doc ids are never read; C rows reduce to one."""
        row = (
            self.postings.read()
            .groupBy("term").count()
            .agg(
                F.count("*").alias("terms"),
                F.max("count").alias("max_df"),
                F.expr("percentile(count, 0.5)").alias("median_df"),
            )
            .head()
        )
        if row is None or row["terms"] is None or row["terms"] == 0:
            return {"terms": 0, "max_df": 0,
                    "median_df": 0.0, "skew": 0.0}
        med = float(row["median_df"])
        return {
            "terms": int(row["terms"]),
            "max_df": int(row["max_df"]),
            "median_df": med,
            "skew": float(row["max_df"]) / med if med else float("inf"),
        }

    # -- query --------------------------------------------------------------

    def _match_set(self, where: str) -> DataFrame:
        """Pre-filter match set for FILTERED retrieval: ids of base
        rows satisfying the predicate, resolved at the index's APPLIED
        version (what the postings reflect). Column-pruned to
        (predicate cols -> id), so the filter and projection push into
        the parquet scan."""
        return (
            self.base.read(self.applied_version)
            .where(where)
            .select(F.col(self.id_col).alias("doc_id"))
        )

    # the driver scores a probe when the doclen table and the postings
    # files the query terms admit each hold at most this many rows: at
    # the cap the doclen memo is ~12 MB of numpy arrays and the collected
    # postings a few tens of MB of Arrow; bigger inputs keep the
    # distributed plan
    DRIVER_MAX_ROWS = 1_000_000

    def _corpus_stats(
        self, v: int, lens: bool = False
    ) -> tuple[int, int, float | None]:
        """``(v, N, avgdl)`` of the doclen table at version ``v``.
        Manifests are immutable, so the totals of version ``v`` are
        exact for as long as ``v`` is the head; any refresh or
        compaction (through this handle or another) commits a new
        version and the next call recomputes. One entry per handle.

        ``lens`` also memoizes the version's ``(doc_id, dl)`` pairs as
        numpy arrays sorted by doc_id (``self._doclens``, for the
        driver-side scorer): one ``read_arrow`` of the version's files
        instead of the aggregate, so a doclen version change costs no
        Spark job, and N and avgdl derive from it exactly as Spark's
        ``count`` and ``avg`` of an integer column do (a double sum of
        integers is exact below 2**53)."""
        if lens and (self._doclens is None or self._doclens[0] != v):
            t = self.doclen.read_arrow(["doc_id", "dl"], version=v)
            ids = t.column("doc_id").to_numpy()
            dls = t.column("dl").to_numpy()
            order = np.argsort(ids, kind="stable")
            self._doclens = (v, ids[order], dls[order])
            n = len(ids)
            total = int(dls.sum(dtype=np.int64))
            self._stats = (v, n, total / n if n else None)
        elif self._stats is None or self._stats[0] != v:
            row = self.doclen.read(v).agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).head()
            self._stats = (v, int(row["n"]), row["avgdl"])
        return self._stats

    def bm25(
        self, terms: list[str], k: int, where: str | None = None
    ) -> DataFrame:
        """Top-k BM25 served FROM THE INDEX: the corpus is never
        tokenized at query time. Postings files are pruned by the term
        key range; (N, avgdl) come from the per-doclen-version memo of
        :meth:`_corpus_stats`. Returns ``(doc_id, score)`` rows ranked
        by ``score`` desc, ``doc_id`` asc, where ``score`` is the
        doc's BM25 sum rounded to 6 decimals.

        A probe whose doclen table and admitted postings files each
        hold at most ``DRIVER_MAX_ROWS`` rows (sizes the manifests
        record; no scan decides it) is scored ON THE DRIVER: the
        admitted postings files are read with
        :meth:`~.cowtable.CowTable.read_arrow` (no Spark job), df, idf,
        per-doc sums and the exact top-k are numpy work against the
        memoized doclen arrays, and the k rows come back as a local
        relation, so a plain probe runs no Spark job at all.
        Bigger inputs keep the distributed plan: df from one window
        count over the pruned postings, a doclen join, a per-doc
        aggregate and TakeOrdered. Both paths return the same rows,
        order and score doubles.

        Query terms pass through the SAME tokenizer the index applied
        at build time (lowercase, [a-z] runs of length >= 3), so
        ``bm25(['Spark'])`` finds the indexed 'spark' instead of
        silently matching nothing; terms the tokenizer would never
        index drop out here too (they cannot have postings).

        ``where`` runs a FILTERED search (ES-style filter context —
        the reference's index consumers filter by license/provider on
        every request): the predicate pre-filters against the BASE at
        the applied version and only matching candidates are scored
        (on the driver path the match set's ids are the probe's one
        Spark job). Corpus statistics (idf, N, avgdl) stay CORPUS-WIDE
        — the Lucene/ES convention: a filter restricts candidates, it
        does not re-weigh term rarity."""
        qt = list(dict.fromkeys(_query_terms(terms)))
        v = self.doclen.version
        docs = self.doclen.live_rows(v)
        if not qt or docs == 0:
            return self.doclen.read(v).select(
                "doc_id", F.lit(0.0).alias("score")
            ).where(F.lit(False))
        pv = self.postings.version
        admitted = sum(
            e["rows"] for e in self.postings.pruned_entries(qt, pv)
        )
        if max(docs, admitted) <= self.DRIVER_MAX_ROWS:
            return self._bm25_local(qt, k, where, v, pv)
        return self._bm25_spark(qt, k, where, v, pv)

    def _bm25_local(
        self, qt: list[str], k: int, where: str | None, v: int, pv: int
    ) -> DataFrame:
        """Driver-side scorer of :meth:`bm25` over the postings rows
        ``read_arrow`` reads: the same arithmetic as the Spark plan, in
        the same operation order, so the doubles agree bit for bit —
        idf through the JVM's ``StrictMath.log`` (Spark's ``log``; libm
        and numpy differ in the last bit), and the 6-decimal rounding
        of :func:`~.incindex._spark_round`. A filtered probe collects
        the match set's ids once and keeps the postings of those docs
        (``np.isin``); df is taken before, over every posting."""
        _, n, avgdl = self._corpus_stats(v, lens=True)
        ids, dls = self._doclens[1:]
        # read_arrow applies the exact residual IN itself; a NULL id
        # neither counts in the window's count(doc_id) nor joins
        t = self.postings.read_arrow(["term", "doc_id", "tf"], qt, pv)
        t = t.filter(pc.is_valid(t.column("doc_id")))
        terms = t.column("term").to_numpy()
        docs = t.column("doc_id").to_numpy()
        tf = t.column("tf").to_numpy().astype(np.float64)
        uterms, tidx = np.unique(terms, return_inverse=True)
        # (term, doc_id) is the postings merge key: a term's rows are
        # its distinct docs, so its row count is its df
        log = self.spark._jvm.java.lang.StrictMath.log
        idf = np.array([
            log(1.0 + ((n - df) + 0.5) / (df + 0.5))
            for df in np.bincount(tidx, minlength=len(uterms)).tolist()
        ])
        # each posting's dl by binary search in the memo; a posting
        # with no doclen row counted in df but is not scored (the
        # Spark plan's inner dl join)
        pos = np.minimum(np.searchsorted(ids, docs), len(ids) - 1)
        keep = ids[pos] == docs
        if where is not None:
            # df above stays corpus-wide; only matching docs are scored
            match = self._match_set(where).toArrow().column("doc_id")
            keep &= np.isin(docs, pc.drop_null(match).to_numpy())
        tf, dl = tf[keep], dls[pos[keep]].astype(np.float64)
        term_score = (
            idf[tidx[keep]] * tf * (K1 + 1.0)
            / (tf + K1 * (1.0 - B + B * dl / avgdl))
        )
        udocs, didx = np.unique(docs[keep], return_inverse=True)
        raw = np.bincount(didx, weights=term_score, minlength=len(udocs))
        top = _spark_top(udocs, raw, k, 6)
        rows = list(zip(
            udocs[top].tolist(), [_spark_round(raw[i], 6) for i in top]
        ))
        id_type = self.postings._schema(self.postings._manifest(pv))[
            "doc_id"
        ].dataType.simpleString()
        schema = f"doc_id {id_type}, score double"
        if not rows:  # an empty createDataFrame would still run a job
            return literal_df(self.spark, [(None, None)], schema).where(
                F.lit(False)
            )
        return literal_df(self.spark, rows, schema)

    def _bm25_spark(
        self, qt: list[str], k: int, where: str | None, v: int, pv: int
    ) -> DataFrame:
        """Distributed plan of :meth:`bm25` for inputs too big to hold
        on the driver: each term's doc-frequency is one window count
        over the pruned postings and idf is computed inline from it;
        (N, avgdl) are literals; the final top-k is TakeOrdered."""
        _, n, avgdl = self._corpus_stats(v)
        dl = self.doclen.read(v)
        # read_pruned appends the exact residual IN filter itself — the
        # pruned read is already filtered, not just file-skipped.
        # count == countDistinct per term: (term, doc_id) is the
        # postings merge key, so a term's rows are its distinct docs
        post = self.postings.read_pruned(qt, pv).withColumn(
            "df", F.count("doc_id").over(Window.partitionBy("term"))
        )
        cand = post
        if where is not None:
            # candidates restricted BEFORE scoring; df above was taken
            # over the unfiltered postings (corpus-wide term rarity).
            # INNER join, not semi: the match frame is unique on doc_id
            # and single-column, so the joins are equivalent — but
            # inner leaves the optimizer free to broadcast the SMALL
            # term-pruned postings side into the streaming predicate
            # scan when the filter is non-selective (a semi-join could
            # only broadcast the match side, which for a 90% filter is
            # most of the corpus)
            cand = post.join(self._match_set(where), "doc_id")
        idf = F.log(1.0 + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
        scored = (
            cand.join(dl, "doc_id")
            .select(
                "doc_id",
                (
                    idf * F.col("tf") * (K1 + 1.0)
                    / (
                        F.col("tf")
                        + K1 * (1.0 - B + B * F.col("dl") / avgdl)
                    )
                ).alias("term_score"),
            )
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), 6).alias("score"))
        )
        return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)

    def phrase(
        self, text: str, k: int, where: str | None = None
    ) -> DataFrame:
        """Top-k EXACT-PHRASE match served from the positional
        postings: candidate docs come from the term-range-pruned
        postings of the phrase's terms only (the corpus is never
        re-tokenized), adjacency verifies against the stored positions
        — token i of the phrase must sit at offset (start + i) for one
        shared start. Returns (doc_id, hits) where hits counts the
        phrase's occurrences, ranked hits desc with a doc_id tie-break.

        The phrase passes through the index tokenizer, so sub-3-char
        words carry no position: '"spark of fire"' matches docs where
        'spark' and 'fire' are adjacent among INDEXED tokens — the same
        definition a from-scratch scan of the filtered token sequence
        yields. The join against a broadcast (term, slot) frame keys
        the postings read on the phrase's terms; cost ~ the phrase
        terms' posting sizes, independent of corpus size.

        ``where`` pre-filters candidates against the BASE table at the
        applied version (same contract as ``bm25(where=)``)."""
        qt = _query_terms(text)
        if not qt:
            raise ValueError(
                f"phrase {text!r} has no indexable terms (tokenizer "
                "keeps [a-z]+ runs of length >= 3)"
            )
        slots = literal_df(
            self.spark,
            [(t, i) for i, t in enumerate(qt)], "term string, slot int"
        )
        post = self.postings.read_pruned(sorted(set(qt)))
        if where is not None:
            # inner == semi (unique single-column match frame); see
            # bm25(where=) for why inner is the scale-safe choice
            post = post.join(self._match_set(where), "doc_id")
        occ = (
            post.join(F.broadcast(slots), "term")
            .select(
                "doc_id", "slot", F.explode("positions").alias("pos")
            )
            .select(
                "doc_id", "slot",
                (F.col("pos") - F.col("slot")).alias("start"),
            )
            .groupBy("doc_id", "start")
            .agg(F.countDistinct("slot").alias("nslots"))
            .filter(F.col("nslots") == len(qt))
            .groupBy("doc_id")
            .agg(F.count("*").alias("hits"))
        )
        return occ.orderBy(F.col("hits").desc(), "doc_id").limit(k)
