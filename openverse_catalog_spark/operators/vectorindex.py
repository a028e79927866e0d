"""Incrementally-maintained IVF vector index: the ANN twin of the
inverted text index (:mod:`.searchindex`), giving the persisted IVF
layout (:func:`~.knn.ivf_build_index`) the same lakehouse lifecycle —
CDF-driven refresh, crash-safe WAL, catalog pinning, SQL surface.

Layout:

* ``lists`` — a CoW lake table keyed ``(centroid_id, neighbor_id)``
  holding each corpus vector under its nearest centroid. Merge-key
  range clustering means list files are centroid-ordered, so a probe's
  ``read_pruned(probed_centroids)`` opens only the files whose
  centroid range can contain a probed list — the index is never
  scanned whole.
* ``centroids`` — a small parquet of the deterministic sampled
  centroids (``id % centroid_mod == 0``, same math as
  :func:`~.knn.ivf_topk`), broadcast for assignment GEMMs. Frozen
  per epoch: IVF practice (FAISS add-with-ids) keeps centroids fixed
  between rebuilds, which is what keeps every incremental step — and
  the SQL oracle — exactly replayable. Under corpus drift hot lists
  grow; ``list_stats()`` (surfaced by ``SHOW INDEXES``) measures the
  skew and ``recluster()`` / ``REINDEX VECTOR INDEX`` heals it by
  re-sampling centroids at the current corpus and swapping in the
  rebuilt lists as one atomic epoch re-point.
* ``state.json`` — the applied base version + identity metadata
  (shared :class:`~.incindex.IncrementalIndex` protocol).

``refresh()`` reduces the base's CDF span to a NET per-vector
transition: old assignments are recomputed from feed PRE-IMAGES (the
index is never scanned to find what to remove — the same GEMM that
assigned them at create, against the frozen centroids, reproduces the
stored keys exactly), new assignments from the FINAL post-images, and
ONE txn-fenced ``merge_when`` reconciles the lists (moved vector ->
DELETE old list entry + INSERT new one; updated-in-place -> UPDATE;
deleted -> DELETE). Cost O(changed vectors) per refresh; a vacuumed
span falls back to one full resync.

PQ MODE (``create(pq_m=m)``) stores each list entry as ``m`` ordinal
codes instead of the raw vector — FAISS's IVFPQ, the layout a
billion-vector corpus actually needs (~64x fewer probe-scan bytes for
64-dim float64 at m=8). Codebooks are the deterministic id-sampled
normalized sub-vectors (:func:`~.knn._pq_codebooks`), frozen at create
like the centroids, so incremental encodes replay exactly and the SQL
oracle can reproduce every stage. Probes score by ADC (per-subspace
query-codeword dot lookups over the pruned code lists) and exactly
re-rank only the top-shortlist candidates against the BASE table's raw
vectors at the index's applied version — the index itself never stores
a raw vector. A batch ``probe`` runs ADC as a Python pass against the
broadcast codebooks; a single-vector ``search`` builds the query's
lookup table on the driver (FAISS's per-query ADC table) and scores
on the driver from two driver-side Arrow reads
(:meth:`~.cowtable.CowTable.read_arrow`), so it runs no Spark job: the
probed codes, then the shortlisted base vectors; the top k return as a
local relation.

The reference has no vector index (its search handoff is lexical
Elasticsearch, ``data_refresh_task_factory.py:183-240``); this is the
similarity-search half a training-data engine needs, given the same
first-class treatment r8 gave the text index.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openverse_catalog_spark.operators.cowtable import CowTable
from openverse_catalog_spark.operators.incindex import (
    IncrementalIndex,
    _spark_round,
    _spark_top,
)
from openverse_catalog_spark.operators.knn import (
    MAX_BROADCAST_QUERIES,
    _adc_generator,
    _as_double,
    _load_codebook_tensor,
    _pq_codebooks,
    _pq_encode,
    _stack_normalized,
    _write_codebooks,
    cosine_expr,
)
from openverse_catalog_spark.session import literal_df


def _sample_centroids(
    spark: SparkSession,
    snap: DataFrame,
    id_col: str,
    vec_col: str,
    mod: int,
) -> tuple[DataFrame, int]:
    """The deterministic ``id % mod == 0`` centroid sample as a
    DRIVER-LOCAL (centroid_id, vector) frame, plus its count. ONE
    bounded collect: the former count-probe / learned-seed collect /
    centroids write each re-scanned the corpus for the same <= 4096
    rows (guide §1.2 — don't compute things twice). Raises on an empty
    or over-cap sample exactly like the probes it replaces. File order
    of the eventual centroids write changes (collect order vs scan
    order); every reader sorts by centroid_id, so nothing observes it."""
    cents = snap.filter(F.col(id_col) % mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("vector"),
    )
    rows = cents.limit(MAX_BROADCAST_QUERIES + 1).collect()
    if not rows:
        raise ValueError(f"no centroids: no {id_col} % {mod} == 0 rows")
    if len(rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"centroid count exceeds {MAX_BROADCAST_QUERIES}; raise "
            "centroid_mod (C should grow ~sqrt(n), not n)"
        )
    return spark.createDataFrame(rows, cents.schema), len(rows)


def _vec_literal(spark: SparkSession, values) -> Column:
    """``values`` as ONE typed ``array<double>`` literal — a query
    vector or ADC lookup table that a single-vector search puts into
    its plan. The doubles cross to the JVM as one byte buffer, a
    constant handful of py4j calls at any length: ``F.lit`` of a numpy
    array fills the Java array with one py4j call per element, and
    ``F.array`` of per-element ``F.lit`` also puts one literal
    expression per element into the plan."""
    import numpy as np

    raw = np.asarray(values, dtype=">f8")  # ByteBuffer's byte order
    jvm = spark._jvm
    arr = spark.sparkContext._gateway.new_array(jvm.double, len(raw))
    jvm.java.nio.ByteBuffer.wrap(raw.tobytes()).asDoubleBuffer().get(arr)
    return Column(jvm.org.apache.spark.sql.functions.lit(arr))


def _cosines(q, vectors):
    """``cosine_expr(q, v)`` of every Arrow list ``v`` in ``vectors``
    (a ``list<double>`` column) with the JVM expression's operation
    order, so the doubles are Spark's: dot and squared norms are
    sequential ``acc + x * y`` sums from 0.0, then ``dot / (|q| *
    |v|)``. Returns ``(cosine, null)`` numpy arrays; ``null`` marks what
    Spark gives NULL: a NULL vector, a NULL element, a length other
    than ``len(q)`` (``zip_with`` pads with NULLs) and a zero divisor
    (non-ANSI divide by zero)."""
    import numpy as np
    import pyarrow.compute as pc

    col = vectors.combine_chunks()
    d = len(q)
    lens = pc.list_value_length(col).fill_null(-1).to_numpy()
    ok = lens == d
    # row i's elements start at the summed lengths before it (flatten
    # drops NULL lists)
    starts = np.cumsum(np.maximum(lens, 0)) - np.maximum(lens, 0)
    pos = starts[ok][:, None] + np.arange(d)
    flat = col.flatten()
    vals = flat.fill_null(0.0).to_numpy()[pos]
    elem_null = flat.is_null().to_numpy(zero_copy_only=False)[pos]
    dot = np.zeros(len(pos))
    sq = np.zeros(len(pos))
    qq = 0.0
    for j in range(d):
        x = vals[:, j]
        dot = dot + q[j] * x
        sq = sq + x * x
        qq = qq + q[j] * q[j]
    den = np.sqrt(qq) * np.sqrt(sq)
    with np.errstate(divide="ignore", invalid="ignore"):
        c = dot / den
    cos = np.zeros(len(lens))
    null = ~ok
    cos[ok] = c
    null[ok] = elem_null.any(axis=1) | (den == 0.0)
    return cos, null


# every single-vector search's result, whatever the base key's type
_RESULT = "neighbor_id long, cosine double"
# the lists columns a PQ ranking reads
_PQ_CANDIDATES = ["neighbor_id", "centroid_id", "codes"]


def _rank_vectors(t, q, k: int) -> list[tuple]:
    """The first ``k`` ``(neighbor_id, cosine)`` rows of the Arrow
    table ``t`` of ``(neighbor_id, vector)`` rows as the JVM ranking
    orders them: :func:`_cosines` against ``q``, ranked by
    (round(cosine, 9) desc, neighbor_id) with NaN first and NULL last,
    cosine rounded to 6."""
    ids = t.column("neighbor_id").to_numpy()
    cos, null = _cosines(q, t.column("vector"))
    top = _spark_top(ids, cos, k, 9, null)
    return list(zip(ids[top].tolist(), [
        None if null[i] else _spark_round(cos[i], 6) for i in top
    ]))


class VectorIndex(IncrementalIndex):
    """Persisted IVF index over an embeddings CowTable, CDF-maintained."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(spark, root, base)
        if tuple(base.keys) != (id_col,):
            # the PQ re-rank fetch (read_pruned by neighbor ids), feed
            # grouping, and manifest pruning all key on the BASE table's
            # merge key — a mismatched id_col would silently fetch
            # nothing (or the wrong rows) on re-rank. The SQL facade
            # enforces this alignment; the direct API must too.
            raise ValueError(
                f"vector index id_col {id_col!r} must be the base "
                f"table's single merge key (base keys: {base.keys})"
            )
        self.id_col = id_col
        self.vec_col = vec_col

    # -- epoch layout -----------------------------------------------------
    #
    # recluster() rebuilds centroids + lists as a NEW EPOCH directory
    # and re-points state.json atomically (the index's own publish
    # swap); epoch 0 is the legacy bare layout (lists/, centroids/,
    # codebooks/ directly under root), epoch N>0 lives under root/eN/.

    @property
    def epoch(self) -> int:
        e = getattr(self, "_epoch", None)
        if e is None:
            try:
                e = int(self._state().get("epoch", 0))
            except FileNotFoundError:
                e = 0
            self._epoch = e
        return e

    def _edir(self, epoch: int | None = None) -> str:
        e = self.epoch if epoch is None else epoch
        return self.root if e == 0 else f"{self.root}/e{e}"

    @property
    def lists(self) -> CowTable:
        """The current epoch's inverted-lists CoW table (re-resolved
        after a recluster swaps epochs)."""
        cur = getattr(self, "_lists", None)
        if cur is None or getattr(self, "_lists_epoch", -1) != self.epoch:
            cur = CowTable(
                self.spark, f"{self._edir()}/lists",
                keys=("centroid_id", "neighbor_id"),
            )
            self._lists = cur
            self._lists_epoch = self.epoch
        return cur

    def _identity(self) -> dict:
        return {
            "base_root": self.base.root,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    def _index_tables(self) -> list:
        return [("lists", self.lists)]

    # -- centroids --------------------------------------------------------

    def _centroid_matrix(self):
        """(ids, normalized matrix) of the frozen centroid set,
        MEMOIZED on the handle: centroids never change within an epoch
        (``recluster`` swaps epochs and drops these memos), so one
        parquet load
        serves every assignment GEMM, probe, and refresh this handle
        ever runs — a refresh's old- and new-image assignments share
        it instead of loading and broadcasting twice."""
        cached = getattr(self, "_cents", None)
        if cached is None:
            pdf = (
                self.spark.read.parquet(f"{self._edir()}/centroids")
                .toPandas()
                .sort_values("centroid_id")
            )
            cached = _stack_normalized(pdf, "centroid_id", "vector")
            self._cents = cached
        return cached

    def _centroid_broadcast(self):
        """One broadcast of the frozen centroid matrix per handle —
        shared by every assignment/probe GEMM."""
        bc = getattr(self, "_cents_bc", None)
        if bc is None:
            bc = self.spark.sparkContext.broadcast(self._centroid_matrix())
            self._cents_bc = bc
        return bc

    @property
    def pq_m(self):
        """PQ subspace count, or None for a raw-vector index —
        recorded in state.json at create, immutable after."""
        mod = getattr(self, "_pq_m", -1)
        if mod == -1:
            try:
                mod = self._state().get("pq_m")
            except FileNotFoundError:
                mod = None
            self._pq_m = mod
        return mod

    @property
    def pq_residual(self) -> bool:
        """True when PQ codes quantize x - c(x) (FAISS residual
        encoding) instead of raw normalized vectors."""
        r = getattr(self, "_pq_res", -1)
        if r == -1:
            try:
                r = bool(self._state().get("pq_residual", False))
            except FileNotFoundError:
                r = False
            self._pq_res = r
        return r

    def _payload_col(self) -> str:
        return "codes" if self.pq_m else "vector"

    def _codebook_tensor(self):
        """(n_k, m, dsub) PQ codebook tensor, memoized (frozen at
        create like the centroids) — the shared knn loader, so the
        on-disk layout exists once."""
        cb = getattr(self, "_cb", None)
        if cb is None:
            cb = _load_codebook_tensor(self.spark, self._edir())
            self._cb = cb
        return cb

    def _pq_broadcast(self):
        """One broadcast of (centroid ids, normalized centroid
        matrix, codebook tensor) per handle — shared by every PQ
        assignment/encode GEMM and every ADC pass, mirroring
        _centroid_broadcast: an unattended per-tick maintenance loop
        must not accumulate a fresh broadcast per refresh."""
        bc = getattr(self, "_pq_bc", None)
        if bc is None:
            bc = self.spark.sparkContext.broadcast(
                (*self._centroid_matrix(), self._codebook_tensor())
            )
            self._pq_bc = bc
        return bc

    def _assign(self, docs: DataFrame) -> DataFrame:
        """Nearest-centroid assignment of a frame of vectors: one GEMM
        per Arrow batch against the broadcast centroid matrix — cost
        proportional to the BATCH, the corpus is never touched. PQ mode
        additionally encodes each vector to its per-subspace codes (the
        frozen codebooks replay the stored codes exactly, so feed
        pre-images reproduce what the index holds)."""
        idc, vcc = self.id_col, self.vec_col
        if not self.pq_m:
            bc = self._centroid_broadcast()

            def assign_gen(batches):
                import numpy as np
                import pandas as pd

                b_ids, b_mat = bc.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    ids, mat = _stack_normalized(pdf, idc, vcc)
                    # round before argmax (the _pq_encode ULP guard):
                    # refresh re-derives stored keys by re-running this
                    # GEMM on feed pre-images, so a near-tie flipped by
                    # a different BLAS build (index created on one host,
                    # refreshed on another) would miss the DELETE and
                    # strand a stale entry in the old list
                    best = np.round(mat @ b_mat.T, 9).argmax(axis=1)
                    yield pd.DataFrame(
                        {
                            "centroid_id": b_ids[best],
                            "neighbor_id": ids,
                            "vector": pdf[vcc].to_numpy(),
                        }
                    )

            return _as_double(docs, vcc).select(idc, vcc).mapInPandas(
                assign_gen,
                "centroid_id long, neighbor_id long, vector array<double>",
            )
        bc = self._pq_broadcast()
        residual = self.pq_residual

        def encode_gen(batches):
            import numpy as np
            import pandas as pd

            b_ids, b_mat, b_cb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids, mat = _stack_normalized(pdf, idc, vcc)
                # rounded-argmax: see assign_gen
                best = np.round(mat @ b_mat.T, 9).argmax(axis=1)
                enc = mat - b_mat[best] if residual else mat
                codes = _pq_encode(enc, b_cb)
                yield pd.DataFrame(
                    {
                        "centroid_id": b_ids[best],
                        "neighbor_id": ids,
                        "codes": list(codes),
                    }
                )

        return _as_double(docs, vcc).select(idc, vcc).mapInPandas(
            encode_gen,
            "centroid_id long, neighbor_id long, codes array<int>",
        )

    def _assign_keys(self, docs: DataFrame) -> DataFrame:
        """(centroid_id, neighbor_id) only — what feed PRE-IMAGES
        need. The payload never crosses the Arrow boundary (mapInPandas
        output cannot be column-pruned, so a select-after would still
        ship every old vector/code): raw mode skips copying the vector
        column, PQ mode additionally skips the per-subspace codeword
        search — m BLAS matmuls per batch for codes that would be
        immediately dropped."""
        idc, vcc = self.id_col, self.vec_col
        bc = (
            self._pq_broadcast() if self.pq_m
            else self._centroid_broadcast()
        )

        def assign_only_gen(batches):
            import numpy as np
            import pandas as pd

            b_ids, b_mat = bc.value[0], bc.value[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids, mat = _stack_normalized(pdf, idc, vcc)
                # rounded-argmax: see assign_gen
                best = np.round(mat @ b_mat.T, 9).argmax(axis=1)
                yield pd.DataFrame(
                    {"centroid_id": b_ids[best], "neighbor_id": ids}
                )

        return _as_double(docs, vcc).select(idc, vcc).mapInPandas(
            assign_only_gen, "centroid_id long, neighbor_id long"
        )

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroid_mod: int = 40,
        target_files: int = 8,
        version: int | None = None,
        pq_m: int | None = None,
        codebook_mod: int = 25,
        pq_residual: bool = False,
        learned: int = 0,
    ) -> "VectorIndex":
        """Build the index from a base snapshot (pin the version FIRST
        so a concurrent base write between the centroid scan and the
        assignment scan cannot tear the build). ``version`` overrides
        the raw head — a catalog-managed base must pass its PINNED
        version. Centroids are the deterministic
        ``id % centroid_mod == 0`` sample (C should grow ~sqrt(n));
        they freeze at create and every later assignment — incremental
        or resync — runs against them, so incremental == rebuilt-from-
        scratch for fixed centroids. ``recluster()`` re-samples them
        at the current corpus (drift/skew heal) as an atomic epoch
        swap; ``list_stats()`` tells you when.

        ``learned=N`` refines the sampled seeds with N Lloyd rounds of
        spherical k-means on the unit-normalized snapshot BEFORE
        anything derives from them (codebooks in PQ/residual mode train
        against the learned centroids; lists assign to them) — the
        create-time twin of ``recluster(learned=N)``, for corpora whose
        clustering is known up front. Learned centroids get ordinal ids
        0..C-1 and freeze exactly like sampled ones, so the
        incremental == rebuilt contract is unchanged.

        ``pq_m`` switches the index to PQ MODE: list entries store m
        ordinal codes instead of raw vectors (the 100 TB layout),
        codebooks sampled ``id % codebook_mod == 0`` and frozen like
        the centroids. Probes then ADC-score codes and exactly re-rank
        a shortlist against the base table. ``pq_residual`` trains the
        codebooks on (and encodes) ``x - c(x)`` — FAISS's IVFPQ
        residual encoding: within one list all vectors share a
        centroid, so the residual distribution is tighter and the same
        code budget quantizes it with less error; ADC adds the
        query-centroid dot back per probed list."""
        idx = cls(spark, root, base, id_col, vec_col)
        v = base.version if version is None else int(version)
        snap = _as_double(base.read(v), vec_col)
        # ONE bounded collect serves the cap check, the learned seeds
        # and the centroids write — the count-then-learn-then-write
        # chain used to scan the corpus three times for <= 4096 rows
        cents, _ = _sample_centroids(
            spark, snap, id_col, vec_col, centroid_mod
        )
        if learned:
            cents = idx._learn_centroids(snap, cents, int(learned))
        os.makedirs(idx.root, exist_ok=True)
        cents.write.mode("overwrite").parquet(f"{idx._edir()}/centroids")
        idx._pq_m = int(pq_m) if pq_m else None
        if pq_m:
            idx._pq_res = bool(pq_residual)
            c_for_res = (
                idx._centroid_matrix()[1] if pq_residual else None
            )
            cb_ids, cb = _pq_codebooks(
                snap, id_col, vec_col, int(pq_m), int(codebook_mod),
                c_mat=c_for_res,
            )
            _write_codebooks(spark, idx._edir(), cb_ids, cb, int(pq_m))
            idx._cb = cb
        CowTable.create(
            spark, idx.lists.root, idx._assign(snap),
            keys=("centroid_id", "neighbor_id"),
            target_files=target_files,
            # assignment lineage is a broadcast-GEMM mapInPandas pass:
            # don't run it twice for the range sample
            checkpoint=True,
        )
        idx._centroid_mod = int(centroid_mod)
        idx._codebook_mod = int(codebook_mod) if pq_m else None
        idx._write_state(v)
        return idx

    def _state_extra(self) -> dict:
        # carry the frozen sampling parameters through every state
        # write (centroid_mod always; pq_m/codebook_mod in PQ mode),
        # plus the recluster epoch when one has happened
        out = {}
        if self.epoch:
            out["epoch"] = int(self.epoch)
        if self.retired_epochs:
            out["retired_epochs"] = [int(e) for e in self.retired_epochs]
        mod = getattr(self, "_centroid_mod", None)
        if mod is None:
            try:
                mod = self._state().get("centroid_mod")
            except FileNotFoundError:
                mod = None
            self._centroid_mod = mod
        if mod is not None:
            out["centroid_mod"] = int(mod)
        if self.pq_m:
            out["pq_m"] = int(self.pq_m)
            out["pq_residual"] = bool(self.pq_residual)
            cbm = getattr(self, "_codebook_mod", None)
            if cbm is None:
                try:
                    cbm = self._state().get("codebook_mod")
                except FileNotFoundError:
                    cbm = None
                self._codebook_mod = cbm
            if cbm is not None:
                out["codebook_mod"] = int(cbm)
        return out

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        root: str,
        base: CowTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "VectorIndex":
        """Attach an EXISTING persisted index; validates the root holds
        one and that it was built from THIS base table and columns
        (wrong-table attaches would serve wrong neighbors and then
        corrupt the index at the first refresh)."""
        idx = cls(spark, root, base, id_col, vec_col)
        if not os.path.exists(f"{idx.root}/state.json"):
            raise ValueError(
                f"{root!r} holds no vector index (no state.json); "
                "build one with VectorIndex.create"
            )
        # vector indexes never shipped without identity metadata, so a
        # legacy (pre-metadata) state here is itself suspect
        if not idx._verify_identity():
            raise ValueError(
                f"vector index at {root!r} has no identity metadata; "
                "rebuild it with VectorIndex.create"
            )
        return idx

    # -- maintenance --------------------------------------------------------

    def refresh(self, to_version: int | None = None) -> dict:
        """Epoch-aware refresh: re-sync the epoch memo from durable
        state first — another process may have recluster()'d since
        this handle was opened, and a refresh against the vanished old
        epoch's lists would strand the update (stale QUERIES fail
        loudly on the removed files; a stale WRITE must not). Caches
        drop only when the epoch actually moved, so the broadcast
        reuse across an unattended tick loop survives."""
        try:
            disk = int(self._state().get("epoch", 0))
        except FileNotFoundError:
            disk = 0
        if disk != getattr(self, "_epoch", disk):
            self._epoch = disk
            self._drop_epoch_caches()
        self._epoch = disk
        return super().refresh(to_version)

    def _apply_feed(self, feed: DataFrame, to_v: int) -> None:
        idc, vcc = self.id_col, self.vec_col

        # net transition per dirty vector over the span (old = the
        # FIRST pre-image — re-assigning it against the frozen
        # centroids reproduces the stored key; new = the LAST
        # post-state, unless the final event deletes): ONE keyed
        # aggregation instead of the former two-window formulation,
        # which shuffled the feed twice
        from openverse_catalog_spark.operators.incindex import (
            net_feed_transitions,
        )

        net = net_feed_transitions(feed, idc, vcc).localCheckpoint(
            eager=False
        )
        old_docs = net.filter(F.col("__old").isNotNull()).select(
            F.col(idc), F.col("__old.p").alias(vcc)
        )
        new_docs = net.filter(
            F.col("__new").isNotNull() & ~F.col("__new.del")
        ).select(F.col(idc), F.col("__new.p").alias(vcc))
        self._reconcile(
            self._assign_keys(old_docs),
            self._assign(new_docs),
            to_v,
        )

    def _reconcile(
        self, old_a: DataFrame, new_a: DataFrame, to_v: int
    ) -> None:
        """One merge_when on the lists table, txn-fenced on the span end
        so a replayed span txn-skips instead of double-applying. A
        vector whose assignment MOVED appears as (old key, NULL) ->
        DELETE plus (new key, vector) -> INSERT; updated-in-place ->
        UPDATE; deleted -> DELETE.

        The old/new diff is a tagged UNION + one keyed aggregation
        (guide §2.3/§2.4): the former full-outer join shuffled BOTH
        assignment outputs into the join's two Exchanges — a
        NULL-payload old side unioned under the new side nets the
        identical rows (first non-null payload = the new payload, or
        NULL -> DELETE) through a single Exchange."""
        pc = self._payload_col()
        ptype = new_a.schema[pc].dataType
        src = (
            old_a.select(
                "centroid_id", "neighbor_id",
                F.lit(None).cast(ptype).alias(pc),
            )
            .unionByName(new_a.select("centroid_id", "neighbor_id", pc))
            .groupBy("centroid_id", "neighbor_id")
            .agg(F.first(pc, ignorenulls=True).alias(pc))
        )
        self.lists.merge_when(
            src,
            update_set={pc: f"s.{pc}"},
            delete_cond=f"s.{pc} IS NULL",
            insert=True,
            insert_cond=f"s.{pc} IS NOT NULL",
            check_duplicate_keys=False,  # key-unique by construction
            txn_app="vectorindex-lists",
            txn_version=to_v,
        )

    def _full_resync(self, to_v: int) -> None:
        """Rebuild the index CONTENT from the base snapshot at ``to_v``
        through the same reconcile merge (old = everything currently
        listed — the one case that legitimately scans the index).
        Centroids stay frozen: a resync restores content, not
        clustering; rebuild with ``create`` to re-sample centroids."""
        snap = self.base.read(to_v)
        self._reconcile(
            self.lists.read().select("centroid_id", "neighbor_id"),
            self._assign(snap),
            to_v,
        )

    # -- balance telemetry + heal ----------------------------------------

    def list_stats(self) -> dict:
        """Inverted-list balance telemetry: (lists, max_list,
        median_list, skew = max/median). The ``id % centroid_mod``
        centroid sample FREEZES at create, so a drifting or naturally
        clustered corpus grows hot lists without bound — probe cost is
        proportional to the probed lists' sizes, so unmeasured skew is
        an unbounded query regression. One column-pruned aggregate over
        the lists table's centroid_id column (the vectors/codes columns
        are never read); the result is C rows reduced to one, never a
        corpus scan."""
        row = (
            self.lists.read()
            .groupBy("centroid_id").count()
            .agg(
                F.count("*").alias("lists"),
                F.max("count").alias("max_list"),
                F.expr("percentile(count, 0.5)").alias("median_list"),
            )
            .head()
        )
        if row is None or row["lists"] is None or row["lists"] == 0:
            return {"lists": 0, "max_list": 0,
                    "median_list": 0.0, "skew": 0.0}
        med = float(row["median_list"])
        return {
            "lists": int(row["lists"]),
            "max_list": int(row["max_list"]),
            "median_list": med,
            "skew": float(row["max_list"]) / med if med else float("inf"),
        }

    def recluster(
        self,
        centroid_mod: int | None = None,
        target_files: int = 8,
        reclaim: bool = True,
        learned: int = 0,
    ) -> dict:
        """HEAL list skew by re-sampling centroids at the CURRENT
        corpus and rebuilding the lists — as one atomic epoch swap (the
        index's own publish_swap): the new centroids + codebooks +
        lists build under ``root/eN/`` while queries keep serving the
        old epoch, then ONE state.json replace re-points the handle.
        A crash at any point leaves the old epoch intact (a torn new
        epoch dir is cleaned by the next attempt). Content rebuilds at
        the APPLIED version, so the feed protocol is untouched — the
        next refresh resumes incrementally from the same span.

        ``reclaim=True`` (the administrative default) removes the old
        epoch's files IMMEDIATELY after the re-point: an in-flight
        query planned against the old epoch fails loudly
        (FileNotFound) rather than serving a torn mix — schedule a
        manual recluster like the admin operation it is.
        ``reclaim=False`` (what the unattended ``maintain_tables``
        auto-heal passes) RETIRES the old epoch instead: its files
        stay on disk, recorded in state as ``retired_epochs``, so
        queries other handles/processes already planned keep reading;
        ``reclaim_epochs()`` — run at the top of the next maintenance
        tick — reclaims them after that grace window.

        ``centroid_mod`` overrides the frozen sampling density (grow C
        ~sqrt(n) as the corpus grows — the other reason to recluster
        besides drift).

        ``learned=N`` refines the re-sampled centroids with N
        SPHERICAL k-means rounds on the unit-normalized corpus before
        the lists build — assignment rides the index's own
        broadcast-GEMM round-at-9 cosine argmax (on unit vectors
        cosine argmax IS L2 argmin), so the discipline the built index
        then applies to these centroids is the spherical update's own.
        Seeds are the ``id % mod`` sample in id order; learned
        centroids get ordinal ids 0..C-1. On naturally clustered /
        drifted embeddings the learned centroids cut residual skew
        below what re-sampling alone reaches (the sampled heal only
        relocates centroids to corpus points — a hot region keeps as
        many centroids as it has sample hits, not as many as its mass
        deserves). Deterministic end to end (seed order, round-9
        guards on cosines and means, empty cluster keeps its previous
        centroid), so the SQL oracle replays every round. Cost per
        round: one corpus scan (GEMM against the broadcast C x dim
        matrix — no centroid literals in the plan, so C scales to the
        ~sqrt(corpus) a 100 TB index needs) + a C-row aggregate."""
        import shutil

        st = self._state()
        if "pending" in st:
            raise ValueError(
                "a refresh span is pending; finish it with refresh() "
                "before recluster()"
            )
        v = self.applied_version
        mod = int(centroid_mod or st.get("centroid_mod") or 40)
        old_epoch = self.epoch
        new_epoch = old_epoch + 1
        edir = self._edir(new_epoch)
        shutil.rmtree(edir, ignore_errors=True)  # torn prior attempt
        snap = _as_double(self.base.read(v), self.vec_col)
        cents, n_cents = _sample_centroids(
            self.spark, snap, self.id_col, self.vec_col, mod
        )
        os.makedirs(edir, exist_ok=True)
        if learned:
            cents = self._learn_centroids(snap, cents, int(learned))
        cents.write.mode("overwrite").parquet(f"{edir}/centroids")
        # swap the in-memory handle to the new epoch for the build
        # GEMMs; disk state still points at the old epoch until the
        # final atomic write, and any failure restores the handle
        pq_m, pq_res = self.pq_m, self.pq_residual
        cbm = st.get("codebook_mod")
        # from the freshly-read state doc, not the handle memo: another
        # process may have retired/reclaimed epochs since this handle
        # last read state
        prior_retired = [int(e) for e in (st.get("retired_epochs") or [])]
        self._epoch = new_epoch
        self._drop_epoch_caches()
        try:
            if pq_m:
                c_for_res = (
                    self._centroid_matrix()[1] if pq_res else None
                )
                cb_ids, cb = _pq_codebooks(
                    snap, self.id_col, self.vec_col, int(pq_m),
                    int(cbm or 25), c_mat=c_for_res,
                )
                _write_codebooks(self.spark, edir, cb_ids, cb, int(pq_m))
                self._cb = cb
            CowTable.create(
                self.spark, f"{edir}/lists", self._assign(snap),
                keys=("centroid_id", "neighbor_id"),
                target_files=target_files,
                checkpoint=True,  # GEMM lineage, see create()
            )
            self._centroid_mod = mod
            if not reclaim:
                # the retired record must land IN the re-point write:
                # a crash between two writes would either resurrect or
                # leak the old epoch
                self._retired = prior_retired + [old_epoch]
            self._write_state(v)  # the atomic re-point
        except BaseException:
            self._epoch = old_epoch
            # restore the sampling memo too: a later refresh's state
            # write must not persist the failed attempt's mod against
            # the surviving old-epoch centroids
            self._centroid_mod = st.get("centroid_mod")
            self._retired = prior_retired
            self._drop_epoch_caches()
            shutil.rmtree(edir, ignore_errors=True)
            raise
        if reclaim:
            # old epoch is dead; reclaim best-effort (a failure here
            # costs disk, never correctness)
            self._rm_epoch_dirs(old_epoch)
        return {
            "epoch": new_epoch, "centroids": n_cents, "applied": v,
            "learned_rounds": int(learned),
        }

    def _learn_centroids(self, snap, cents, rounds: int):
        """SPHERICAL-k-means-refine the sampled seed centroids (see
        ``recluster(learned=)``); returns the learned
        (centroid_id 0..C-1, vector) frame.

        Each round: normalize the current centroids, assign every
        (normalized) corpus vector to its highest-cosine centroid via
        the SAME broadcast-GEMM + round-at-9 argmax discipline every
        index assignment uses — cost one corpus scan regardless of C,
        where an expression-literal argmin would put C x dim literals
        in the plan (fine at C=50, impossible at the C~sqrt(10^11) a
        100 TB corpus needs) — then take the per-cluster mean of the
        normalized vectors, ROUNDED to 9 decimals (partition-order
        float noise absorbed; the oracle replays the identical
        normalize -> round-9 cosine argmax (lowest-cid tie) -> round-9
        mean chain in SQL). On unit vectors cosine argmax IS L2
        argmin, so this is Lloyd's update on the unit sphere — and the
        assignment the built index then applies to these centroids is
        the same spherical rule. Empty clusters keep their previous
        centroid."""
        import numpy as np

        seed_rows = cents.orderBy("centroid_id").collect()
        if not seed_rows:
            raise ValueError("no seed centroids to learn from")
        dim = len(seed_rows[0]["vector"])

        def unit(vec):
            v = np.asarray(vec, dtype="float64")
            return v / np.sqrt((v * v).sum())

        cur = [unit(r["vector"]) for r in seed_rows]
        k = len(cur)
        idc, vcc = self.id_col, self.vec_col
        base = _as_double(snap, vcc).select(idc, vcc).localCheckpoint(
            eager=False
        )
        for _ in range(int(rounds)):
            cm = np.stack([unit(c) for c in cur])
            bc = self.spark.sparkContext.broadcast(cm)

            def assign_gen(batches, _bc=bc):
                import numpy as np
                import pandas as pd

                cmat = _bc.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    _ids, mat = _stack_normalized(pdf, idc, vcc)
                    best = np.round(mat @ cmat.T, 9).argmax(axis=1)
                    yield pd.DataFrame(
                        {"__cid": best.astype("int64"), "__v": list(mat)}
                    )

            assigned = base.mapInPandas(
                assign_gen, "__cid long, __v array<double>"
            )
            stats = assigned.groupBy("__cid").agg(
                F.count("*").alias("__n"),
                *[
                    F.sum(F.element_at("__v", i + 1)).alias(f"__s{i}")
                    for i in range(dim)
                ],
            ).select(
                "__cid",
                *[
                    F.round(F.col(f"__s{i}") / F.col("__n"), 9)
                    .alias(f"__m{i}")
                    for i in range(dim)
                ],
            )
            new = {
                int(r["__cid"]): [r[f"__m{i}"] for i in range(dim)]
                for r in stats.collect()
            }
            cur = [
                np.asarray(new[c], dtype="float64")
                if c in new else cur[c]
                for c in range(k)
            ]
        return self.spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cur)],
            "centroid_id long, vector array<double>",
        )

    @property
    def retired_epochs(self) -> list[int]:
        """Epochs superseded by a ``recluster(reclaim=False)`` whose
        files still await ``reclaim_epochs()``."""
        r = getattr(self, "_retired", None)
        if r is None:
            try:
                r = list(self._state().get("retired_epochs") or [])
            except FileNotFoundError:
                r = []
            self._retired = r
        return r

    def reclaim_epochs(self) -> list[int]:
        """Remove every retired epoch's files and clear the record —
        the deferred half of ``recluster(reclaim=False)``. Run it at
        the top of a maintenance tick so epochs retired on the
        PREVIOUS tick get at least one tick interval of grace for
        in-flight queries planned against them. Preserves the rest of
        the state doc verbatim (in particular a pending refresh
        span)."""
        st = self._state()
        retired = [
            int(e) for e in (st.get("retired_epochs") or [])
            if int(e) != self.epoch  # never the serving epoch
        ]
        if not retired:
            return []
        for e in retired:
            self._rm_epoch_dirs(e)
        st.pop("retired_epochs", None)
        import json as _json

        tmp = f"{self.root}/.tmp.state.json"
        with open(tmp, "w") as fh:
            _json.dump(st, fh)
        os.replace(tmp, f"{self.root}/state.json")
        self._retired = []
        return retired

    def _rm_epoch_dirs(self, epoch: int) -> None:
        import shutil

        if epoch == 0:
            # the legacy bare layout lives directly under root
            for sub in ("lists", "centroids", "codebooks"):
                shutil.rmtree(f"{self.root}/{sub}", ignore_errors=True)
        else:
            shutil.rmtree(self._edir(epoch), ignore_errors=True)

    def _drop_epoch_caches(self) -> None:
        """Invalidate every epoch-bound memo (centroid matrix,
        broadcasts, codebooks, lists handle) plus the retired-epoch
        memo (another process's recluster may have retired/reclaimed
        epochs since this handle read state)."""
        for attr in (
            "_cents", "_cents_bc", "_cb", "_pq_bc", "_lists", "_retired"
        ):
            if hasattr(self, attr):
                delattr(self, attr)

    # -- query --------------------------------------------------------------

    def probe(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        rank_quantize: int | None = None,
        shortlist: int = 10,
        exclude_self: bool = True,
        where: str | None = None,
        ship_queries: bool | None = None,
    ) -> DataFrame:
        """Batch ANN probe served FROM THE INDEX (the
        :func:`~.knn.ivf_probe_index` contract over the CoW lists):
        nprobe nearest centroids per query (one GEMM per Arrow batch
        against the broadcast centroid matrix), then exact cosine
        ranking WITHIN the probed inverted lists only. The probed-
        centroid set (bounded by the centroid count) drives a manifest-
        pruned ``read_pruned`` on the lists table — only files whose
        centroid range can contain a probed list are opened.
        ``rank_quantize`` rounds the rank key so exact-duplicate
        neighbors tie deterministically (id tie-break).
        ``exclude_self`` drops candidates whose neighbor_id equals the
        query_id — right for corpus-against-itself probes (dedup); an
        EXTERNAL query batch must pass False, because its ids share no
        namespace with the corpus and a coincidental id collision would
        silently drop a legitimate neighbor.
        ``where`` is a FILTERED probe (the filtered-ANN every real
        vector workload runs — license/provider/date predicates): the
        predicate resolves against the BASE table at the index's
        applied version (column-pruned, pushed to the parquet scan) and
        the probed candidates are semi-joined to the match set BEFORE
        scoring — ranking never wastes work on non-matching vectors and
        every returned neighbor satisfies the predicate. Fixed nprobe
        (batch semantics); ``search(where=...)`` adds the nprobe
        escalation that guarantees the recall floor."""
        idc, vcc = self.id_col, self.vec_col
        # PQ mode reuses the (centroids, codebooks) broadcast the ADC
        # pass needs anyway — two broadcast copies of the centroid
        # matrix per handle otherwise
        bc = self._pq_broadcast() if self.pq_m else self._centroid_broadcast()
        # query-vector shipping: a BOUNDED batch emits bare
        # (query_id, centroid_id) pairs and re-attaches the vector via
        # a broadcast join keyed on query_id — otherwise the probe
        # output repeats each query vector nprobe times (dim x 8 x
        # nprobe bytes per query) through the checkpoint and the lists
        # join. An UNBOUNDED batch keeps the ride-along shape: the
        # vector then reaches the cosine in the lists-join stage
        # without shuffling the (much larger) candidate rows by
        # query_id first. ``ship_queries`` overrides the size-based
        # choice (tests pin both paths without a 65k-row fixture).
        # The size check is a BOUNDED limit-count, not a full count():
        # the decision only needs "more than the broadcast bound?", and
        # the common bounded batch would otherwise pay a full Spark job
        # over the query frame before the probe job even starts.
        ship_qv = (
            queries.limit(MAX_BROADCAST_QUERIES + 1).count()
            > MAX_BROADCAST_QUERIES
            if ship_queries is None
            else bool(ship_queries)
        )

        def probe_gen(batches):
            import numpy as np
            import pandas as pd

            b_ids, b_mat = bc.value[0], bc.value[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids, mat = _stack_normalized(pdf, idc, vcc)
                order = np.argsort(
                    -(mat @ b_mat.T), axis=1, kind="stable"
                )[:, :nprobe]
                reps = order.shape[1]
                data = {
                    "query_id": ids.repeat(reps),
                    "centroid_id": b_ids[order.reshape(-1)],
                }
                if ship_qv:
                    data["__qv"] = pdf[vcc].to_numpy().repeat(reps)
                yield pd.DataFrame(data)

        schema = "query_id long, centroid_id long"
        if ship_qv:
            schema += ", __qv array<double>"
        probe = (
            _as_double(queries, vcc).select(idc, vcc)
            .mapInPandas(probe_gen, schema)
            .localCheckpoint(eager=False)
        )
        probed = sorted(
            r[0] for r in probe.select("centroid_id").distinct().collect()
        )
        lists = self.lists.read_pruned(probed)
        cand = probe.join(lists, "centroid_id")
        if ship_qv:
            qv = probe.select("query_id", "__qv").distinct()
        else:
            qv = _as_double(queries, vcc).select(
                F.col(idc).alias("query_id"), F.col(vcc).alias("__qv")
            )
            cand = cand.join(F.broadcast(qv), "query_id")
        if exclude_self:
            cand = cand.filter(
                F.col("query_id") != F.col("neighbor_id")
            )
        if where is not None:
            # inner == semi (match ids are unique, single column) but
            # leaves the optimizer free to broadcast EITHER side — for
            # a non-selective predicate the candidate side is the small
            # one and a semi-join could only broadcast the match side
            cand = cand.join(self._match_set(where), "neighbor_id")
        if self.pq_m:
            return self._probe_pq_rerank(
                qv, cand, k, shortlist, rank_quantize
            )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("vector")).alias("cosine"),
        )
        rank_key = (
            F.round(F.col("cosine"), rank_quantize)
            if rank_quantize is not None
            else F.col("cosine")
        )
        wk = Window.partitionBy("query_id").orderBy(
            rank_key.desc(), F.col("neighbor_id")
        )
        return scored.withColumn("rank", F.row_number().over(wk)).filter(
            F.col("rank") <= k
        )

    def _probe_pq_rerank(
        self, qv: DataFrame, cand: DataFrame, k: int,
        shortlist: int, rank_quantize,
    ) -> DataFrame:
        """PQ scoring: ADC over the pruned code lists (per-subspace
        query-codeword dot lookups — the scan reads codes, never raw
        vectors), shortlist by round(adc, 9), then an EXACT cosine
        re-rank of |q| x shortlist rows against the BASE table's raw
        vectors at the index's APPLIED version (what the codes were
        encoded from). The asymmetric-distance + re-rank split is what
        makes PQ usable at 100 TB: the cheap pass touches ~64x fewer
        bytes, the expensive pass touches a bounded shortlist."""
        shortlist = max(int(shortlist), int(k))  # k results need >= k
        # candidates surviving the ADC cut — silent truncation
        # otherwise
        adc_gen = _adc_generator(
            self._pq_broadcast(), residual=self.pq_residual
        )
        scored = cand.select(
            "query_id", "neighbor_id", "centroid_id", "codes", "__qv"
        ).mapInPandas(
            adc_gen, "query_id long, neighbor_id long, adc double"
        )
        ws = Window.partitionBy("query_id").orderBy(
            F.round(F.col("adc"), 9).desc(), F.col("neighbor_id")
        )
        short = (
            scored.withColumn("__r", F.row_number().over(ws))
            .filter(F.col("__r") <= shortlist)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=False)
        )
        # exact re-rank against the base snapshot the codes reflect;
        # the shortlist id set is bounded (|q| x shortlist), so a keyed
        # pruned read skips every base file outside the id ranges
        ids = [r[0] for r in
               short.select("neighbor_id").distinct().collect()]
        nv = _as_double(
            self.base.read_pruned(ids, version=self.applied_version),
            self.vec_col,
        ).select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).alias("__nv"),
        )
        # query vectors arrive as the caller's (query_id, __qv) frame —
        # either the bounded batch's source projection or the unbounded
        # batch's checkpointed probe distinct; re-deriving them from
        # cand would re-run the probe-to-lists join for data one hop
        # upstream
        exact = (
            F.broadcast(short)
            .join(qv, "query_id")
            .join(nv, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine_expr(F.col("__qv"), F.col("__nv")).alias("cosine"),
            )
        )
        rank_key = (
            F.round(F.col("cosine"), rank_quantize)
            if rank_quantize is not None
            else F.round(F.col("cosine"), 9)
        )
        wk = Window.partitionBy("query_id").orderBy(
            rank_key.desc(), F.col("neighbor_id")
        )
        return exact.withColumn("rank", F.row_number().over(wk)).filter(
            F.col("rank") <= k
        )

    def _match_set(self, where: str) -> DataFrame:
        """The PRE-FILTER match set: ids of base rows satisfying the
        predicate, resolved at the index's APPLIED version (what the
        lists reflect — filtering at the raw head would drop neighbors
        the index still holds). Column-pruned to (predicate cols ->
        id), so Catalyst pushes the filter and the projection into the
        parquet scan; at 100 TB this reads only the predicate/id
        columns of files whose stats can match."""
        return (
            self.base.read(self.applied_version)
            .where(where)
            .select(F.col(self.id_col).alias("neighbor_id"))
        )

    def search(
        self, qvec: list[float], k: int, nprobe: int = 2,
        shortlist: int | None = None, where: str | None = None,
    ) -> DataFrame:
        """Single-vector top-k, the inline-SQL shape
        (``VECTOR_SEARCH('i', '...', k)``): the nprobe nearest
        centroids resolve DRIVER-side against the small centroid
        matrix (no Spark job) and the lists read is manifest-pruned to
        those centroids. Returns (neighbor_id, cosine) ranked by the
        9-decimal-rounded score with an id tie-break (duplicate vectors
        rank deterministically), cosine rounded to 6.

        Flat mode scores with a pure JVM expression against the query
        literal: one job, run by the caller's action. PQ mode ranks by
        ADC against the query's lookup table, built on the driver, and
        re-ranks the ``shortlist`` best (default max(10, 4k), never
        below k) by exact cosine against the BASE rows at the index's
        applied version. Both passes run on the driver over two
        pyarrow reads of the pruned files (``read_arrow``, no Spark
        job) — the probed codes, then the shortlisted base vectors —
        and the k rows come back as a local relation, with the rows
        and doubles of the batch ``probe`` of the same vector as a
        one-row frame with ``exclude_self=False``.

        ``where`` runs a FILTERED search with a recall floor: the
        predicate pre-filters against the base (see ``_match_set``) and
        nprobe DOUBLES — n, 2n, 4n, ... capped at the centroid count —
        until the probed lists hold at least min(k, total matches)
        matching vectors. A rare filter therefore escalates toward the
        exact filtered scan instead of silently under-filling k (the
        failure mode of over-fetch-and-post-filter); geometric growth
        bounds total probe work at <= 2x the final level."""
        import numpy as np

        q = np.asarray([float(x) for x in qvec], dtype="float64")
        if not (q * q).sum():
            raise ValueError("zero query vector has no cosine neighbors")
        if where is not None:
            return self._search_filtered(q, k, nprobe, shortlist, where)
        probed = sorted(int(c) for c in self._centroid_order(q)[:nprobe])
        if self.pq_m:
            return self._rank_pq(
                self.lists.read_arrow(_PQ_CANDIDATES, probed),
                q, probed, k, shortlist,
            )
        return self._rank_spark(self.lists.read_pruned(probed), q, k)

    def _centroid_order(self, q):
        """Centroid ids by descending cosine to the query vector ``q``
        (stable, so equal scores keep id order) — driver-side against
        the memoized centroid matrix, no Spark job."""
        import numpy as np

        c_ids, c_mat = self._centroid_matrix()
        sims = c_mat @ (q / float(np.sqrt((q * q).sum())))
        return c_ids[np.argsort(-sims, kind="stable")]

    def _rank(
        self, cand: DataFrame, q, probed: list[int], k: int,
        shortlist: int | None,
    ) -> DataFrame:
        """The mode's exact single-vector ranking of the probed
        candidates ``cand`` (list rows of the ``probed`` centroids,
        possibly match-filtered): top k by (round(cosine, 9) desc,
        neighbor_id), output cosine rounded to 6. Flat mode ranks the
        lists' vectors in one JVM plan; PQ mode collects the candidates'
        codes in one Arrow collect and ranks on the driver
        (:meth:`_rank_pq`)."""
        if not self.pq_m:
            return self._rank_spark(cand, q, k)
        return self._rank_pq(
            cand.select(*_PQ_CANDIDATES).toArrow(), q, probed, k, shortlist
        )

    def _rank_spark(self, cand: DataFrame, q, k: int) -> DataFrame:
        """JVM ranking of ``(neighbor_id, vector)`` rows: cosine
        against the query literal, top k by (round(cosine, 9) desc,
        neighbor_id), cosine rounded to 6."""
        qlit = _vec_literal(self.spark, q)
        scored = cand.select(
            "neighbor_id",
            cosine_expr(qlit, F.col("vector")).alias("cosine"),
        )
        return (
            scored.orderBy(
                F.round(F.col("cosine"), 9).desc(), "neighbor_id"
            )
            .limit(k)
            .select("neighbor_id", F.round("cosine", 6).alias("cosine"))
        )

    def _rank_pq(
        self, t, q, probed: list[int], k: int, shortlist: int | None,
    ) -> DataFrame:
        """PQ ranking on the driver of the Arrow table ``t`` of
        candidate ``(neighbor_id, centroid_id, codes)`` rows (the
        probed lists' ``read_arrow``, or the match-filtered candidates'
        one collect), in the operation order of Spark's arithmetic so
        the doubles equal the batch ``probe``'s: a candidate's ADC
        against the query's lookup table ``lut[j, c] = dot(q̂_j,
        codebook[c, j])`` (FAISS's per-query ADC table) is its m
        lookups added left to right, then, with residual codes,
        dot(q̂, centroid); the ``shortlist`` best (default max(10, 4k),
        never below k) are cut by (round(adc, 9) desc, neighbor_id);
        the shortlisted BASE rows at the index's applied version —
        what the codes were encoded from; the index stores no raw
        vector — are read with ``read_arrow`` (ids widened to long,
        vectors to ``list<double>`` in Arrow, the casts Spark's
        re-rank made) and :func:`_rank_vectors` ranks them. The k rows
        return as a local relation; no candidates skip the second
        read. Driver memory grows with the candidates the probe reads
        (nprobe lists, or only their matching rows under ``where``),
        not with the corpus."""
        import numpy as np
        import pyarrow as pa

        shortlist = max(int(shortlist or max(10, 4 * k)), int(k))
        ids = t.column("neighbor_id").to_numpy()
        rows = []
        if len(ids):
            cb = self._codebook_tensor()  # (n_k, m, dsub)
            m = cb.shape[1]
            qn = q / np.linalg.norm(q)
            lut = np.einsum("jd,cjd->jc", qn.reshape(m, -1), cb)
            codes = (
                t.column("codes").combine_chunks().flatten().to_numpy()
                .reshape(len(ids), m)
            )
            adc = lut[0][codes[:, 0]]
            for j in range(1, m):
                adc = adc + lut[j][codes[:, j]]
            if self.pq_residual:
                c_ids, c_mat = self._centroid_matrix()
                cdot = c_mat[np.searchsorted(c_ids, probed)] @ qn
                cents = t.column("centroid_id").to_numpy()
                adc = adc + cdot[np.searchsorted(probed, cents)]
            short = ids[_spark_top(ids, adc, shortlist, 9)].tolist()
            if short:
                base = self.base.read_arrow(
                    [self.id_col, self.vec_col], short, self.applied_version
                )
                rows = _rank_vectors(pa.table({
                    "neighbor_id": base.column(0).cast(pa.int64()),
                    "vector": base.column(1).cast(pa.list_(pa.float64())),
                }), q, k)
        if not rows:  # an empty createDataFrame would still run a job
            return literal_df(self.spark, [(None, None)], _RESULT).where(
                F.lit(False)
            )
        return literal_df(self.spark, rows, _RESULT)

    # pre-filter only below this match-set fraction of the corpus: a
    # non-selective predicate (most of a 100 TB corpus matches) would
    # make the match-id materialization dwarf the probe itself
    PREFILTER_SELECTIVITY = 0.5

    def _search_filtered(
        self, q, k: int, nprobe: int, shortlist: int | None, where: str,
    ) -> DataFrame:
        """Filtered single-vector search (see ``search``): probe-first
        with nprobe-doubling escalation to the recall floor, then the
        mode's exact ranking over the matching candidates only.

        ADAPTIVE SELECTIVITY SWITCH — every arm returns IDENTICAL
        results (same candidates, same ranking); only the physical
        strategy differs:

        * FIRST LEVEL is always optimistic POST-FILTER: rank the probed
          lists inner-joined against the LAZY column-pruned predicate
          scan and collect the <= k result rows. If k fills — the
          overwhelmingly common case for a non-selective predicate
          (say 90% of a 100 TB corpus matches) — that ONE ranking (the
          cosine collect; in PQ mode the codes collect, then a
          driver-side read of the shortlisted base vectors) is the
          whole search: the match set is never counted, let alone
          materialized; Catalyst/AQE broadcasts the small candidate
          side into the streaming predicate scan.
        * UNDER-FILL pays the match-set count — exactly then does the
          recall floor min(k, total matches) need it — and the measured
          fraction picks the escalation arm: SELECTIVE (fraction <=
          PREFILTER_SELECTIVITY) materializes the (small) match-id set
          once and semi-joins each further level against it, so the
          filtered base scan runs once, not per level; NON-SELECTIVE
          keeps the lazy inner join (a huge match set is never worth
          materializing — the per-level predicate scan is the cheaper
          arm).

        The escalation decision compares RANKED row count to the floor,
        which is equivalent to comparing candidate count (ranked =
        min(k, candidates) and the floor is <= k), so the level
        sequence — and therefore the result — is identical to counting
        candidates directly; collecting the <= k ranked rows just makes
        the fill check and the final result the SAME collect."""
        order = self._centroid_order(q)
        n_cents = len(order)
        match = self._match_set(where)
        # corpus size straight from the lists manifest (live rows; one
        # entry per vector) — metadata-only, no job
        total = int(self.lists._manifest().get("rows") or 0)
        n_match: int | None = None  # counted only on first under-fill
        selective = False
        persisted = None
        n = max(1, min(int(nprobe), n_cents))
        while True:
            probed = sorted(int(c) for c in order[:n])
            lists_read = self.lists.read_pruned(probed)
            if selective:
                cand = lists_read.join(match, "neighbor_id", "semi")
            else:
                # inner == semi here (base merge-key ids are unique and
                # the match frame carries only neighbor_id), but inner
                # lets the optimizer broadcast the SMALL candidate side
                # into the streaming predicate scan — a semi-join could
                # only broadcast the (huge) match side or shuffle both
                cand = lists_read.join(match, "neighbor_id")
            rows = self._rank(cand, q, probed, k, shortlist).collect()
            if len(rows) >= int(k) or n >= n_cents:
                break
            if n_match is None:
                # ONE filtered scan: persist the match ids WHILE the
                # count job materializes them — count-then-checkpoint
                # would run the predicate scan twice, and checkpoint-
                # then-count would materialize a corpus-sized id set
                # for a non-selective predicate before knowing it. A
                # non-selective under-fill (rare: a 90% filter almost
                # always fills level one) drops the cache immediately,
                # so its storage cost is one transient write.
                match = match.persist()
                persisted = match
                n_match = match.count()
                selective = (
                    total == 0
                    or n_match <= self.PREFILTER_SELECTIVITY * total
                )
                if not selective:
                    persisted.unpersist()
                    persisted = None
            if len(rows) >= min(int(k), n_match):
                break
            n = min(2 * n, n_cents)
        if persisted is not None:
            # rows are already collected; never leak cache across calls
            persisted.unpersist()
        # a local relation: the caller's action runs no further job
        return literal_df(self.spark, rows, _RESULT)
