"""Seeded input generator for the catalog benchmark.

Everything the benchmark feeds the engine comes from here, drawn from
``profile.json`` (statistics of the sf0.1 testdata: document vocabulary,
providers, order prices and the clustered 64-d embeddings) and the run's
seed. Row content is a pure function of ``(seed, key, version)``, so the
same seed always yields byte-identical inputs and a re-ingested key keeps
its identity (provider, url, vector) while its title and counters move.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")

# licenses the catalog accepts (canonical pairs) and one it must drop
VALID_LICENSES = [
    ("by", "4.0"), ("by-sa", "4.0"), ("by-nc", "3.0"), ("by-nd", "2.0"),
    ("by-nc-sa", "4.0"), ("cc0", "1.0"), ("pdm", "1.0"),
]
INVALID_LICENSE = ("junklicense", "1.0")

# vector-index samples are the ids with id % mod == 0 (VectorIndex.create
# defaults); churn never touches them so a rebuild from scratch at any
# later version samples the same frozen centroids and codebooks
CENTROID_MOD = 40
CODEBOOK_MOD = 25


def load_profile(path: str = PROFILE_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _cumulative(weights) -> list[float]:
    out, total = [], 0.0
    for w in weights:
        total += float(w)
        out.append(total)
    return out


def frozen_sample(key: int) -> bool:
    return key % CENTROID_MOD == 0 or key % CODEBOOK_MOD == 0


class Generator:
    """Draws landing records, churn batches and probe mixes for one seed."""

    def __init__(self, seed: int, profile: dict | None = None):
        self.seed = int(seed)
        self.p = profile or load_profile()
        vocab = [w for w, _ in self.p["vocab"]]
        self.vocab = vocab
        # Zipf(1.1) over the vocabulary's frequency rank
        self.word_cw = _cumulative(1.0 / k ** 1.1 for k in range(1, len(vocab) + 1))
        # query terms: only words the index tokenizer keeps (>= 3 letters)
        self.terms = [w for w in vocab if len(w) >= 3]
        self.term_cw = _cumulative(1.0 / k ** 1.1 for k in range(1, len(self.terms) + 1))
        self.providers = list(self.p["providers"])
        self.centroids = np.asarray(self.p["centroids"], dtype="float64")
        self.centroid_cw = _cumulative(self.p["centroid_weights"])
        self.noise = float(self.p["noise_std"])
        self.price_q = np.asarray(self.p["price_q"], dtype="float64")
        self.title_q = np.asarray(self.p["title_tokens_q"], dtype="float64")
        self._q_axis = np.linspace(0.0, 1.0, len(self.title_q))
        self._noise_bank: np.ndarray | None = None

    # -- per-key content --------------------------------------------------

    def _rng(self, *parts: int) -> random.Random:
        # string seeds hash through SHA-512: stable across platforms and
        # Python versions, and cheap enough to make one per row
        return random.Random(":".join(str(int(x)) for x in (self.seed, *parts)))

    def _title(self, rng: random.Random) -> str:
        # document lengths scaled down to title size: 1..12 words
        n = int(np.interp(rng.random(), self._q_axis, self.title_q))
        words = rng.choices(self.vocab, cum_weights=self.word_cw, k=max(1, n // 8))
        title = " ".join(words).capitalize()
        # raw provider text: stray whitespace and quotes the cleaner strips
        return f'  "{title}"  ' if rng.random() < 0.2 else title

    def provider(self, key: int) -> str:
        return self._rng(key, 0).choice(self.providers)

    def vector(self, key: int) -> list[float]:
        """``key``'s embedding: a profile centroid plus Gaussian noise of the
        profile's spread, unit-normalized. The noise is the sum of two rows
        of a per-seed Gaussian bank (scaled to keep the variance), picked
        by hashing the key: as cheap as a lookup, distinct per key."""
        rng = self._rng(key, 1)
        c = rng.choices(range(len(self.centroids)), cum_weights=self.centroid_cw)[0]
        bank = self._bank()
        n = len(bank)
        v = self.centroids[c] + (bank[rng.randrange(n)] + bank[rng.randrange(n)]) * (
            self.noise / np.sqrt(2.0)
        )
        return np.round(v / np.linalg.norm(v), 6).tolist()

    def _bank(self) -> np.ndarray:
        if self._noise_bank is None:
            self._noise_bank = np.random.default_rng(self.seed).standard_normal(
                (4096, self.centroids.shape[1])
            )
        return self._noise_bank

    def near_vector(self, key: int, rng: random.Random) -> list[float]:
        """A "more like this" query: ``key``'s vector, slightly perturbed."""
        v = np.asarray(self.vector(key)) + np.random.default_rng(
            rng.getrandbits(64)
        ).normal(0.0, 0.005, self.centroids.shape[1])
        return [float(x) for x in v / np.linalg.norm(v)]

    def record(self, key: int, version: int, *, vectors: bool,
               invalid: str | None = None) -> dict:
        """One landing record (staging form) of ``key`` as ingested for
        the ``version``-th time. ``invalid`` in {None, 'license', 'url'}
        makes the row one the cleaner must drop."""
        provider = self.provider(key)
        ident = self._rng(key, 2)
        base_title = self._title(ident)
        price = float(np.interp(ident.random(), self._q_axis, self.price_q))
        rng = self._rng(key, 3, version)
        lic, ver = ident.choice(VALID_LICENSES)
        if invalid == "license":
            lic, ver = INVALID_LICENSE
        title = base_title if version == 0 or rng.random() < 0.6 else self._title(rng)
        if version > 0 and rng.random() < 0.1:
            title = None  # missing optional field: newest_non_null keeps the old title
        views = int(price / 100.0) + 37 * version + rng.randrange(50)
        meta = {"views": str(views)}
        if rng.random() < 0.5:
            meta["camera"] = f"model-{rng.randrange(12)}"
        tags = [
            {"name": w, "provider": provider}
            for w in rng.choices(self.vocab, cum_weights=self.word_cw, k=rng.randrange(4))
        ]
        fid = f"{key:07d}"
        rec = {
            "foreign_identifier": fid,
            "foreign_landing_url": f"https://{provider}.example.org/item/{fid}",
            "url": None if invalid == "url" else f"https://{provider}.example.org/img/{fid}.jpg",
            "thumbnail": None,
            "filetype": None,
            "filesize": ident.randrange(20_000, 4_000_000),
            "license": lic,
            "license_version": ver,
            "creator": f"user{ident.randrange(5000)}",
            "creator_url": None,
            "title": title,
            "meta_data": meta,
            "tags": tags or None,
            "category": None,
            "watermarked": False,
            "provider": provider,
            "source": None,
            "ingestion_type": None,
            "width": ident.randrange(200, 4000),
            "height": ident.randrange(200, 4000),
        }
        if vectors:
            rec["media_id"] = int(key)
            rec["views"] = views
            rec["embedding"] = self.vector(key)
        return rec


class CatalogModel:
    """Driver-side record of which keys the catalog holds, so each batch's
    expected committed-row delta is known before the engine runs it."""

    def __init__(self, gen: Generator, vectors: bool):
        self.gen = gen
        self.vectors = vectors
        self.live: list[int] = []
        self.live_set: set[int] = set()
        self.versions: dict[int, int] = {}
        self.next_key = 0

    def _upsert(self, key: int) -> int:
        v = self.versions.get(key, -1) + 1
        self.versions[key] = v
        return v

    def _admit(self, key: int) -> None:
        if key not in self.live_set:
            self.live_set.add(key)
            self.live.append(key)

    def initial(self, n: int) -> list[dict]:
        keys = range(self.next_key, self.next_key + n)
        self.next_key += n
        out = []
        for k in keys:
            out.append(self.gen.record(k, self._upsert(k), vectors=self.vectors))
            self._admit(k)
        return out

    def ingest_batch(self, i: int, size: int) -> tuple[list[dict], int]:
        """A provider DAG run's landing batch: mostly new items plus
        re-ingested recent ones (recency-weighted, like the reference's
        reingestion tiers), 2% exact duplicate rows, and rows with an
        invalid license or a missing url that cleaning must drop. The
        shares (60 % new, recency scale, 2 % duplicates, 4 % + 2 %
        invalid) are assumed, not measured: each kind of row just has to
        occur often enough to exercise its path in every batch.
        Returns (records, expected committed-row delta)."""
        rng = self.gen._rng(10_000_019, i)
        n_new = int(size * 0.6)
        picked: list[int] = []
        seen: set[int] = set()
        while len(picked) < size - n_new and self.live:
            age = int(rng.expovariate(1.0 / (0.1 * len(self.live))))
            k = self.live[max(0, len(self.live) - 1 - age)]
            if k not in seen:
                seen.add(k)
                picked.append(k)
        new = list(range(self.next_key, self.next_key + n_new))
        self.next_key += n_new
        out, delta = [], 0
        for k in new + picked:
            roll = rng.random()
            invalid = "license" if roll < 0.04 else "url" if roll < 0.06 else None
            rec = self.gen.record(k, self._upsert(k), vectors=self.vectors, invalid=invalid)
            out.append(rec)
            if invalid is None:
                if k not in self.live_set:
                    delta += 1
                self._admit(k)
            if rng.random() < 0.02:
                out.append(dict(rec))
        rng.shuffle(out)
        return out, delta

    def churn(self, i: int, n_update: int, n_insert: int, n_delete: int):
        """A fixed-size refresh churn: updated rows (new counters, some
        new titles), inserts and deletes, in sizes the caller assumes.
        Keys in the vector index's frozen samples are never touched.
        Returns (records, deleted ids, expected row delta)."""
        rng = self.gen._rng(20_000_003, i)
        pool = [k for k in self.live if not frozen_sample(k)]
        chosen = rng.sample(pool, n_update + n_delete)
        upd, dele = chosen[:n_update], chosen[n_update:]
        ins = []
        while len(ins) < n_insert:
            k = self.next_key
            self.next_key += 1
            if not frozen_sample(k):
                ins.append(k)
        recs = [self.gen.record(k, self._upsert(k), vectors=self.vectors) for k in upd + ins]
        for k in ins:
            self._admit(k)
        for k in dele:
            self.live_set.discard(k)
        self.live = [k for k in self.live if k in self.live_set]
        return recs, dele, n_insert - n_delete
