"""Derive ``profile.json`` — the statistics the benchmark generator draws
from — out of a synthetic testdata directory (``orders``, ``documents``
and ``embeddings`` parquet files, e.g. the sf0.1 set).

The benchmark itself never reads the testdata directory: it reads only
the profile committed beside this script, so a run needs nothing outside
its checkout. Re-run this when the testdata changes:

    python3 perfbench/make_profile.py <testdata-dir> > perfbench/profile.json
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def profile(sf_dir: str) -> dict:
    def table(name):
        return pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).to_pandas()

    docs = table("documents")
    words = collections.Counter(w for t in docs["text"] for w in t.split())
    doc_tokens = docs["text"].str.split().str.len().to_numpy()

    emb = table("embeddings")
    mat = np.stack(emb["embedding"].to_numpy()).astype("float64")
    labels = emb["label"].to_numpy()
    centroids, weights, spread = [], [], []
    for lab in sorted(set(labels.tolist())):
        part = mat[labels == lab]
        c = part.mean(axis=0)
        centroids.append([round(float(x), 6) for x in c])
        weights.append(int(len(part)))
        spread.append(float((part - c).std()))

    orders = table("orders")
    qs = np.linspace(0.0, 1.0, 21)
    return {
        "source": os.path.basename(os.path.normpath(sf_dir)),
        "vocab": [[w, n] for w, n in words.most_common()],
        "providers": sorted(
            docs["source"].unique().tolist(), key=lambda s: (len(s), s)
        ),
        "title_tokens_q": [
            int(x) for x in np.quantile(doc_tokens, qs).round()
        ],
        "orders_keys": int(orders["o_orderkey"].max()) + 1,
        "price_q": [
            round(float(x), 2) for x in np.quantile(orders["o_totalprice"], qs)
        ],
        "embedding_dim": int(mat.shape[1]),
        "centroids": centroids,
        "centroid_weights": weights,
        "noise_std": round(float(np.mean(spread)), 6),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: make_profile.py <testdata-dir>")
    json.dump(profile(sys.argv[1]), sys.stdout, indent=1)
    sys.stdout.write("\n")
