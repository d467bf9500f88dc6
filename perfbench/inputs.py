"""Seeded input generators for the three workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, so a run's inputs can be re-created from its seed
and the self-check can hash them.  Generation uses NumPy, pandas and
pyarrow only, so the program under test sees nothing but the files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: analyst_session: rows of the orders fact (one CSV file, one partition)
ANALYST_ORDERS = 12_000
ANALYST_STORES = 20
#: batch_scan: fact rows, split over BATCH_FILES parquet files
BATCH_ROWS = 1_000_000
BATCH_FILES = 8
BATCH_STORES = 1_000
#: curation_pipeline: original documents, plus planted duplicates
CURATION_DOCS = 1_000
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
LOW_QUALITY_SHARE = 0.05

CHANNELS = ["web", "store", "phone", "app"]


@dataclass
class Inputs:
    """Paths of one workload's generated files plus what the oracle
    needs to know about them."""

    root: str
    paths: dict[str, str]
    rows: dict[str, int]
    facts: dict = field(default_factory=dict)

    def digest(self) -> str:
        """SHA-256 over every generated file's bytes, in name order."""
        h = hashlib.sha256()
        for name in sorted(self.paths):
            path = self.paths[name]
            files = (
                sorted(os.path.join(path, f) for f in os.listdir(path))
                if os.path.isdir(path)
                else [path]
            )
            for f in files:
                h.update(os.path.basename(f).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    def size_bytes(self, name: str) -> int:
        path = self.paths[name]
        if os.path.isdir(path):
            return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        return os.path.getsize(path)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def analyst_inputs(root: str, seed: int, n: int = ANALYST_ORDERS) -> Inputs:
    """orders.csv (an orders fact in file order = order_id order) and
    stores.parquet (store → region, city)."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 1)
    stores = [f"s{i:02d}" for i in range(ANALYST_STORES)]
    orders = pd.DataFrame(
        {
            "order_id": np.arange(1, n + 1),
            "store": rng.choice(stores, n),
            "product": np.char.add("p", rng.integers(0, 150, n).astype(str)),
            "year": rng.integers(2015, 2025, n),
            "month": rng.integers(1, 13, n),
            "qty": rng.integers(1, 21, n),
            "price": np.round(rng.uniform(1.0, 100.0, n), 2),
        }
    )
    paths = {
        "orders": os.path.join(root, "orders.csv"),
        "stores": os.path.join(root, "stores.parquet"),
    }
    orders.to_csv(paths["orders"], index=False)
    dim = pa.table(
        {
            "store": stores,
            "region": [f"r{int(x)}" for x in rng.integers(0, 4, len(stores))],
            "city": [f"c{i:02d}" for i in rng.permutation(len(stores))],
        }
    )
    pq.write_table(dim, paths["stores"])
    return Inputs(root, paths, {"orders": n, "stores": len(stores)})


def batch_inputs(root: str, seed: int, n: int = BATCH_ROWS) -> Inputs:
    """fact/ (``BATCH_FILES`` parquet files) and stores.parquet.  ``score``
    is a permutation of 0..n-1, so a top-k by score has no ties."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 2)
    fact_dir = os.path.join(root, "fact")
    os.makedirs(fact_dir, exist_ok=True)
    score = rng.permutation(n)
    per = -(-n // BATCH_FILES)
    for i in range(BATCH_FILES):
        lo, hi = i * per, min(n, (i + 1) * per)
        m = hi - lo
        part = pa.table(
            {
                "id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "store_id": pa.array(rng.integers(0, BATCH_STORES, m, dtype=np.int32)),
                "product_id": pa.array(rng.integers(0, 2000, m, dtype=np.int32)),
                "dow": pa.array(rng.integers(0, 7, m, dtype=np.int32)),
                "channel": pa.array(np.array(CHANNELS)[rng.integers(0, 4, m)]),
                "qty": pa.array(rng.integers(1, 21, m, dtype=np.int32)),
                "price": pa.array(np.round(rng.uniform(1.0, 100.0, m), 2)),
                "score": pa.array(score[lo:hi].astype(np.int64)),
            }
        )
        pq.write_table(part, os.path.join(fact_dir, f"part-{i:02d}.parquet"))
    stores = pa.table(
        {
            "store_id": pa.array(np.arange(BATCH_STORES, dtype=np.int32)),
            "region": [f"r{int(x)}" for x in rng.integers(0, 8, BATCH_STORES)],
        }
    )
    paths = {"fact": fact_dir, "stores": os.path.join(root, "stores.parquet")}
    pq.write_table(stores, paths["stores"])
    return Inputs(root, paths, {"fact": n, "stores": BATCH_STORES})


_STOPWORDS = ["the", "and", "of", "to", "in", "is", "for", "with", "on", "that"]


def curation_inputs(root: str, seed: int, n_orig: int = CURATION_DOCS) -> Inputs:
    """corpus.csv (doc_id, source, text) with planted duplicates.

    Originals take ids 1..n_orig; every planted copy gets a larger id, so
    the min-id representative of each duplicate group is its original.
    Exact copies differ from their original only in case and punctuation
    (equal after normalization); near copies substitute one word (word
    3-shingle Jaccard ≈ 0.9 ≥ the 0.8 threshold).  Low-quality originals
    are digit strings with no stopwords (quality score < 0.5).  The
    expected survivors are the originals that are not low quality."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 3)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, int(k))) for k in rng.integers(3, 9, 3000)]
    words = np.array(vocab + _STOPWORDS * 60)

    n_low = int(n_orig * LOW_QUALITY_SHARE)
    low = set(rng.choice(np.arange(1, n_orig + 1), n_low, replace=False).tolist())
    docs: list[tuple[int, str, str]] = []
    bodies: dict[int, list[str]] = {}
    for doc_id in range(1, n_orig + 1):
        k = int(rng.integers(40, 90))
        if doc_id in low:
            toks = [str(int(x)) for x in rng.integers(100, 99999, k)]
        else:
            toks = list(rng.choice(words, k))
        bodies[doc_id] = toks
        docs.append((doc_id, f"src{int(rng.integers(0, 12))}", " ".join(toks)))

    good = [d for d in range(1, n_orig + 1) if d not in low]
    next_id = n_orig + 1
    for d in rng.choice(good, int(n_orig * EXACT_DUP_SHARE), replace=False):
        toks = bodies[int(d)]
        text = " ".join(t.upper() if i % 5 == 0 else t for i, t in enumerate(toks))
        docs.append((next_id, f"src{int(rng.integers(0, 12))}", text + "!"))
        next_id += 1
    for d in rng.choice(good, int(n_orig * NEAR_DUP_SHARE), replace=False):
        toks = list(bodies[int(d)])
        toks[int(rng.integers(0, len(toks)))] = "zzq" + str(next_id)
        docs.append((next_id, f"src{int(rng.integers(0, 12))}", " ".join(toks)))
        next_id += 1

    order = rng.permutation(len(docs))
    frame = pd.DataFrame([docs[i] for i in order], columns=["doc_id", "source", "text"])
    paths = {"corpus": os.path.join(root, "corpus.csv")}
    frame.to_csv(paths["corpus"], index=False)
    return Inputs(
        root,
        paths,
        {"corpus": len(docs)},
        facts={"survivors": sorted(good)},
    )
