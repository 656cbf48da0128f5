"""Deterministic input tables for the benchmark.

The tables mirror the schemas of the engine's synthetic star schema
(lineitem-like facts, a `documents` corpus and an `embeddings` table) but
are generated here, from a fixed generator seed, so the benchmark needs
nothing outside its checkout.  The base tables never depend on the
workload seed; the workload seed only picks splits, request order and
query vectors (see workloads.py).

Tables are written once per checkout under `.bench_build/` and reused by
later runs; a run that finds them already there pays nothing for them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generator changes: the cache directory name carries it
DATA_VERSION = 1
GENERATOR_SEED = 20240801

LINEITEM_ROWS = 240_000
LINEITEM_FILES = 4
DOCUMENTS = 2_000
EMBEDDINGS = 2_000
EMBEDDING_DIM = 64


def data_dir(root: str) -> str:
    return os.path.join(root, ".bench_build", f"perfbench-data-v{DATA_VERSION}")


def lineitem_table(rng: np.random.Generator, n: int = LINEITEM_ROWS) -> pa.Table:
    """TPC-H-shaped line items whose return flag depends on the features,
    so a binned index has signal to learn.  `l_tax` is NULL on ~0.5% of
    rows to exercise the null-bin path."""
    # orders of 1..7 lines; l_linenumber is the position inside the order
    sizes = rng.integers(1, 8, size=n)
    order_of_line = np.repeat(np.arange(1, n + 1), sizes)[:n]
    starts = np.r_[0, np.flatnonzero(np.diff(order_of_line)) + 1]
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
    partkey = rng.integers(1, 20_001, size=n)
    suppkey = rng.integers(1, 1_001, size=n)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    discount = rng.integers(0, 11, size=n) / 100.0
    tax = rng.integers(0, 9, size=n) / 100.0
    retail = 900.0 + (partkey % 2_000) / 2.0 + 100.0 * (partkey % 7)
    price = np.round(quantity * retail * rng.uniform(0.95, 1.05, size=n), 2)
    logit = (
        -1.6
        + 1.4 * (discount - 0.05) / 0.05
        + 0.9 * (quantity > 35)
        + 0.8 * ((partkey % 97) < 25)
        - 0.5 * (linenumber >= 5)
        + 0.4 * ((suppkey % 50) < 10)
    )
    returned = rng.random(n) < 1.0 / (1.0 + np.exp(-logit))
    other = np.where(rng.random(n) < 0.5, "A", "N")
    flag = np.where(returned, "R", other)
    tax_mask = rng.random(n) < 0.005
    return pa.table(
        {
            "row_id": pa.array(np.arange(n, dtype=np.int64)),
            "l_orderkey": pa.array(order_of_line.astype(np.int64)),
            "l_partkey": pa.array(partkey.astype(np.int64)),
            "l_suppkey": pa.array(suppkey.astype(np.int64)),
            "l_linenumber": pa.array(linenumber.astype(np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(discount),
            "l_tax": pa.array(tax, mask=tax_mask),
            "l_returnflag": pa.array(flag),
        }
    )


def _vocabulary(rng: np.random.Generator, size: int = 1_500) -> list[str]:
    syllables = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa",
                 "go", "li", "ze", "mu", "ha", "te", "bo", "ri", "na", "fu"]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(syllables[i] for i in rng.integers(0, len(syllables), k)))
    return sorted(words)


def documents_table(rng: np.random.Generator, n: int = DOCUMENTS) -> pa.Table:
    """Word-salad documents with planted near-duplicates: ~6% copy an
    earlier document with one word changed, ~2% copy one verbatim, so the
    minhash pair set is small but never empty."""
    vocab = np.array(_vocabulary(rng))
    # Zipf-ish word frequencies, like real text
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab, p=weights))
            texts.append(" ".join(words))
        elif i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            length = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(vocab, size=length, p=weights)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
        }
    )


def embeddings_table(
    rng: np.random.Generator, n: int = EMBEDDINGS, dim: int = EMBEDDING_DIM
) -> pa.Table:
    """Unit-ish float32 vectors around ten centroids."""
    centroids = rng.normal(0.0, 1.0, size=(10, dim))
    label = rng.integers(0, 10, size=n)
    vecs = (centroids[label] + rng.normal(0.0, 0.6, size=(n, dim))) / np.sqrt(dim)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def ensure_data(root: str) -> str:
    """Write the tables under `root` unless a complete copy is there;
    returns the directory.  Writes go to a temporary sibling that is
    renamed into place, so an interrupted run never leaves a half copy."""
    out = data_dir(root)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(GENERATOR_SEED)
    li = lineitem_table(rng)
    os.makedirs(os.path.join(tmp, "lineitem.parquet"))
    step = -(-li.num_rows // LINEITEM_FILES)
    for i in range(LINEITEM_FILES):
        pq.write_table(
            li.slice(i * step, step),
            os.path.join(tmp, "lineitem.parquet", f"part-{i:05d}.parquet"),
        )
    pq.write_table(documents_table(rng), os.path.join(tmp, "documents.parquet"))
    pq.write_table(embeddings_table(rng), os.path.join(tmp, "embeddings.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:  # another run finished first
        if not os.path.exists(os.path.join(out, "_COMPLETE")):
            raise
        shutil.rmtree(tmp)
    return out


def read_table(data: str, name: str) -> pa.Table:
    return pq.read_table(os.path.join(data, f"{name}.parquet"))
