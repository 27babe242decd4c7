"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the workload seed, so two runs with one
seed see byte-identical inputs. Nothing is read from outside the checkout:
the ml documents are synthesized here, and the etl delta batches are
generated together with the insert/update counts each sink must report.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word list in the style of the engine's document fixtures: a small
#: closed vocabulary, so shingle-based dedup and BPE see repeated n-grams.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big customer query order group "
    "column data stream filter index plan cache shuffle task stage job "
    "node edge graph rank label token"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, version="2.6")


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents of 20-80 words, with planted near-duplicates: a
    fifth of them in clusters of four and a tenth in pairs, each copy one
    word edited from its cluster's first document.

    Planted documents are 80 words long, so every planted pair has a
    Jaccard similarity of about 0.86 or more and the MinHash LSH finds
    them on every seed, while unrelated documents share almost no
    3-shingles. The near-dup graph then has the same shape for every
    seed: the 2-core peel removes the pairs in one round and keeps the
    clusters, so the graph queries do the same work and the seed moves
    only words and positions."""
    lens = rng.integers(20, 81, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=int(k))) for k in lens]
    order = rng.permutation(n)
    n4, n2 = (n // 5) // 4 * 4, (n // 10) // 2 * 2
    groups = [*order[:n4].reshape(-1, 4), *order[n4 : n4 + n2].reshape(-1, 2)]
    for group in groups:
        words = list(rng.choice(VOCAB, size=80))
        texts[group[0]] = " ".join(words)
        for doc in group[1:]:
            copy = list(words)
            copy[int(rng.integers(0, len(copy)))] = str(rng.choice(VOCAB))
            texts[doc] = " ".join(copy)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                rng.choice(["en", "de", "fr", "es"], size=n, p=[0.7, 0.1, 0.1, 0.1]),
                pa.string(),
            ),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_ml_inputs(seed: int, out_dir: str, n_docs: int) -> None:
    """documents parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    docs = gen_documents(np.random.default_rng(seed), n_docs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))


# ---------------------------------------------------------------------------
# etl-upsert: orders base table + update-heavy delta batches
# ---------------------------------------------------------------------------

ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


@dataclass(frozen=True)
class Batch:
    """One delta batch on disk, with the counts every upsert sink must
    report when it lands on the state left by the batches before it."""

    path: str
    inserts: int
    updates: int
    nbytes: int


def _orders(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    days = rng.integers(0, 2400, size=n)
    dates = (np.datetime64("1992-01-01") + days).astype(str)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, size=n)),
            # whole cents, so decimal sums in the checks are exact
            "o_totalprice": pa.array(
                rng.integers(90_000, 50_000_000, size=n) / 100.0, pa.float64()
            ),
            "o_orderdate": pa.array(dates, pa.string()),
            "o_orderpriority": pa.array(rng.choice(ORDER_PRIORITY, size=n)),
        }
    )


def make_etl_inputs(
    seed: int,
    out_dir: str,
    n_base: int,
    n_batches: int,
    batch_rows: int,
    insert_share: float,
) -> tuple[str, list[Batch]]:
    """Base ``orders`` parquet plus ``n_batches`` delta batches.

    Each batch updates distinct existing keys (every update changes
    ``o_totalprice``, so SCD2 always closes one version per update) and
    inserts fresh keys above the current maximum, so the target grows by
    ``insert_share`` of a batch per batch and per-batch cost stays flat.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, n_base // 10)
    base_path = os.path.join(out_dir, "orders.parquet")
    _write(_orders(rng, np.arange(n_base), n_cust), base_path)
    n_keys = n_base
    n_ins = max(1, round(batch_rows * insert_share))
    n_upd = batch_rows - n_ins
    batches = []
    for b in range(n_batches):
        upd_keys = rng.choice(n_keys, size=n_upd, replace=False)
        ins_keys = np.arange(n_keys, n_keys + n_ins)
        n_keys += n_ins
        keys = np.concatenate([upd_keys, ins_keys])
        tbl = _orders(rng, keys, n_cust)
        # a price change guaranteed non-zero: the batch always differs from
        # whatever state the key held before
        price = tbl.column("o_totalprice").to_numpy() + (1 + b) / 100.0
        tbl = tbl.set_column(3, "o_totalprice", pa.array(np.round(price, 2)))
        path = os.path.join(out_dir, f"delta-{b:04d}.parquet")
        _write(tbl, path)
        batches.append(Batch(path, n_ins, n_upd, os.path.getsize(path)))
    return base_path, batches
