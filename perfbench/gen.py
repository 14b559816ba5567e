"""Seeded input generation for the benchmark workloads.

Everything the engine receives is produced here from ``--seed``: the
document and embedding corpora, the ledger's initial rows, the scraped
list pages with their mutations and new keys, the lookup keys and the
query pass order, and the orders table with its lookup keys. The same seed yields byte-identical
inputs; the engine never sees the seed itself.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# The corpora reproduce the shape of the engine's sf0.1 test corpus
# (measured, see perfbench/README.md): this 30-word vocabulary drawn
# uniformly, 10-99 tokens per document, 5 % near duplicates (another
# document's text plus a ``dup`` token), languages en 41 % and the
# other four about 15 % each, 20 round-robin sources, and unit-length
# 64-dim embeddings with labels 0-9.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUP_FRAC = 0.05
PAYLOAD_VOCAB = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma "
    "join group table stream hash scan"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
UNIT_SEP = "\x1f"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def key_name(i: int) -> str:
    return f"k{i:07d}"


def row_hash(key: str, payload: str) -> str:
    """The engine's canonical checksum over (lookup_key, payload):
    md5 of the sorted-name fields joined by the unit separator."""
    return hashlib.md5(f"{key}{UNIT_SEP}{payload}".encode()).hexdigest()


# -- llm_curation corpora ----------------------------------------------------


def documents(seed: int, n: int) -> pa.Table:
    """Documents of 10-99 tokens; a seeded 5 % are replaced, one after
    another, by a uniformly drawn document's text plus ``dup``. Exact
    duplicates arise only when two of them draw the same text, as in
    sf0.1 (8 of 5,000)."""
    rng = rng_for(seed, "documents")
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    for i in rng.choice(n, round(n * NEAR_DUP_FRAC), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    """Gaussian directions scaled to unit length, labels uniform 0-9."""
    rng = rng_for(seed, "embeddings")
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def pass_orders(seed: int, names: list[str]):
    """Endless seeded stream of shuffled query orders."""
    rng = rng_for(seed, "pass_order")
    while True:
        yield [names[j] for j in rng.permutation(len(names))]


# -- etl_incremental batches -------------------------------------------------


def _payload(rng: np.random.Generator) -> str:
    k = int(rng.integers(3, 7))
    return " ".join(PAYLOAD_VOCAB[j] for j in rng.integers(0, len(PAYLOAD_VOCAB), k))


@dataclass
class Batch:
    pages: dict[int, str]  # page number -> page body
    n_rows: int
    n_changed: int  # rows whose (key, hash) is not in the ledger
    n_new: int


class LedgerModel:
    """Ground truth of the ETL ledger: the generator mutates it exactly
    as a correct engine must mutate the real one."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = rng_for(seed, "etl")
        self.rows: dict[str, str] = {}  # key -> payload
        self._next_key = 0
        for _ in range(n_keys):
            self.rows[self._new_key()] = _payload(self.rng)

    def _new_key(self) -> str:
        k = key_name(self._next_key)
        self._next_key += 1
        return k

    def initial_rows(self) -> list[tuple[str, str, str]]:
        return [(k, p, row_hash(k, p)) for k, p in self.rows.items()]

    def expected_state(self) -> list[tuple[str, str]]:
        return sorted((k, row_hash(k, p)) for k, p in self.rows.items())

    def next_batch(
        self, n_pages: int, rows_per_page: int, change_frac: float, new_frac: float
    ) -> Batch:
        rng = self.rng
        n_rows = n_pages * rows_per_page
        n_new = max(1, round(n_rows * new_frac))
        keys = list(self.rows)
        picked = [keys[j] for j in rng.choice(len(keys), n_rows - n_new, replace=False)]
        n_mut = round(len(picked) * change_frac)
        mutated = set(rng.choice(len(picked), n_mut, replace=False).tolist())
        out: list[tuple[str, str]] = []
        n_changed = n_new
        for j, k in enumerate(picked):
            p = self.rows[k]
            if j in mutated:
                q = _payload(rng)
                if q != p:
                    n_changed += 1
                p = q
            out.append((k, p))
        out += [(self._new_key(), _payload(rng)) for _ in range(n_new)]
        order = rng.permutation(len(out))
        out = [out[j] for j in order]
        for k, p in out:
            self.rows[k] = p
        pages = {
            pg: "\n".join(
                f"{k}|{p}" for k, p in out[pg * rows_per_page : (pg + 1) * rows_per_page]
            )
            for pg in range(n_pages)
        }
        return Batch(pages, n_rows, n_changed, n_new)


# -- ledger lookups ------------------------------------------------------------

ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def orders(seed: int, n: int, n_customers: int) -> pa.Table:
    """An orders table shaped like sf0.1's: ``o_orderkey`` 0..n-1 in
    order, ``o_custkey`` uniform over ``n_customers`` (about ten orders
    each), status, priority, price and day drawn uniformly over the
    ranges sf0.1 holds."""
    rng = rng_for(seed, "orders")
    day0 = np.datetime64("1995-01-01", "D")
    days = (np.datetime64("2001-08-01", "D") - day0).astype(int) + 1
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(ORDER_STATUS)[rng.integers(0, len(ORDER_STATUS), n)]
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500_000.0, n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(
                (day0 + rng.integers(0, days, n)).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                np.array(ORDER_PRIORITY)[rng.integers(0, len(ORDER_PRIORITY), n)]
            ),
        }
    )


def lookup_args(seed: int, n_customers: int, n_orders: int, window: int):
    """Endless seeded stream of (customer key for a point lookup, first
    order key of a ``window``-key range read)."""
    rng = rng_for(seed, "lookups")
    while True:
        yield int(rng.integers(0, n_customers)), int(rng.integers(0, n_orders - window + 1))
