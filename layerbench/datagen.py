"""Seeded input generators.  The same seed always gives the same tables and
the same document stream.

The benchmark reads nothing outside its checkout, so it generates stand-ins
for the engine's sf fixtures: the same tables, with the same column names
and types and the same row counts per scale factor (lineitem = 6M x sf
rows, orders = 1.5M x sf, documents = 50k x sf, ...), and value domains
drawn like the fixture files' own (the document vocabulary, 10-100 words a
text, 20 sources, 5 languages).  Compared at sf0.1, the generated tables and
the fixture gave every scan-mix query the same Spark job counts, cold and
warm, and their document texts the same length quartiles.  Every value with
a fraction has at most two decimals, so the oracle's fixed-point sums stay
exact.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "red", "hot", "new", "small", "large", "green", "old")
PART_NOUN = ("bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000


def _days_since(start: datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` texts of 10-100 words from the fixture vocabulary.  About one
    in twenty is an earlier text with `` dup`` appended, so the dedup
    operators have near-duplicates to find."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def documents(rng: np.random.Generator, doc_ids: np.ndarray) -> pa.Table:
    """A documents table (``doc_id, text, lang, source, n_chars``) for the
    given ids; a document's source is ``src<doc_id mod 20>``."""
    texts = document_texts(rng, len(doc_ids))
    langs = rng.choice(len(LANGS), len(doc_ids), p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{d % N_SOURCES}" for d in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dims: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a label in 0..9."""
    v = rng.standard_normal((n, dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The relational tables plus ``events``, ``documents`` and
    ``embeddings`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vecs = int(50_000 * sf), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = rng.integers(0, 64, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[i // 8]} {PART_NOUN[i % 8]}" for i in names],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days_since(datetime(1995, 1, 1), rng.integers(0, 2405, n_ord)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days_since(datetime(1995, 1, 2), rng.integers(0, 2499, n_line)),
        }
    )
    # distinct, sorted microsecond timestamps over 30 days: no ts ties, so
    # every "latest event" ordering is total
    ts = np.sort(rng.choice(30 * _US_PER_DAY, n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(rng, np.arange(n_docs))
    t["embeddings"] = embeddings(rng, n_vecs)
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One parquet file per table, ``<sf_dir>/<name>.parquet``, as the
    engine's catalog expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


class DocumentStream:
    """The sensor's landing feed.  Each :meth:`next_batch` holds
    :attr:`BATCH_DOCS` new documents, in an order drawn from the seed, plus
    a tenth of that count re-delivered unchanged from earlier batches (the
    reference's per-tick batch size, BASELINE.md).  Document ids come from
    the sf0.1 documents table's range."""

    BATCH_DOCS = 50
    REDELIVERED = 5
    N_DOCS = 5_000

    def __init__(self, seed: int):
        self._rng = np.random.default_rng([seed, 2])
        self._order = self._rng.permutation(self.N_DOCS)
        self._sent: list[pa.Table] = []
        self._next = 0

    def next_batch(self) -> pa.Table:
        ids = self._order[self._next : self._next + self.BATCH_DOCS]
        self._next += len(ids)
        fresh = documents(self._rng, ids)
        batch = fresh
        if self._sent:
            earlier = pa.concat_tables(self._sent)
            pick = self._rng.choice(earlier.num_rows, self.REDELIVERED, replace=False)
            batch = pa.concat_tables([fresh, earlier.take(np.sort(pick))])
        self._sent.append(fresh)
        return batch

    def delivered(self) -> pa.Table:
        """Every distinct document delivered so far."""
        return pa.concat_tables(self._sent)
