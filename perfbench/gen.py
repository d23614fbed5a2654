"""Seeded inputs for the benchmark: the corpus tables and the request
streams. Everything here is a pure function of ``seed`` (and the scale
factor), so one seed always yields the same bytes and the same requests.

The tables have the schema and value domains of the engine's test data
(``customer``, ``lineitem``, ``documents``, ``embeddings``), so the
registered queries and their oracles run on them unchanged. Sizes follow
the same scale convention: sf0.1 has 15,000 customers, 600,000
lineitems, 5,000 documents and 2,000 64-d vectors.
"""

from __future__ import annotations

import datetime as dt
import itertools

import numpy as np
import pyarrow as pa

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DIM = 64
N_LABELS = 10
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
DUP_SHARE = 0.05
# table -> id of its random stream, so the set of tables asked for does
# not change any table's data
TABLES = {"customer": 2, "lineitem": 6, "documents": 8, "embeddings": 9}
# rows at sf1 (orders, parts and suppliers only bound lineitem's keys)
BASE_ROWS = {"n_cust": 150_000, "n_supp": 10_000, "n_part": 200_000,
             "n_ord": 1_500_000, "n_li": 6_000_000,
             "n_doc": 50_000, "n_vec": 20_000}


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10-100 words drawn uniformly from VOCAB; 5%
    are an earlier document plus the marker word ``dup`` (near-dups)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for i, ln in enumerate(lens):
        if i > 0 and rng.random() < DUP_SHARE:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def unit_vectors(rng: np.random.Generator, centers: np.ndarray,
                 labels: np.ndarray, noise: float = 0.12) -> np.ndarray:
    v = centers[labels] + noise * rng.standard_normal((len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def label_centers(seed: int) -> np.ndarray:
    c = np.random.default_rng([seed, 7]).standard_normal((N_LABELS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True) * 0.15


def _vector_column(v: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.reshape(-1), pa.float32()), DIM).cast(pa.list_(pa.float32()))


def tables(sf: float, seed: int, names) -> dict[str, pa.Table]:
    """The named tables at scale ``sf``."""
    sizes = {k: max(1, int(round(base * sf))) for k, base in BASE_ROWS.items()}
    sizes["seed"] = seed
    return {name: _BUILDERS[name](np.random.default_rng([seed, 1, TABLES[name]]), sizes)
            for name in names}


def _customer(rng, n):
    k = n["n_cust"]
    return pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, k)]})


def _lineitem(rng, n):
    k = n["n_li"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n["n_ord"], k),
        "l_partkey": rng.integers(0, n["n_part"], k),
        "l_suppkey": rng.integers(0, n["n_supp"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, k) * 86400)})


def _documents(rng, n):
    k = n["n_doc"]
    texts = doc_texts(rng, k)
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n):
    labels = rng.integers(0, N_LABELS, n["n_vec"])
    return pa.table({
        "vec_id": np.arange(n["n_vec"], dtype=np.int64),
        "embedding": _vector_column(unit_vectors(rng, label_centers(n["seed"]), labels)),
        "label": labels.astype(np.int32)})


_BUILDERS = {name: globals()[f"_{name}"] for name in TABLES}


# -- request streams ---------------------------------------------------------

# query words: the vocabulary without its stopwords (a stopword-only
# query has no keyword leg, and the oracles do not model that case)
QUERY_WORDS = [w for w in VOCAB if w not in ("a", "the")]
TERM_SETS = list(itertools.combinations(QUERY_WORDS, 2))


class Requests:
    """Seeded request parameters over one corpus, drawn without skew and
    without repeats, as the source system's own harness issues its query
    sets: each term set is a distinct pair of query words and each query
    vector a fresh draw from the corpus's vector distribution (same
    centers and noise, its own random stream), the way a held-out query
    set is. Term sets and document ids go through a seeded permutation,
    so none repeats until all have been used. ``seen`` records every term
    set and vector handed out, for the repeat shares."""

    def __init__(self, seed: int, doc_ids: np.ndarray):
        self.rng = np.random.default_rng([seed, 5])
        self.doc_ids = doc_ids
        self._vec_rng = np.random.default_rng([seed, 4])
        self._centers = label_centers(seed)
        self._term_order = np.random.default_rng([seed, 2]).permutation(len(TERM_SETS))
        self._doc_order = np.random.default_rng([seed, 3]).permutation(doc_ids)
        self.seen_terms: list[tuple] = []
        self.seen_vectors: list[bytes] = []
        self._n_docs = 0

    def terms(self) -> str:
        words = TERM_SETS[self._term_order[len(self.seen_terms) % len(TERM_SETS)]]
        self.seen_terms.append(words)
        return " ".join(words)

    def vector(self) -> list[float]:
        label = self._vec_rng.integers(0, N_LABELS, 1)
        v = unit_vectors(self._vec_rng, self._centers, label)[0]
        self.seen_vectors.append(v.tobytes())
        return [float(x) for x in v]

    def doc_id(self) -> int:
        i = int(self._doc_order[self._n_docs % len(self._doc_order)])
        self._n_docs += 1
        return i

    def repeat_shares(self) -> dict[str, float]:
        """Share of term sets / vectors that were handed out before."""
        def share(xs):
            return round(1 - len(set(xs)) / len(xs), 4) if xs else 0.0
        return {"repeated_term_sets": share(self.seen_terms),
                "repeated_vectors": share(self.seen_vectors)}

    def doc_rows(self, n_new: int, next_id: int, n_replace: int) -> dict:
        """One write batch: ``n_new`` fresh ids from ``next_id`` on plus
        ``n_replace`` existing ids, all with new text."""
        replace_ids = self.rng.choice(self.doc_ids, n_replace, replace=False)
        ids = np.concatenate([np.arange(next_id, next_id + n_new), replace_ids])
        texts = doc_texts(self.rng, len(ids))
        return {
            "doc_id": ids.astype(np.int64),
            "text": texts,
            "lang": LANGS[self.rng.choice(5, len(ids), p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
