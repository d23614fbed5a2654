"""Output checks, run after the timed window: DuckDB over the same
parquet files for keyword, hybrid, fetch and aggregate results, exact
numpy top-k for vector search, and the registry's own oracle SQL with
the driver check's order-insensitive value hash for registered queries.
Each check returns an error message, or None when the output is right.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import numpy as np

import engine

TOL = 1e-5


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _ranked(rows, id_col: str, score_col: str) -> list[tuple]:
    return [(int(r[id_col]), float(r[score_col])) for r in rows]


def _same_ranking(got: list[tuple], want: list[tuple]) -> str | None:
    if [i for i, _ in got] != [i for i, _ in want]:
        return f"ids {[i for i, _ in got]} != {[i for i, _ in want]}"
    worst = max((abs(a - b) for (_, a), (_, b) in zip(got, want)), default=0.0)
    return f"scores differ by {worst}" if worst > TOL else None


def check_bm25(con, terms: str, limit: int, rows) -> str | None:
    from weaviate_spark.operators.bm25 import bm25_oracle_sql

    want = con.execute(bm25_oracle_sql("documents", "text", "doc_id", terms,
                                       limit=limit)).fetchall()
    return _same_ranking(_ranked(rows, "doc_id", "_score"),
                         [(int(a), float(b)) for a, b, *_ in want])


def check_hybrid(con, terms: str, vec, limit: int, rows) -> str | None:
    from weaviate_spark.operators.hybrid import hybrid_oracle_sql

    want = con.execute(hybrid_oracle_sql(terms, vec, alpha=0.5,
                                         fusion="relativeScore",
                                         limit=limit)).fetchall()
    return _same_ranking(_ranked(rows, "doc_id", "_score"),
                         [(int(a), float(b)) for a, b in want])


def check_knn(vectors: np.ndarray, ids: np.ndarray, vec, limit: int, rows) -> str | None:
    """Exact cosine top-k: every returned distance is the true one, and
    the returned distances are the k smallest."""
    v = vectors.astype(np.float64)
    q = np.asarray(vec, dtype=np.float64)
    dist = 1 - v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    by_id = dict(zip(ids.tolist(), dist))
    got = _ranked(rows, "vec_id", "_distance")
    if len(got) != min(limit, len(ids)):
        return f"{len(got)} rows, want {min(limit, len(ids))}"
    for i, d in got:
        if abs(by_id[i] - d) > TOL:
            return f"distance of {i} is {d}, want {by_id[i]}"
    kth = np.sort(dist)[: len(got)]
    worst = float(np.max(np.abs(np.sort([d for _, d in got]) - kth)))
    return f"not the nearest {limit} (off by {worst})" if worst > TOL else None


def check_fetch(con, min_chars: int, lang: str, limit: int, rows) -> str | None:
    want = [r[0] for r in con.execute(
        "SELECT doc_id FROM documents WHERE n_chars > ? AND lang = ? "
        "ORDER BY n_chars DESC, doc_id LIMIT ?", [min_chars, lang, limit]).fetchall()]
    got = [int(r["doc_id"]) for r in rows]
    return None if got == want else f"ids {got} != {want}"


def check_agg(con, source: str, rows) -> str | None:
    want = {lang: (n, round(m, 6), mx) for lang, n, m, mx in con.execute(
        "SELECT lang, count(n_chars), avg(n_chars), max(n_chars) FROM documents "
        "WHERE source = ? GROUP BY lang", [source]).fetchall()}
    got = {r["lang"]: (int(r["n_chars_count"]), round(float(r["n_chars_mean"]), 6),
                       int(r["n_chars_maximum"])) for r in rows}
    return None if got == want else f"{got} != {want}"


def check_by_id(doc_id: int, text: str, rows) -> str | None:
    got = [(int(r["doc_id"]), r["text"]) for r in rows]
    return None if got == [(doc_id, text)] else f"{got} != {[(doc_id, text)]}"


def check_count(want: int, rows) -> str | None:
    got = int(rows[0]["meta_count"])
    return None if got == want else f"meta_count {got} != {want}"


def check_shape(rows, limit: int) -> str | None:
    ids = [int(r["doc_id"]) for r in rows]
    if not 0 < len(ids) <= limit or len(set(ids)) != len(ids):
        return f"bad result shape: ids {ids}"
    return None


def check_documents(con, texts: dict[int, str]) -> list[str]:
    got = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    if len(got) != con.execute("SELECT count(*) FROM documents").fetchone()[0]:
        return ["documents: duplicate ids"]
    if got.keys() != texts.keys():
        return [f"documents: {len(got)} ids, want {len(texts)} "
                f"({len(got.keys() ^ texts.keys())} differ)"]
    wrong = [i for i in texts if got[i] != texts[i]]
    return [f"documents: {len(wrong)} texts differ, e.g. id {wrong[0]}"] if wrong else []


@functools.cache
def _value_hash():
    """``value_hash`` from the repository's driver check script."""
    path = os.path.join(engine.ROOT, "tools", "driver_check.py")
    spec = importlib.util.spec_from_file_location("driver_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def query_oracles(con, names) -> dict[str, tuple]:
    """name -> (sorted columns, rows, value hash) of the registry oracle."""
    from weaviate_spark.entry_queries import ORACLES

    out = {}
    for name in names:
        ddf = con.execute(ORACLES[name]).fetchdf()
        out[name] = (sorted(ddf.columns), len(ddf), _value_hash()(ddf))
    return out


def check_query(expected: dict, name: str, pdf) -> str | None:
    cols, rows, h = expected[name]
    if sorted(pdf.columns) != cols:
        return f"columns {sorted(pdf.columns)} != {cols}"
    if len(pdf) != rows:
        return f"{len(pdf)} rows != {rows}"
    return None if _value_hash()(pdf) == h else "value hash mismatch"
