"""The three workloads. Each one loads a fresh corpus through the engine,
warms up with untimed cycles, then runs cycles of operations in a
closed loop (one client; the next call starts when the previous one has
returned) until the time is up. Every operation keeps what it needs to
be checked after the timed window.

* ``serve``  - read requests through the client facade.
* ``ingest`` - ``insert_many`` writes, each followed by reads.
* ``batch``  - passes over registered analytics queries.
"""

from __future__ import annotations

import itertools
import os
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import engine
import gen
import oracles
import tracing

TAIL_SHARE = 0.05      # share of documents loaded through insert_many
KEEP_VERSIONS = 2      # retention: vacuum(keep_last) after every write
LIMIT = 10
FETCH_LIMIT = 20

BATCH_QUERIES = (
    # registered query, op kind it reports under
    ("dedup_minhash_lsh", "dedup"),
    ("knn_classification", "knn"),
    ("hybrid_relative_score", "hybrid"),
    ("bm25_topk", "bm25"),
    ("agg_median_mode", "agg"),
    ("filter_sort_limit", "fetch"),
)


class Op:
    """One timed call. ``build`` is the engine call (it returns a lazy
    DataFrame, or performs a write); ``action`` materializes the frame;
    ``after`` runs once the op is timed; ``verify(con, op)`` returns an
    error message or None."""

    def __init__(self, kind, slot, call, build, action=None, verify=None,
                 after=None):
        self.kind, self.slot, self.call = kind, slot, call
        self.build, self.action = build, action
        self.verify, self.after = verify, after
        self.phase = self.lat = self.err = self.df = self.out = self.stats = None
        self.ok = True
        self.traced = False


def _collect(df):
    return df.collect()


class Workload:
    name = ""
    sf = 0.1
    tables = ("documents", "embeddings")
    warmup_cycles = 1

    def __init__(self, run_dir: str, seed: int, smoke: bool):
        """Generate the corpus from ``seed`` and write it under
        ``run_dir``; no engine code runs here."""
        self.run_dir, self.seed = run_dir, seed
        if smoke:
            self.sf = 0.001
        self.data_dir = os.path.join(run_dir, "data")
        self.ops: list[Op] = []
        self.writes: list[dict] = []
        t = gen.tables(self.sf, seed, self.tables)
        docs = t["documents"]
        n_base = docs.num_rows - max(1, int(docs.num_rows * TAIL_SHARE))
        self.tail = docs.slice(n_base)
        t["documents"] = docs.slice(0, n_base)
        os.makedirs(self.data_dir)
        for name in self.tables:
            pq.write_table(t[name], os.path.join(self.data_dir, f"{name}.parquet"))
        self.sizes = {name: t[name].num_rows for name in self.tables}
        self.vectors = np.asarray(
            t["embeddings"].column("embedding").combine_chunks().flatten(),
            dtype=np.float32).reshape(-1, gen.DIM)
        self.vec_ids = t["embeddings"].column("vec_id").to_numpy()
        self.texts = dict(zip(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist()))
        self.next_id = docs.num_rows
        self.req = gen.Requests(seed, np.arange(n_base))
        self.docs_dir = os.path.join(self.data_dir, "documents.parquet")

    def connect(self, spark, tracer=None) -> None:
        """Open the corpus through the client facade."""
        from weaviate_spark.client import connect

        self.spark, self.tracer = spark, tracer
        self.client = connect(spark, self.data_dir)
        cols = self.client.collections
        self.docs = cols.get("documents").with_config(id_col="doc_id")
        self.emb = cols.get("embeddings").with_config(id_col="vec_id")
        self.docs_emb = cols.get("docs_embedded").with_config(id_col="doc_id")

    def repeat_shares(self) -> dict[str, float]:
        """Share of query inputs that were handed out before in this run
        (set-up included): what a memo or cache could reuse."""
        return self.req.repeat_shares()

    # -- running -------------------------------------------------------------
    def run(self, op: Op, phase: str) -> Op:
        """Time one op. In the window a failure is recorded and counted;
        during set-up it propagates and aborts the run."""
        op.phase = phase
        tr = self.tracer
        op.traced = tr is not None
        req = f"{phase}-{len(self.ops)}"
        if tr is not None:
            tr.set_request(req)
            root = tr.begin(f"op.{op.kind}")
        t0 = time.perf_counter()
        try:
            op.df = self._span(op.call, op.build)
            if op.action is not None:
                op.out = self._span("spark.action", op.action, op.df)
        except Exception:
            if phase == "setup":
                raise
            op.ok, op.err = False, traceback.format_exc(limit=4)
        op.lat = time.perf_counter() - t0
        if tr is not None:
            tr.end(root)
            if op.ok and op.action is not None:
                t = time.perf_counter()
                op.stats = tracing.spark_op_stats(self.spark, req, op.df)
                tr.bookkeeping_s += time.perf_counter() - t
        if op.ok and op.after is not None:
            op.after()
        self.ops.append(op)
        return op

    def _span(self, name, fn, *args):
        tr = self.tracer
        if tr is None:
            return fn(*args)
        span = tr.begin(name)
        try:
            return fn(*args)
        finally:
            tr.end(span)

    def setup(self) -> None:
        """Load the newest documents through insert_many, then untimed
        warm-up cycles: the first builds the lazy indexes and compiles
        the JVM's hot paths, the rest let that compilation settle."""
        self.run(self.write_op(self.tail.to_pydict()), "setup")
        for _ in range(self.warmup_cycles):
            for op in self.cycle():
                self.run(op, "setup")

    def window(self, seconds: float, tracer=None) -> tuple[float, float]:
        """Closed loop of whole cycles, starting cycles until ``seconds``
        have passed, so every slot has the same number of samples.
        With a ``tracer`` (installed on entry), untraced and traced cycles
        alternate, ending on a traced one, so both sides of the
        tracing-overhead comparison sit on the same stretch of warm-up.
        Returns the window's start and end (perf_counter)."""
        start = time.perf_counter()
        for i in itertools.count():
            if tracer is not None:
                self.tracer = tracer if i % 2 else None
                if self.tracer is None:
                    tracer.uninstall()
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                else:
                    tracer.install()
            for op in self.cycle():
                self.run(op, "window")
            if time.perf_counter() - start >= seconds and (tracer is None or i % 2):
                return start, time.perf_counter()

    def check(self, con) -> list[str]:
        """Verify every window op; one message per failure."""
        bad = []
        for i, op in enumerate(self.ops):
            if op.phase != "window":
                continue
            msg = op.err or (op.verify(con, op) if op.verify else None)
            if msg:
                op.ok = False
                bad.append(f"op {i} {op.slot}: {msg}")
        return bad

    def prepare_oracles(self, con) -> None:
        """Oracle work that depends only on the final data (batch)."""

    def final_checks(self, con) -> list[str]:
        """The documents table holds exactly the rows written so far."""
        return oracles.check_documents(con, self.texts)

    # -- ops -----------------------------------------------------------------
    def write_op(self, rows: dict) -> Op:
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()), T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType())])
        ids = [int(i) for i in rows["doc_id"]]
        data = list(zip(ids, rows["text"], [str(x) for x in rows["lang"]],
                        rows["source"], [int(x) for x in rows["n_chars"]]))
        df = self.spark.createDataFrame(data, schema)
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in data]), buf, compression="zstd")

        def after():
            self.texts.update(zip(ids, rows["text"]))
            self.writes.append({"user_bytes": buf.getvalue().size,
                                "table_bytes": engine.du(self.docs_dir)})
            self.docs.data.vacuum(keep_last=KEEP_VERSIONS)

        return Op("write", "write", "client.insert_many",
                  lambda: self.docs.data.insert_many(df, key="doc_id"),
                  after=after)

    def bm25_op(self, terms: str) -> Op:
        return Op("bm25", "bm25", "client.bm25",
                  lambda: self.docs.query.bm25(terms, query_properties=["text"], limit=LIMIT),
                  _collect,
                  lambda con, op: oracles.check_bm25(con, terms, LIMIT, op.out))

    def knn_op(self, vec: list[float]) -> Op:
        return Op("knn", "knn", "client.near_vector",
                  lambda: self.emb.query.near_vector(vec, limit=LIMIT),
                  _collect,
                  lambda con, op: oracles.check_knn(self.vectors, self.vec_ids,
                                                    vec, LIMIT, op.out))

    def hybrid_op(self, terms: str, vec: list[float]) -> Op:
        return Op("hybrid", "hybrid", "client.hybrid",
                  lambda: self.docs_emb.query.hybrid(
                      terms, vector=vec, alpha=0.5, limit=LIMIT,
                      query_properties=["text"]),
                  _collect,
                  lambda con, op: oracles.check_hybrid(con, terms, vec, LIMIT, op.out))

    def fetch_op(self, min_chars: int, lang: str) -> Op:
        from weaviate_spark.client import Filter

        flt = Filter.all_of([Filter.by_property("n_chars").greater_than(min_chars),
                             Filter.by_property("lang").equal(lang)])
        return Op("fetch", "fetch", "client.fetch_objects",
                  lambda: self.docs.query.fetch_objects(
                      filters=flt, sort=[("n_chars", "desc"), ("doc_id", "asc")],
                      limit=FETCH_LIMIT),
                  _collect,
                  lambda con, op: oracles.check_fetch(con, min_chars, lang,
                                                      FETCH_LIMIT, op.out))

    def by_id_op(self, doc_id: int, want: str) -> Op:
        return Op("fetch", "by_id", "client.fetch_object_by_id",
                  lambda: self.docs.query.fetch_object_by_id(doc_id),
                  _collect,
                  lambda con, op: oracles.check_by_id(doc_id, want, op.out))

    def agg_op(self, source: str) -> Op:
        from weaviate_spark.client import Filter

        return Op("agg", "agg", "client.aggregate.over_all",
                  lambda: self.docs.aggregate.over_all(
                      metrics=[("n_chars", ["count", "mean", "maximum"])],
                      group_by="lang", filters=Filter.by_property("source").equal(source)),
                  _collect,
                  lambda con, op: oracles.check_agg(con, source, op.out))


class Serve(Workload):
    """Read requests through the facade over a corpus that fits in
    cache: driver-side build, planning and the per-job floor dominate."""

    name = "serve"
    # the JIT keeps speeding these paths up for several cycles; a second
    # warm-up cycle takes out most of that, and a longer window puts the
    # median past the rest
    warmup_cycles = 2

    def cycle(self) -> list[Op]:
        r = self.req
        doc_id = r.doc_id()
        return [
            self.bm25_op(r.terms()),
            self.knn_op(r.vector()),
            self.hybrid_op(r.terms(), r.vector()),
            self.fetch_op(int(r.rng.integers(50, 500)), str(gen.LANGS[r.rng.integers(5)])),
            self.agg_op(f"src{r.rng.integers(20)}"),
            self.by_id_op(doc_id, self.texts[doc_id]),
        ]


class Ingest(Workload):
    """Writes next to reads: every insert_many rewrites the table and
    drops every index, so the reads after it rebuild them."""

    name = "ingest"
    batch_rows = 50

    def cycle(self) -> list[Op]:
        r = self.req
        n = max(2, min(self.batch_rows, len(self.texts) // 20))
        rows = r.doc_rows(n // 2, self.next_id, n - n // 2)
        self.next_id += n // 2
        probe = int(rows["doc_id"][-1])
        count = len(set(self.texts) | {int(i) for i in rows["doc_id"]})
        return [
            self.write_op(rows),
            self.bm25_op(r.terms()),
            self.hybrid_op(r.terms(), r.vector()),
            self.knn_op(r.vector()),
            self.count_op(count),
            self.by_id_op(probe, rows["text"][-1]),
        ]

    def count_op(self, want: int) -> Op:
        return Op("agg", "count", "client.aggregate.over_all",
                  lambda: self.docs.aggregate.over_all(total_count=True),
                  _collect,
                  lambda con, op: oracles.check_count(want, op.out))

    def check(self, con) -> list[str]:
        """Reads on the final table version are checked against the
        oracles; earlier reads saw a table that no longer exists, so only
        their shape is checked."""
        last_write = max(i for i, op in enumerate(self.ops) if op.kind == "write")
        for i, op in enumerate(self.ops):
            if i < last_write and op.kind in ("bm25", "hybrid") and op.phase == "window":
                op.verify = lambda con, op: oracles.check_shape(op.out, LIMIT)
        return super().check(con)


class Batch(Workload):
    """Passes over registered analytics queries: Spark execution
    (stages, shuffle, Python workers) dominates."""

    name = "batch"
    tables = ("documents", "embeddings", "lineitem", "customer")

    def connect(self, spark, tracer=None) -> None:
        super().connect(spark, tracer)
        from weaviate_spark.entry_queries import QUERIES

        self.queries = QUERIES
        self.expected: dict[str, tuple] = {}

    def cycle(self) -> list[Op]:
        return [Op(kind, name, f"entry_queries.{name}",
                   lambda name=name: self.queries[name](self.spark, self.data_dir),
                   lambda df: df.toPandas(),
                   lambda con, op: oracles.check_query(self.expected, op.slot, op.out))
                for name, kind in BATCH_QUERIES]

    def repeat_shares(self) -> dict[str, float]:
        """Every pass repeats the same registered queries on the same
        data."""
        n = sum(op.kind != "write" for op in self.ops)
        return {"repeated_queries": round(1 - len(BATCH_QUERIES) / n, 4) if n else 0.0}

    def prepare_oracles(self, con) -> None:
        self.expected = oracles.query_oracles(con, [n for n, _ in BATCH_QUERIES])


WORKLOADS = {w.name: w for w in (Serve, Ingest, Batch)}
