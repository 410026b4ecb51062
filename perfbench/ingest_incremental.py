"""ingest_incremental: the ``ingest`` pipeline run batch by batch.

Each batch is a landing directory holding one ``documents.parquet``; an
op is one ``cli.run_ingest`` call on it, i.e. ``chunking.
chunk_documents`` -> ``HashingEmbedder(16).embed_expr`` -> ``ingest.
idempotent_append`` into a parquet store, then the store's row count.
A run grows one store. The set-up is the warm-up: a first batch of new
documents into the empty store, one incremental batch and a re-run, so
every path has run once before timing starts. A timed cycle is then
incremental batches that mix new documents with ones already stored,
and a re-run over every stored document, which must add 0 rows. The
seed picks the document permutation and the overlapping documents.

Op A is an incremental batch, op B the re-run. After the loop every
batch's added rows are checked against chunk ids computed by DuckDB
from ``chunking.dd_chunk_cte``, minus the ids already stored, and the
store against the expected ids (unique, complete) and embeddings
(recomputed with the embedder's pure-Python path).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import ACTION, BUILD, CALL, OP, report_layers, report_ops

N_DOCS = 500
SMOKE_DOCS = 120
FIRST, NEW, OVERLAP, INCREMENTS = 40, 40, 20, 2
CHUNK_SIZE, CHUNK_OVERLAP, DIM = 200, 40, 16


class Planner:
    """Seeded batch plans over a pool of ``n_docs`` documents, for one
    store."""

    def __init__(self, n_docs: int, rng: np.random.Generator) -> None:
        self.n_docs = n_docs
        self.rng = rng
        self.perm = rng.permutation(n_docs)
        self.pos = 0
        self.stored: list[int] = []

    def take(self, k: int) -> list[int]:
        if self.pos + k > len(self.perm):
            self.perm, self.pos = self.rng.permutation(self.n_docs), 0
        out = self.perm[self.pos:self.pos + k]
        self.pos += k
        return [int(x) for x in out]

    def next(self, kind: str) -> list[int]:
        """Doc ids of the next batch: "first" (new documents into the
        empty store), "increment" (new documents plus stored ones) or
        "rerun" (every stored document)."""
        if kind == "first":
            self.stored = self.take(FIRST)
            return list(self.stored)
        if kind == "increment":
            fresh = [d for d in self.take(NEW) if d not in self.stored]
            old = [int(x) for x in
                   self.rng.choice(self.stored, OVERLAP, replace=False)]
            self.stored += fresh
            return fresh + old
        return list(self.stored)


class Ingester:
    """One run's store and the landing batches ingested into it with
    ``cli.run_ingest``. Also used by ``corpus_analytics``."""

    def __init__(self, r, spark, pool, rng: np.random.Generator) -> None:
        self.r = r
        self.spark = spark
        self.pool = pool
        self.planner = Planner(pool.num_rows, rng)
        self.store = f"{r.work_dir}/store"
        self.ops: list[dict] = []

    def land(self, kind: str, op: str) -> str:
        """Write the next batch of ``kind`` to a landing directory (the
        benchmark's own time) and return the directory."""
        ids = self.planner.next(kind)
        src = f"{self.r.work_dir}/landing/{op}"
        with self.r.own_time():
            os.makedirs(src)
            pq.write_table(self.pool.take(ids), f"{src}/documents.parquet")
        return src

    def batch(self, kind: str, op: str, region: str,
              src: str | None = None) -> float:
        """Ingest the batch landed in ``src`` (by default, land the next
        batch of ``kind`` first); return the ingest's wall time."""
        from rag_vector_database_spark import cli

        src = src or self.land(kind, op)
        t0 = time.perf_counter()
        out = cli.run_ingest(self.spark, src, self.store,
                             chunk_size=CHUNK_SIZE,
                             chunk_overlap=CHUNK_OVERLAP, dim=DIM,
                             print_fn=lambda _: None)
        wall = time.perf_counter() - t0
        self.ops.append({"op": op, "kind": kind, "src": src,
                         "store": self.store, "region": region,
                         "wall": wall, **out})
        return wall

    def store_size(self) -> tuple[int, float]:
        """(data files, bytes per row) of the store as it is now."""
        files = store_files(self.store)
        return (len(files), sum(os.path.getsize(f) for f in files)
                / self.ops[-1]["total"])


def instrument(tracer) -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from rag_vector_database_spark import cli, embedding
    from rag_vector_database_spark.operators import chunking, ingest

    tracer.wrap(cli, "run_ingest", "cli.run_ingest", "cli", CALL)
    tracer.wrap(chunking, "chunk_documents", "chunking.chunk_documents",
                "operators.chunking", BUILD)
    tracer.wrap(embedding.HashingEmbedder, "embed_expr",
                "embedding.embed_expr", "embedding", BUILD)
    tracer.wrap(ingest, "idempotent_append", "ingest.idempotent_append",
                "operators.ingest", CALL)
    tracer.wrap(DataFrame, "count", "spark.count", "spark", ACTION)
    tracer.wrap(DataFrameWriter, "parquet", "spark.write", "spark", ACTION)
    tracer.wrap(DataFrameReader, "parquet", "spark.read", "spark", ACTION)


def store_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def run(r, start_session) -> None:
    n_docs = SMOKE_DOCS if r.scale == "smoke" else N_DOCS
    with r.own_time():
        data_dir = datagen.write_tables(f"{r.work_dir}/data", 0,
                                        n_docs=n_docs, n_vecs=10, dim=DIM,
                                        n_events=10)
        pool = pq.read_table(f"{data_dir}/documents.parquet")
    spark = start_session()
    ing = Ingester(r, spark, pool, np.random.default_rng(r.seed))

    def batches(kinds, region: str) -> bool:
        for kind in kinds:
            op = f"b{len(ing.ops)}"
            src = ing.land(kind, op)
            span = r.tracer.begin(kind, "cli", OP, op=op)
            try:
                ing.batch(kind, op, region, src)
            except Exception:
                r.failed_op(f"batch {op} ({kind})")
                return False
            finally:
                r.tracer.end(span)
            r.tracer.collect_spark(op)
        return True

    cycle = ["increment"] * INCREMENTS + ["rerun"]
    t_warm, own0 = time.perf_counter(), r.excluded_s
    ok = batches(["first", "increment", "rerun"], "warmup")
    r.detail["session.warmup_s"] = (time.perf_counter() - t_warm
                                    - (r.excluded_s - own0))
    r.setup_s = r.setup_done()
    deadline = time.perf_counter() + r.seconds
    ok = ok and batches(cycle, "timed")
    while ok and time.perf_counter() < deadline:
        ok = batches(cycle, "timed")
    if ok and r.trace:
        r.tracer.enable(spark)
        instrument(r.tracer)
        try:
            ok = batches(cycle, "traced")
        finally:
            r.tracer.close()
    check(r, ing.ops)
    report(r, spark, ing)


def check(r, ops: list[dict]) -> None:
    """Compare every batch and store with an independent evaluation."""
    import duckdb

    from rag_vector_database_spark.embedding import HashingEmbedder
    from rag_vector_database_spark.operators.chunking import dd_chunk_cte

    embed = HashingEmbedder(DIM).embed_udf().func
    con = duckdb.connect()
    stored: dict[str, set] = {}
    for op in ops:
        con.execute(f"CREATE OR REPLACE VIEW batch AS SELECT * FROM "
                    f"'{op['src']}/documents.parquet'")
        ids = {x[0] for x in con.execute(
            f"WITH c AS ({dd_chunk_cte(CHUNK_SIZE, CHUNK_OVERLAP, 'batch')}) "
            "SELECT chunk_id FROM c").fetchall()}
        have = stored.setdefault(op["store"], set())
        new = ids - have
        have |= new
        op["offered"] = len(ids)
        what = f"batch {op['op']} ({op['kind']})"
        r.attempt(op["added"] == len(new) and op["total"] == len(have)
                  and (op["kind"] != "rerun" or op["added"] == 0),
                  f"{what}: added {op['added']} total {op['total']}, "
                  f"expected {len(new)} / {len(have)}")
    for store, want in stored.items():
        df = con.execute(
            f"SELECT chunk_id, chunk_text, embedding FROM "
            f"read_parquet('{store}/*.parquet')").fetchdf()
        vecs = next(embed(iter([df["chunk_text"]])))
        err = max((float(np.max(np.abs(np.asarray(a) - np.asarray(b))))
                   for a, b in zip(df["embedding"], vecs)), default=0.0)
        r.attempt(len(df) == df["chunk_id"].nunique() == len(want)
                  and set(df["chunk_id"]) == want and err <= 1e-12,
                  f"store {store}: {len(df)} rows, "
                  f"{df['chunk_id'].nunique()} ids, "
                  f"{len(want)} expected, embedding err {err}")


def report(r, spark, ing: Ingester) -> None:
    ops = ing.ops
    timed = [o for o in ops if o["region"] == "timed"]
    adds = [o for o in timed if o["kind"] == "increment"]
    report_ops(r, [o["wall"] for o in adds],
               [o["wall"] for o in timed if o["kind"] == "rerun"])
    r.detail["ingest_rows_per_s"] = (sum(o["added"] for o in adds)
                                     / sum(o["wall"] for o in adds))
    r.detail["store_files"], r.detail["store_bytes_per_row"] = \
        ing.store_size()
    r.detail["warmup_ms"] = [1e3 * o["wall"] for o in ops
                             if o["region"] == "warmup"]
    if not r.trace:
        return
    tr = r.tracer
    traced = [o for o in ops if o["region"] == "traced"]
    totals = [tr.totals(tr.op_spans(o["op"])) for o in traced]
    by_name: dict[str, float] = {}
    for s in tr.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["end"] - s["start"]
    n = len(traced)
    offered = sum(o["offered"] for o in traced)
    added = sum(o["added"] for o in traced)
    wall = sum(o["wall"] for o in traced)
    run_s = sum(t["run_ms"] for t in totals) / 1e3
    r.detail["layers"] = {
        "chunking.build_ms": 1e3 * by_name.get("chunking.chunk_documents", 0) / n,
        "embedding.build_ms": 1e3 * by_name.get("embedding.embed_expr", 0) / n,
        "ingest.append_s": by_name.get("ingest.idempotent_append", 0) / n,
        "spark.write_tasks": sum(t["write_tasks"] for t in totals),
        "spark.busy_cores": run_s / wall,
        "spark.executor_cpu_s": sum(t["cpu_ms"] for t in totals) / 1e3,
        "spark.gc_s": sum(t["gc_ms"] for t in totals) / 1e3,
        "spark.shuffle_bytes": sum(t["shuffle_bytes"] for t in totals),
    }
    r.detail["layers"].update({
        "ingest.rows_offered": offered, "ingest.rows_added": added,
        "ingest.added_ratio": added / offered,
        "ingest.store_files": r.detail["store_files"],
        "ingest.store_bytes_per_row": r.detail["store_bytes_per_row"]})
    report_layers(
        r, spark, totals, [o["wall"] for o in timed],
        [o["wall"] for o in traced], embedding_py4j=sum(
            s["py4j"] for s in tr.spans
            if s["name"] == "embedding.embed_expr") / n)
