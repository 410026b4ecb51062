"""corpus_analytics: timed passes over 17 registered headline builders
and the incremental ingest path.

Each query is run as ``bench.py`` runs it: the ``plans.registry``
builder, then ``write.format("noop")``. The vector family and the
curation family are timed as separate passes, so a dedup change cannot
hide a retrieval slowdown. The curation pass also ingests: one
incremental ``cli.run_ingest`` batch of the corpus's documents into the
run's chunk store, and one re-run over every stored document, which
must add 0 rows (``ingest_incremental``'s batches, one of each per
pass). The seed sets the op order within each pass and the ingested
documents; the corpus itself is fixed (sf0.01 table sizes).

Every query starts from the state a fresh invocation sees: the
registry's memoised query vectors and texts are cleared before each
call. Lazy source-table handles are kept; they hold plans, not data.

Set-up ends with a first pass that is both the JIT warm-up and the
output check: each query's rows are collected and compared with its
DuckDB oracle using ``tests/oracle.py``'s normalisation, and the store
gets its first batch. The oracle side
depends only on the fixed corpus, the oracle SQL and the DuckDB version,
so it is computed once per checkout and cached under a key hashed from
all three. Every ingest batch is checked after the timed passes, as
``ingest_incremental`` checks its batches.

Op A is a vector-family pass, op B a curation-family pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import ingest_incremental
from harness import ACTION, BUILD, CALL, OP, report_layers, report_ops

VECTOR = ("knn_bruteforce", "retrieval_funnel", "bm25_topk", "kmeans_lloyd",
          "pq_adc_knn", "trajectory_knn", "cross_modal_retrieval",
          "retrieval_lifecycle_pipeline")
CURATION = ("chunk_documents", "exact_dedup", "minhash_neardup",
            "minhash_delta_pairs", "curation_pipeline", "merkle_reconcile",
            "phash_blob_neardup", "ingest_lifecycle_pipeline",
            "training_export_pipeline")
# ops of the curation pass that are ingest batches, not registry queries
INGEST = {"ingest_increment": "increment", "ingest_rerun": "rerun"}
FAMILIES = {"vector": VECTOR, "curation": CURATION + tuple(INGEST)}
SIZES = {"n_docs": 500, "n_vecs": 500, "dim": 64, "n_events": 10_000}
SMOKE = {"n_docs": 120, "n_vecs": 120, "dim": 64, "n_events": 1_000}
TABLES = ("documents", "embeddings", "events")


def reset_memo() -> None:
    """Drop the registry's per-process data memos (not plan handles)."""
    from rag_vector_database_spark.plans import registry

    for name in ("_QVEC_CACHE", "_QTEXT_CACHE"):
        getattr(registry, name, {}).clear()


def oracle_rows(cache_dir: str, data_dir: str, name: str, sql: str):
    """(sorted column names, normalised rows) of the DuckDB oracle."""
    import duckdb
    from tests.oracle import normalize

    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    h.update(sql.encode())
    h.update(duckdb.__version__.encode())
    path = f"{cache_dir}/{name}-{h.hexdigest()[:24]}.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    df = con.execute(sql).fetchdf()
    out = [sorted(df.columns), [list(row) for row in normalize(df)]]
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def build(state_dir: str) -> None:
    """One-time build of a checkout: compute and cache the oracle rows of
    the bench-scale corpus, so the first ``corpus_analytics`` run does
    not spend its time limit in DuckDB. A changed corpus, oracle SQL or
    DuckDB version changes the cache key, and the run then fills the
    cache itself."""
    cache = f"{state_dir}/oracle"
    if os.path.isdir(cache):
        return
    from rag_vector_database_spark.plans import registry

    tmp = f"{state_dir}/build-{os.getpid()}"
    try:
        data_dir = datagen.write_tables(tmp, 0, **SIZES)
        by_name = {q.name: q for q in registry.REGISTRY}
        for name in VECTOR + CURATION:
            oracle_rows(cache, data_dir, name, by_name[name].oracle)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def instrument(tracer) -> None:
    """Spans around the engine's operator layers, which the registry
    builders call through module attributes, and around DataFrame
    actions. Operator spans set no job group: their jobs stay charged
    to the builder or action around them."""
    import inspect

    from pyspark.sql.classic.dataframe import DataFrame

    from rag_vector_database_spark import embedding
    from rag_vector_database_spark.operators import (chunking, dedup,
                                                     generation, ingest,
                                                     retrieval)

    for mod in (chunking, dedup, generation, ingest, retrieval):
        layer = mod.__name__.removeprefix("rag_vector_database_spark.")
        for name, fn in list(vars(mod).items()):
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and not name.startswith("_")):
                tracer.wrap(mod, name, f"{layer}.{name}", layer, CALL,
                            group=False)
    tracer.wrap(embedding.HashingEmbedder, "embed_expr",
                "embedding.embed_expr", "embedding", CALL, group=False)
    for fn in ("first", "collect", "count", "toPandas"):
        tracer.wrap(DataFrame, fn, f"spark.{fn}", "spark", ACTION)


def run(r, start_session) -> None:
    from rag_vector_database_spark.plans import registry
    from tests.oracle import normalize

    with r.own_time():
        data_dir = datagen.write_tables(
            f"{r.work_dir}/data", 0,
            **(SMOKE if r.scale == "smoke" else SIZES))
    spark = start_session()
    by_name = {q.name: q for q in registry.REGISTRY}

    t_warm, own0 = time.perf_counter(), r.excluded_s
    for name in VECTOR + CURATION:
        q = by_name[name]
        reset_memo()
        try:
            got = q.builder(spark, data_dir).toPandas()
        except Exception:
            r.failed_op(f"{name} (check pass)")
            continue
        with r.own_time():
            cols, rows = oracle_rows(f"{r.cache_dir}/oracle", data_dir,
                                     name, q.oracle)
            mine = [list(x) for x in normalize(got)]
            r.attempt(sorted(got.columns) == cols and mine == rows,
                      f"{name}: {len(mine)} rows vs oracle {len(rows)}, "
                      f"columns {sorted(got.columns)} vs {cols}")
    with r.own_time():
        pool = pq.read_table(f"{data_dir}/documents.parquet")
    ing = ingest_incremental.Ingester(r, spark, pool,
                                      np.random.default_rng([r.seed, 1]))
    try:
        ing.batch("first", "warmup:first", "warmup")
    except Exception:
        r.failed_op("ingest first batch (check pass)")
    r.detail["session.warmup_s"] = (time.perf_counter() - t_warm
                                    - (r.excluded_s - own0))
    r.setup_s = r.setup_done()

    rng = np.random.default_rng(r.seed)
    passes: list[dict] = []

    def one_pass(family: str, region: str, k: int) -> None:
        order = [FAMILIES[family][i]
                 for i in rng.permutation(len(FAMILIES[family]))]
        p = {"family": family, "region": region, "queries": []}
        t_pass, own_pass = time.perf_counter(), r.excluded_s
        for name in order:
            op = f"p{k}:{name}"
            reset_memo()
            src = ing.land(INGEST[name], op) if name in INGEST else None
            span = r.tracer.begin(name, "perfbench", OP, op=op)
            t0 = time.perf_counter()
            try:
                if name in INGEST:
                    with r.tracer.span("cli.run_ingest", "cli", CALL):
                        ing.batch(INGEST[name], op, region, src)
                else:
                    with r.tracer.span(f"registry.{name}", "plans.registry",
                                       BUILD):
                        df = by_name[name].builder(spark, data_dir)
                    with r.tracer.span("sink", "spark", ACTION):
                        df.write.mode("overwrite").format("noop").save()
            except Exception:
                r.failed_op(f"{name} (pass {k})")
            else:
                if name not in INGEST:  # batches are checked at the end
                    r.attempt(True, name)
            wall = time.perf_counter() - t0
            r.tracer.end(span)
            r.tracer.collect_spark(op)
            p["queries"].append({"name": name, "op": op, "wall": wall})
        p["wall"] = time.perf_counter() - t_pass - (r.excluded_s - own_pass)
        passes.append(p)

    first = "vector" if rng.random() < 0.5 else "curation"
    cycle = [first, "curation" if first == "vector" else "vector"]
    deadline = time.perf_counter() + r.seconds
    k = 0
    while k == 0 or time.perf_counter() < deadline:
        for family in cycle:
            one_pass(family, "timed", k)
            k += 1
    if r.trace:
        r.tracer.enable(spark)
        instrument(r.tracer)
        try:
            for family in cycle:
                one_pass(family, "traced", k)
                k += 1
        finally:
            r.tracer.close()
    ingest_incremental.check(r, ing.ops)
    report(r, spark, passes, ing)


def report(r, spark, passes: list[dict], ing) -> None:
    timed = [p for p in passes if p["region"] == "timed"]
    r.detail["query_ms"] = [{q["name"]: 1e3 * q["wall"] for q in p["queries"]}
                            for p in timed]
    report_ops(r, [p["wall"] for p in timed if p["family"] == "vector"],
               [p["wall"] for p in timed if p["family"] == "curation"])
    batches = {o["op"]: o for o in ing.ops}
    adds = [o for o in ing.ops
            if o["region"] == "timed" and o["kind"] == "increment"]
    if adds:
        r.detail["ingest_rows_per_s"] = (sum(o["added"] for o in adds)
                                         / sum(o["wall"] for o in adds))
        r.detail["store_files"], r.detail["store_bytes_per_row"] = \
            ing.store_size()
    if not r.trace:
        return
    tr = r.tracer
    traced = [p for p in passes if p["region"] == "traced"]
    layers: dict = {}
    totals = []
    worst = 0.0
    for p in traced:
        fam = []
        for q in p["queries"]:
            spans = tr.op_spans(q["op"])
            t = tr.totals(spans)
            fam.append(t)
            totals.append(t)
            name = q["name"]
            if name in INGEST:
                kind = INGEST[name]
                layers[f"ingest.{kind}.wall_s"] = q["wall"]
                layers[f"ingest.{kind}.append_s"] = sum(
                    s["end"] - s["start"] for s in spans
                    if s["name"] == "operators.ingest.idempotent_append")
                layers[f"ingest.{kind}.py4j_calls"] = t["py4j"]
                layers[f"ingest.{kind}.rows_added"] = \
                    batches[q["op"]]["added"]
                layers[f"spark.{name}.jobs"] = t["jobs"]
                layers[f"spark.{name}.write_tasks"] = t["write_tasks"]
                layers[f"spark.{name}.shuffle_bytes"] = t["shuffle_bytes"]
                continue
            layers[f"registry.{name}.build_s"] = t["build_s"]
            layers[f"registry.{name}.sink_s"] = t["action_s"]
            layers[f"registry.{name}.py4j_calls"] = t["py4j"]
            layers[f"spark.{name}.jobs"] = t["jobs"]
            layers[f"spark.{name}.stages"] = t["stages"]
            layers[f"spark.{name}.shuffle_bytes"] = t["shuffle_bytes"]
            worst = max(worst, abs(t["build_s"] + t["action_s"] - q["wall"])
                        / q["wall"])
        f = p["family"]
        run_s = sum(t["run_ms"] for t in fam) / 1e3
        layers[f"spark.{f}.executor_run_s"] = run_s
        layers[f"spark.{f}.executor_cpu_s"] = sum(t["cpu_ms"] for t in fam) / 1e3
        layers[f"spark.{f}.gc_s"] = sum(t["gc_ms"] for t in fam) / 1e3
        layers[f"spark.{f}.busy_cores"] = run_s / p["wall"]
    layers["reconcile_max_pct"] = 100.0 * worst
    r.detail["layers"] = layers
    report_layers(r, spark, totals,
                  [q["wall"] for p in timed for q in p["queries"]],
                  [q["wall"] for p in traced for q in p["queries"]],
                  embedding_py4j=sum(
                      s["py4j"] for s in tr.spans
                      if s["name"] == "embedding.embed_expr") / len(totals))
