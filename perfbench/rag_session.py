"""rag_session: one closed-loop client driving ``cli auto`` turns.

The client is the CLI's own loop (``cli.run_auto_loop``) fed through its
``input_fn``/``print_fn`` hooks, so each turn runs the calls a user's
turn runs: ``cli.embed_query`` -> ``retrieval.score_against`` +
``score_stats`` -> ``retrieval.retrieval_funnel`` (rerank turns) or
``retrieval.direct_retrieval`` (direct turns) -> ``generation.
assemble_prompt``/``answer_stub``. A turn is timed from the moment the
query is submitted to the moment the answer line is printed. The seed
picks each query (a span of a stored document) and the order of modes
within each rerank/direct pair.

Op A is a rerank turn, op B a direct turn. Every printed row and answer
is checked after the loop against an independent NumPy/Python
evaluation (see ``check_turn``).
"""

from __future__ import annotations

import hashlib
import re
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen
from harness import ACTION, BUILD, CALL, OP, median, report_layers, report_ops

N_DOCS, N_VECS, DIM = 500, 500, 64
SMOKE = {"n_docs": 120, "n_vecs": 120}
K_RERANK, K_DIRECT, TOP_N = 50, 20, 5
BASE_THRESHOLD = 0.0  # /set_base_threshold 0: every top-k row is shown
TOL = 0.5e-4 + 1e-9   # scores are printed with 4 decimals
ROW_RE = re.compile(r"^  \[doc (\d+)\] rerank=(-?[\d.]+) sim=(-?[\d.]+) :: (.*)$")


def make_queries(texts: list[str], rng: np.random.Generator):
    """Endless (rerank?, query) stream: pairs of one rerank and one
    direct turn in seeded order, each query a 3-8 token document span."""
    while True:
        order = (True, False) if rng.random() < 0.5 else (False, True)
        for rerank in order:
            toks = texts[int(rng.integers(len(texts)))].split()
            n = int(rng.integers(3, 9))
            i = int(rng.integers(0, max(len(toks) - n, 0) + 1))
            yield rerank, " ".join(toks[i:i + n])


class Client:
    """The user at the keyboard: answers the CLI's prompts, toggles the
    mode with ``/mode`` when the next turn needs the other one, and
    records every turn's output lines and submit-to-answer time."""

    def __init__(self, run, queries, warmup_turns: int, on_region) -> None:
        self.run = run
        self.queries = queries
        self.rerank = True  # the CLI starts in rerank mode
        self.turns: list[dict] = []
        self.warmup_left = warmup_turns
        self.on_region = on_region  # called at region boundaries
        self.region = "warmup"
        self.deadline = None
        self.next = None
        self.span = None

    def input_fn(self, _prompt: str) -> str:
        if self.next is None:
            if self.warmup_left == 0 and (
                    self.deadline is None or (
                        len(self.turns) % 2 == 0
                        and time.perf_counter() >= self.deadline)):
                self.region, self.deadline = self.on_region(self.region)
                if self.region is None:
                    return "exit"
            self.next = next(self.queries)
        rerank, q = self.next
        if rerank != self.rerank:
            self.rerank = rerank
            return "/mode"
        self.next = None
        if self.warmup_left:
            self.warmup_left -= 1
        tid = len(self.turns)
        self.turns.append({"id": tid, "rerank": rerank, "q": q,
                           "region": self.region, "lines": []})
        self.span = self.run.tracer.begin(
            "turn", "cli", OP, op=f"turn{tid}")
        self.turns[-1]["t0"] = time.perf_counter()
        return q

    def print_fn(self, line: str) -> None:
        if line.startswith("AI: "):
            t = self.turns[-1]
            t["wall"] = time.perf_counter() - t["t0"]
            t["lines"].append(line)
            self.run.tracer.end(self.span)
            self.run.tracer.collect_spark(f"turn{t['id']}")
        elif line.startswith("[Mode:"):
            pass
        else:
            self.turns[-1]["lines"].append(line)


def instrument(tracer) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from rag_vector_database_spark import cli, embedding
    from rag_vector_database_spark.operators import generation, retrieval

    tracer.wrap(cli, "embed_query", "cli.embed_query", "cli", CALL)
    tracer.wrap(embedding.HashingEmbedder, "embed_expr",
                "embedding.embed_expr", "embedding", BUILD)
    for fn in ("score_against", "score_stats", "retrieval_funnel",
               "direct_retrieval"):
        tracer.wrap(retrieval, fn, f"retrieval.{fn}",
                    "operators.retrieval", BUILD)
    for fn in ("assemble_prompt", "answer_stub"):
        tracer.wrap(generation, fn, f"generation.{fn}",
                    "operators.generation", BUILD)
    for fn in ("first", "collect"):
        tracer.wrap(DataFrame, fn, f"spark.{fn}", "spark", ACTION)


class Oracle:
    """Independent evaluation of a turn: query vector from the embedder's
    pure-Python path, exact scores in float64 summed left to right (the
    order Spark's ``aggregate`` sums in), rounded to 6 places."""

    def __init__(self, data_dir: str) -> None:
        from rag_vector_database_spark.embedding import HashingEmbedder

        emb = pq.read_table(f"{data_dir}/embeddings.parquet").to_pandas()
        docs = pq.read_table(f"{data_dir}/documents.parquet").to_pandas()
        self.ids = emb["vec_id"].to_numpy()
        self.E = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.text = dict(zip(docs["doc_id"], docs["text"]))
        self.udf = HashingEmbedder(DIM).embed_udf().func

    def scores(self, q: str) -> np.ndarray:
        qv = np.asarray(next(self.udf(iter([pd.Series([q])])))[0], np.float64)
        return np.round(np.cumsum(self.E * qv, axis=1)[:, -1], 6)

    def topk(self, s: np.ndarray, k: int) -> list[int]:
        order = np.lexsort((self.ids, -s))[:k]
        return [int(i) for i in order]


def snippet(text: str, n: int = 80) -> str:
    flat = text.replace("\n", " ")
    return flat[:n] + "..." if len(flat) > n else flat


def jaccard(q: str, d: str) -> float:
    a, b = set(q.split()), set(d.split())
    u = len(a | b)
    return round(len(a & b) / u, 6) if u else 0.0


def check_turn(o: Oracle, t: dict, history: list[tuple[str, str]]) -> str | None:
    """Return None if the turn's printed output is what the engine must
    print, else a description of the first mismatch."""
    from rag_vector_database_spark.operators.generation import PROMPT_TEMPLATE

    s = o.scores(t["q"])
    rows = [ROW_RE.match(x) for x in t["lines"]
            if x.startswith("  [doc ")]
    if not all(rows):
        return "unparsable row"
    got = [(int(m[1]), float(m[2]), float(m[3]), m[4]) for m in rows]
    pos = {int(v): i for i, v in enumerate(o.ids)}
    if t["rerank"]:
        stats = [x for x in t["lines"] if x.startswith("[Scores:")]
        want = (s.min(), s.max(), round(float(s.mean()), 6), len(s))
        nums = re.findall(r"=(-?[\d.]+)", stats[0]) if stats else []
        if len(nums) != 4 or int(nums[3]) != want[3] or any(
                abs(float(a) - b) > TOL for a, b in zip(nums[:3], want[:3])):
            return f"score stats {stats} != {want}"
        cand = [int(o.ids[i]) for i in o.topk(s, K_RERANK)]
        ranked = sorted(
            ((d, jaccard(t["q"], o.text[d]), s[pos[d]]) for d in cand
             if d in o.text),
            key=lambda r: (-r[1], -r[2], r[0]))[:TOP_N]
    else:
        top = [(int(o.ids[i]), s[i]) for i in o.topk(s, K_DIRECT)
               if s[i] >= BASE_THRESHOLD]
        ranked = sorted(((d, 0.0, sc) for d, sc in top if d in o.text),
                        key=lambda r: (-r[2], r[0]))
    if [g[0] for g in got] != [r[0] for r in ranked]:
        return f"doc ids {[g[0] for g in got]} != {[r[0] for r in ranked]}"
    for g, r in zip(got, ranked):
        if (abs(g[1] - r[1]) > TOL or abs(g[2] - r[2]) > TOL
                or g[3] != snippet(o.text[g[0]])):
            return f"row {g} != {r}"
    context = "\n\n".join(f"Source {i + 1} [doc {g[0]}]: {g[3]}"
                          for i, g in enumerate(got))
    fold = "\n".join(f"Human: {q}\nAI: {a}" for q, a in history)
    prompt = (PROMPT_TEMPLATE.replace("{context}", context)
              .replace("{history}", fold).replace("{question}", t["q"]))
    answer = f"ANSWER[{hashlib.md5(prompt.encode()).hexdigest()[:12]}]"
    if t["lines"][-1] != f"AI: {answer}":
        return f"answer {t['lines'][-1]!r} != {answer!r}"
    return None


def run(r, start_session) -> None:
    from rag_vector_database_spark import cli

    sizes = SMOKE if r.scale == "smoke" else {"n_docs": N_DOCS,
                                             "n_vecs": N_VECS}
    with r.own_time():
        data_dir = datagen.write_tables(f"{r.work_dir}/data", 0, dim=DIM,
                                        n_events=1000, **sizes)
        texts = pq.read_table(f"{data_dir}/documents.parquet",
                              columns=["text"]).column(0).to_pylist()
    spark = start_session()
    rng = np.random.default_rng(r.seed)
    regions = ["timed"] + (["traced"] if r.trace else [])
    warm0 = time.perf_counter()

    def on_region(prev):
        if prev == "warmup":
            r.detail["session.warmup_s"] = time.perf_counter() - warm0
            r.setup_s = r.setup_done()
        if not regions:
            return None, None
        region = regions.pop(0)
        if region == "traced":
            r.tracer.enable(spark)
            instrument(r.tracer)
        return region, time.perf_counter() + r.seconds

    client = Client(r, make_queries(texts, rng), 2, on_region)
    try:
        cli.run_auto_loop(spark, data_dir, rerank=True, k_rerank=K_RERANK,
                          k_direct=K_DIRECT, top_n=TOP_N,
                          base_threshold=BASE_THRESHOLD, show_chunks=True,
                          show_stats=True, input_fn=client.input_fn,
                          print_fn=client.print_fn)
    except Exception:
        r.failed_op(f"turn {len(client.turns) - 1}")
    finally:
        r.tracer.close()

    oracle = Oracle(data_dir)
    history: list[tuple[str, str]] = []
    for t in client.turns:
        if "wall" not in t:
            continue
        err = check_turn(oracle, t, history)
        r.attempt(err is None, f"turn {t['id']} ({t['q']!r}): {err}")
        history.append((t["q"], t["lines"][-1][len("AI: "):]))

    done = [t for t in client.turns if "wall" in t]
    report(r, spark, done)


def report(r, spark, done: list[dict]) -> None:
    timed = [t for t in done if t["region"] == "timed"]
    walls = [t["wall"] for t in timed]
    report_ops(r, [t["wall"] for t in timed if t["rerank"]],
               [t["wall"] for t in timed if not t["rerank"]])
    if not r.trace:
        return
    tr = r.tracer
    traced = [t for t in done if t["region"] == "traced"]
    rows = [(t["rerank"], tr.totals(tr.op_spans(f"turn{t['id']}")),
             steps(tr.op_spans(f"turn{t['id']}"))) for t in traced]

    def med(f, mode=None):
        return median([f(tot, st) for rerank, tot, st in rows
                       if mode is None or rerank == mode])

    r.detail["layers"] = {
        "cli.embed_query_ms": med(lambda t, s: 1e3 * s["cli.embed_query"]),
        "embedding.py4j_calls": med(lambda t, s: s["embedding.py4j"]),
        "retrieval.score_stats_ms": med(lambda t, s: 1e3 * s["score_stats"],
                                        True),
        "retrieval.funnel_ms": med(lambda t, s: 1e3 * s["funnel"], True),
        "retrieval.direct_ms": med(lambda t, s: 1e3 * s["direct"], False),
        "generation.answer_ms": med(lambda t, s: 1e3 * s["answer"]),
        "rag.build_ms": med(lambda t, s: 1e3 * t["build_s"]),
        "rag.action_ms": med(lambda t, s: 1e3 * t["action_s"]),
        "rag.py4j_calls": med(lambda t, s: t["py4j"]),
        "spark.jobs_per_turn": med(lambda t, s: t["jobs"]),
        "spark.tasks_per_turn": med(lambda t, s: t["tasks"]),
    }
    report_layers(r, spark, [tot for _, tot, _ in rows], walls,
                  [t["wall"] for t in traced],
                  embedding_py4j=r.detail["layers"]["embedding.py4j_calls"])


def steps(spans: list[dict]) -> dict:
    """Split a turn into the CLI's steps. Each action is charged to the
    step whose plan it runs: the most recent top-level build call."""
    names = {"retrieval.score_against": "score_stats",
             "retrieval.score_stats": "score_stats",
             "retrieval.retrieval_funnel": "funnel",
             "retrieval.direct_retrieval": "direct",
             "generation.assemble_prompt": "answer",
             "generation.answer_stub": "answer"}
    out = dict.fromkeys(("cli.embed_query", "embedding.py4j", *names.values()),
                        0.0)
    top = {s["id"] for s in spans if s["kind"] == OP}
    step = None
    for s in spans:
        d = s["end"] - s["start"]
        if s["name"] == "embedding.embed_expr":
            out["embedding.py4j"] += s["py4j"]
        if s["parent"] not in top:
            continue
        if s["name"] == "cli.embed_query":
            out["cli.embed_query"] += d
        elif s["name"] in names:
            step = names[s["name"]]
            out[step] += d
        elif s["kind"] == ACTION and step is not None:
            out[step] += d
    return out
