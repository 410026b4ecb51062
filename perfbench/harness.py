"""Measurement machinery shared by the three workloads.

- ``Tracer``: spans recorded from the benchmark's side of every call
  into the engine's layers (name, layer, kind, start, end, parent, op
  id), py4j call commands counted per span, and Spark jobs joined to
  spans through ``SparkContext.setJobGroup(<span id>)``. Stage and task
  metrics come from the Spark UI REST API after each operation, outside
  the operation's own wall time. Spans stay in memory until the run
  writes them out.
- ``HostSampler``: ``nproc``, the 1-minute load average and CPU steal
  from ``/proc/stat`` deltas over the run.
- ``Run``: one benchmark invocation's checks, operations and output.

With tracing off nothing is wrapped or patched: the timed code is the
engine's code and nothing else.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time
import traceback
import urllib.request

# Span kinds. A ``build`` span is a call that returns a lazy plan
# (DataFrame or Column); an ``action`` span runs Spark jobs; a ``call``
# span is a layer entry point that does both (``cli.embed_query``,
# ``cli.run_ingest``); an ``op`` span is one timed operation (a turn,
# an ingest batch, a registry query).
BUILD, ACTION, CALL, OP = "build", "action", "call", "op"

# Per-span Spark metrics, read from the UI REST API.
SPARK_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_bytes", "input_bytes", "output_bytes", "write_tasks")


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute
    read per ``span()`` call and patch nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._paused = 0
        self._undo: list[tuple] = []
        self._op: str | None = None
        self._sc = None
        self._rest: str | None = None
        self._seen_stages: set[int] = set()

    # -- setup ----------------------------------------------------------
    def enable(self, spark) -> None:
        """Start tracing on ``spark``: count py4j call commands and
        resolve the UI REST endpoint."""
        import py4j.clientserver as cs

        self.enabled = True
        self._sc = spark.sparkContext
        port = self._sc.uiWebUrl.rsplit(":", 1)[1]
        self._rest = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{self._sc.applicationId}")
        orig = cs.ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *a, **k):
            # only call commands ("c\n..."): object-release messages
            # follow Python GC timing and do not repeat run to run
            if tracer._stack and not tracer._paused and command[:2] == "c\n":
                tracer._stack[-1]["py4j"] += 1
            return orig(conn, command, *a, **k)

        self.patch(cs.ClientServerConnection, "send_command", send_command)

    def patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, name: str, layer: str, kind: str,
             group: bool = True) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. With
        ``group=False`` the span sets no job group, so jobs it starts
        are charged to the nearest enclosing span that does."""
        fn = owner.__dict__[attr]
        if isinstance(fn, (staticmethod, classmethod)):
            raise TypeError(f"cannot wrap descriptor {name}")
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(name, layer, kind, group=group):
                return fn(*a, **k)

        self.patch(owner, attr, traced)

    def close(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def _group(self) -> None:
        """Point the job group at the innermost span that owns one."""
        owner = next((s for s in reversed(self._stack) if s["group"]), None)
        with self.paused():
            if owner is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(owner["id"], owner["name"])

    def begin(self, name: str, layer: str, kind: str, op: str | None = None,
              group: bool = True):
        if not self.enabled:
            return None
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"pb{len(self.spans)}", "name": name, "layer": layer,
             "kind": kind, "parent": parent["id"] if parent else None,
             "op": self._op, "group": group, "py4j": 0,
             "start": 0.0, "end": 0.0}
        self.spans.append(s)
        self._stack.append(s)
        if group:
            self._group()
        s["start"] = time.perf_counter()
        return s

    def end(self, s: dict | None) -> None:
        if s is None:
            return
        s["end"] = time.perf_counter()
        while self._stack and self._stack.pop() is not s:
            pass
        if s["group"]:
            self._group()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str, op: str | None = None,
             group: bool = True):
        s = self.begin(name, layer, kind, op, group)
        try:
            yield s
        finally:
            self.end(s)

    # -- Spark metrics ----------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def collect_spark(self, op: str) -> None:
        """Attach job/stage/task metrics to every span of ``op``. Runs
        after the operation, so its cost is not in the op's wall time."""
        if not self.enabled:
            return
        with self.paused():
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
            tracker = self._sc.statusTracker()
            for s in self.spans:
                if s["op"] != op or "jobs" in s or not s["group"]:
                    continue
                m = dict.fromkeys(SPARK_KEYS, 0)
                for jid in tracker.getJobIdsForGroup(s["id"]):
                    m["jobs"] += 1
                    for sid in self._get(f"/jobs/{jid}")["stageIds"]:
                        if sid in self._seen_stages:
                            continue
                        for att in self._get(f"/stages/{sid}?details=false"):
                            if att["status"] in ("SKIPPED", "PENDING"):
                                continue
                            self._seen_stages.add(sid)
                            m["stages"] += 1
                            m["tasks"] += att["numCompleteTasks"]
                            m["run_ms"] += att["executorRunTime"]
                            m["cpu_ms"] += att["executorCpuTime"] / 1e6
                            m["gc_ms"] += att["jvmGcTime"]
                            m["shuffle_bytes"] += att["shuffleWriteBytes"]
                            m["input_bytes"] += att["inputBytes"]
                            m["output_bytes"] += att["outputBytes"]
                            if att["outputBytes"] > 0:
                                m["write_tasks"] += att["numCompleteTasks"]
                s.update(m)

    # -- aggregation ------------------------------------------------------
    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def totals(self, spans: list[dict]) -> dict:
        """Sum py4j calls and Spark metrics over ``spans``, and split the
        time into build and action time. Build (action) time is the
        time in build (action) spans that sit under no other build or
        action span, so a builder's eager jobs count as build time."""
        by_id = {s["id"]: s for s in spans}

        def typed_ancestor(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["kind"] in (BUILD, ACTION):
                    return True
                p = by_id.get(p["parent"])
            return False

        out = {"build_s": 0.0, "action_s": 0.0, "py4j": 0}
        for s in spans:
            out["py4j"] += s["py4j"]
            for k in SPARK_KEYS:
                out[k] = out.get(k, 0) + s.get(k, 0)
            if s["kind"] in (BUILD, ACTION) and not typed_ancestor(s):
                out[f"{s['kind']}_s"] += s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover (children of one span never overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class HostSampler:
    """Host context for one run: CPU steal over the run from
    ``/proc/stat`` deltas, the 1-minute load average, and nproc."""

    def __init__(self) -> None:
        self._start = self._cpu()

    @staticmethod
    def _cpu() -> list[int] | None:
        try:
            with open("/proc/stat") as f:
                return [int(x) for x in f.readline().split()[1:]]
        except OSError:
            return None

    def finish(self) -> dict:
        end = self._cpu()
        out = {"nproc": len(os.sched_getaffinity(0))}
        try:
            out["load1"] = os.getloadavg()[0]
        except OSError:
            pass
        if self._start and end:
            d = [b - a for a, b in zip(self._start, end)]
            total = sum(d[:8])  # user..steal; guest is inside user
            if total > 0 and len(d) > 7:
                out["steal_pct"] = round(100.0 * d[7] / total, 3)
        return out


def jvm_peak_rss_mb(spark) -> float | None:
    """Peak resident set of the Spark JVM (``VmHWM`` in /proc)."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond
    it (None when there are fewer than eleven samples)."""
    n = len(xs)
    out = {"n": n, "p": None, "value": None}
    if n < 11:
        return out
    p = int(100 * (n - 10) / n)
    out["p"] = p
    out["value"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return out


class Run:
    """Checks, operations and results of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str, work_dir: str, cache_dir: str,
                 t0: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.t0 = t0
        self.tracer = Tracer()
        self.host = HostSampler()
        self.attempted = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0  # benchmark-own time inside the set-up
        self.setup_s: float | None = None
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}

    def attempt(self, ok: bool, what: str) -> bool:
        """Count one operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def failed_op(self, what: str) -> None:
        traceback.print_exc(file=sys.stderr)
        self.attempt(False, f"{what}: raised")

    @contextlib.contextmanager
    def own_time(self):
        """Time spent in the benchmark's own input generation or output
        checking; it is taken out of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    def setup_done(self) -> float:
        return time.perf_counter() - self.t0 - self.excluded_s

    def metric(self, name: str, value, unit: str, layer: bool = False) -> None:
        if value is None:
            raise RuntimeError(f"metric {name} has no samples")
        (self.layers if layer else self.e2e)[name] = (float(value), unit)

    def result(self) -> dict:
        chosen = self.layers if self.trace else self.e2e
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in chosen.items()},
        }


def report_ops(r, a: list[float], b: list[float]) -> None:
    """The end-to-end metrics every workload reports: set-up time and
    the median wall time of its op A and op B."""
    r.metric("setup_s", r.setup_s, "s")
    r.metric("op_a_p50_ms", 1e3 * median(a), "ms")
    r.metric("op_b_p50_ms", 1e3 * median(b), "ms")
    for name, xs in (("op_a", a), ("op_b", b)):
        t = tail(xs)
        r.detail[f"{name}_ms"] = [1e3 * x for x in xs]
        r.detail[f"{name}_tail_ms"] = {
            "percentile": t["p"], "n": t["n"],
            "value": None if t["value"] is None else 1e3 * t["value"]}


# The engine's layers, as named in the spans; each traced run reports
# the share of op wall time spent in each layer's own code (0 where a
# workload does not call the layer). "perfbench" is the op's time
# outside every layer span: the CLI loop, the benchmark's own glue.
LAYERS = ("cli", "embedding", "operators.chunking", "operators.ingest",
          "operators.retrieval", "operators.generation", "operators.dedup",
          "plans.registry", "spark", "perfbench")


def report_layers(r, spark, ops: list[dict], untraced: list[float],
                  traced: list[float], embedding_py4j: float = 0.0) -> None:
    """The per-layer metrics every workload reports from its traced
    region. ``ops`` holds one ``Tracer.totals`` dict per traced op;
    ``untraced``/``traced`` are the op wall times of the untraced and
    the traced region, whose ratio is the tracing overhead;
    ``embedding_py4j`` is the per-op py4j count of embedding calls."""
    n = len(ops)
    s = {k: sum(o.get(k, 0) for o in ops) for k in ops[0]}
    wall = sum(traced)
    m = lambda name, v, unit: r.metric(name, v, unit, layer=True)  # noqa: E731
    m("session.get_spark_s", r.detail["session.get_spark_s"], "s")
    m("session.warmup_s", r.detail["session.warmup_s"], "s")
    m("session.jvm_peak_rss_mb", jvm_peak_rss_mb(spark), "MB")
    m("op.build_ms", 1e3 * s["build_s"] / n, "ms")
    m("op.action_ms", 1e3 * s["action_s"] / n, "ms")
    m("op.py4j_calls", s["py4j"] / n, "count")
    m("spark.jobs_per_op", s["jobs"] / n, "count")
    m("spark.stages_per_op", s["stages"] / n, "count")
    m("spark.tasks_per_op", s["tasks"] / n, "count")
    m("spark.executor_run_s", s["run_ms"] / 1e3, "s")
    m("spark.executor_cpu_s", s["cpu_ms"] / 1e3, "s")
    m("spark.gc_pct", 100.0 * s["gc_ms"] / s["run_ms"] if s["run_ms"] else 0.0,
      "%")
    m("spark.busy_cores", s["run_ms"] / 1e3 / wall, "cores")
    m("spark.shuffle_bytes", s["shuffle_bytes"], "B")
    m("embedding.py4j_calls", embedding_py4j, "count")
    own = r.tracer.self_times()
    for layer in LAYERS:
        m(f"self_pct.{layer}", 100.0 * own.get(layer, 0.0) / wall, "%")
    m("trace.overhead_pct",
      100.0 * ((sum(traced) / len(traced)) / (sum(untraced) / len(untraced))
               - 1), "%")
    unknown = set(own) - set(LAYERS)
    if unknown:
        raise RuntimeError(f"spans name unknown layers {sorted(unknown)}")
