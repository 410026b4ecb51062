"""Benchmark of the RAG engine: three workloads on ``local[4]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--scale bench|smoke]

Workloads (see each module's docstring and ``perfbench/METRICS.md``):

- ``rag_session``         closed-loop ``cli auto`` turns, one client
- ``ingest_incremental``  chunk -> embed -> idempotent append, by batch
- ``corpus_analytics``    timed passes over 17 registry builders and
                          ingest batches

Run from the repository root. The first run in a checkout builds the
DuckDB oracle cache of ``corpus_analytics`` (``.perfbench/oracle``).
Each run then re-runs itself as a child in
a fresh working directory under ``.perfbench/tmp`` (its ``TMPDIR``, its
Spark local dirs and the JVM's ``java.io.tmpdir``), waits for the child
and every process it started, and removes the directory. Every workload
runs on ``session.get_spark(master="local[4]")`` with the engine's own
``DEFAULT_CONF``.

The last line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``)
or its ``per_layer`` metrics (``--trace 1``). The line before it is a
``{"perfbench": ...}`` record with the host context (nproc, load,
CPU steal), failures, and the workload's named layer metrics. A traced
run also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("rag_session", "ingest_incremental", "corpus_analytics")
CHILD_TIMEOUT_S = 170
MASTER = "local[4]"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="smoke: reduced tables, for the benchmark's own test")
    p.add_argument("--child", metavar="WORK_DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _reap(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's process group (the Spark
    JVM and its Python workers) and wait until none is left. Nothing
    they hold outlives the run's directory, so no graceful JVM shutdown
    is waited for."""
    deadline = time.monotonic() + 20
    while True:
        proc.poll()  # reap the group leader once it has exited
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {proc.pid} did not exit")
        time.sleep(0.02)


def parent(args, argv: list[str]) -> int:
    if args.scale == "bench":
        sys.path.append(ROOT)
        import corpus_analytics

        corpus_analytics.build(STATE)
    work = os.path.join(STATE, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark"))
    env = dict(os.environ, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--child", work],
        cwd=work, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: child exceeded {CHILD_TIMEOUT_S} s",
              file=sys.stderr)
        code = 1
    finally:
        _reap(proc)
        shutil.rmtree(work, ignore_errors=True)
    return code


def expected_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def child(args) -> int:
    sys.path.append(ROOT)
    import importlib

    import rag_vector_database_spark  # noqa: F401  (fails outside a checkout)

    import harness

    mod = importlib.import_module(args.workload)
    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                    args.scale, args.child, STATE, T0)
    spark = None

    def start_session():
        nonlocal spark
        from rag_vector_database_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=MASTER)
        spark.sparkContext.setLogLevel("ERROR")
        r.detail["session.get_spark_s"] = time.perf_counter() - t
        return spark

    try:
        mod.run(r, start_session)
        if r.trace:
            r.tracer.dump(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            spark.stop()
    want = expected_metrics(r.trace)
    got = {k: u for k, (_, u) in (r.layers if r.trace else r.e2e).items()}
    if got != want:
        raise RuntimeError(f"metrics {got} do not match BENCHMARK.json {want}")
    if r.attempted < 1:
        raise RuntimeError("no operation was attempted")
    r.detail.update(host=r.host.finish(), failures=r.failures,
                    e2e={k: v for k, (v, _) in r.e2e.items()},
                    seed=r.seed, workload=r.workload, master=MASTER)
    print(json.dumps({"perfbench": r.detail}, default=float))
    print(json.dumps(r.result()))
    return 0


def main(argv: list[str]) -> int:
    args = parse(argv)
    if args.child:
        return child(args)
    return parent(args, argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
