"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload {ask,write} --seed N \
        --seconds S --trace {0,1}

The run makes its inputs from the seed, starts a ``local[2]`` session, sets
up (inputs, pre-built stores, untimed warm-up rounds of every op), then runs
the workload's rounds in a closed loop until ``--seconds`` have passed, and
finally checks every recorded output against a reference computed outside
Spark.  With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it runs one plain round and one traced round instead, and
reports the per-layer metrics and the tracing overhead.  The last line of
standard output is one JSON object: correct, attempted, failed, metrics.

Everything the run writes lives under ``.perfbench-run/<pid>`` in the
checkout and is removed at exit; a traced run keeps its spans in
``.perfbench-out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import workloads
from procstat import PssSampler, tree_cpu_s
from spans import LAYER_METRICS, LAYERS, SCAN_METRICS, SCANNING, SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 2  # half of a 4-core box: Python workers and JVM JIT/GC threads still fit
DRIVER_MEMORY = "2g"
PROGRAM_FILES = ("log_vector_spark/session.py", "tools/index_cli.py", "tools/ask.py")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ask", "write"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Per-run temp, spill and store directories, a fixed heap, single-
    threaded native math, and the checkout on the Python workers' path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed heap size, so GC timing does not depend on when the
        # collector grows the heap; its pages become resident only when
        # used, so resident memory still follows heap use
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} "
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=20000 --conf spark.ui.retainedStages=20000 "
            "pyspark-shell"
        ),
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    tempfile.tempdir = tmp
    sys.path.insert(1, ROOT)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (which ends its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def timed_op(wl, name: str, fn, pid: int) -> tuple[float, float]:
    """(wall s, process-tree CPU s) of one op; a raised op is a failed op."""
    c0, t0 = tree_cpu_s(pid), time.perf_counter()
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - the loop survives, the op counts as failed
        traceback.print_exc(file=sys.stderr)
        wl.record(name, [f"raised {type(e).__name__}: {str(e)[:300]}"])
    return time.perf_counter() - t0, tree_cpu_s(pid) - c0


def warmup(wl, pid: int) -> None:
    """Untimed rounds, so that no timed or traced call is a first call."""
    for _ in range(wl.warm_rounds):
        for name, fn in wl.ops():
            timed_op(wl, name, fn, pid)


def measure(wl, seconds: float, pid: int) -> dict:
    """Closed loop: rounds run back to back until ``seconds`` have passed
    (at least one round).  Round inputs are made between ops, untimed."""
    rounds, cpu, lat = [], 0.0, {}
    sampler = PssSampler(pid).start()
    t_end = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < t_end:
        wall = 0.0
        for name, fn in wl.ops():
            w, c = timed_op(wl, name, fn, pid)
            wall, cpu = wall + w, cpu + c
            lat.setdefault(name, []).append(w)
        rounds.append(wall)
    peak = sampler.stop()
    return {"rounds": rounds, "cpu_s": cpu / len(rounds), "peak_pss_mb": peak, "latency": lat}


def traced(wl, tracer, counters, pid: int) -> dict:
    """Plain rounds (their ops' stage ranges kept for the fused read ratio),
    then as many traced rounds.  Returns the summed round walls and each
    op's median plain wall."""
    plain, lat = 0.0, {}
    for _ in range(wl.trace_rounds):
        for name, fn in wl.ops():
            counters.drain()
            _, s0 = counters.cursor()
            w, _ = timed_op(wl, name, fn, pid)
            plain += w
            lat.setdefault(name, []).append(w)
            counters.drain()
            _, s1 = counters.cursor()
            if name == "index_full":
                wl.read_ratio(counters.stages(s0, s1)["input_mb"])
    n0 = len(tracer.spans)
    for _ in range(wl.trace_rounds):
        wl.traced_round(tracer)
    traced_wall = sum(s["end"] - s["start"] for s in tracer.spans[n0:] if s["layer"] is None)
    return {"plain_s": plain, "traced_s": traced_wall,
            "ops": {k: statistics.median(v) for k, v in lat.items()}}


OPS = ("index_full", "index_incr", "question", "ingest", "dedup", "ivf_store")
RATIOS = (
    "sources.corpus.read_ratio",
    "operators.search.jobs_per_question",
    "streaming.pipeline.jobs_per_epoch",
    "sources.store.files_per_leaf",
    "streaming.pipeline.files_per_leaf",
    "sources.index_store.files_per_leaf",
)


def layer_metrics(wl, tracer, walls: dict) -> dict:
    totals = tracer.layer_totals()
    units = {"wall_s": "s", "driver_s": "s", "task_cpu_s": "s", "gc_s": "s",
             "shuffle_mb": "MB", "spill_mb": "MB", "input_mb": "MB"}
    out = {}
    for layer in LAYERS:
        names = LAYER_METRICS + (SCAN_METRICS if layer in SCANNING else ())
        for m in names:
            out[f"{layer}.{m}"] = {"value": round(totals[layer][m], 6), "unit": units.get(m, "count")}
    for name in RATIOS:
        out[name] = {"value": round(wl.ratios.get(name, 0.0), 6), "unit": "ratio"}
    for op in OPS:
        out[f"op.{op}_s"] = {"value": round(walls["ops"].get(op, 0.0), 6), "unit": "s"}
    out["tracing_overhead_s"] = {"value": round(walls["traced_s"] - walls["plain_s"], 6), "unit": "s"}
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"error: the engine is not in this checkout (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench-run", str(os.getpid()))
    isolate(run_dir)
    pid = os.getpid()
    spark = None
    try:
        tracer = Tracer()
        with tracer.span("setup", "session") if args.trace else contextlib.nullcontext():
            t0 = time.perf_counter()
            from log_vector_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
            session_s = time.perf_counter() - t0
            tracer.counters = counters = SparkCounters(spark)
            wl = workloads.make(args.workload, spark, args.seed)
            t = time.perf_counter()
            wl.prep(os.path.join(run_dir, "inputs"))
            prep_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.setup()
            warmup(wl, pid)
            warm_s = time.perf_counter() - t
        setup_s = session_s + prep_s + warm_s
        print(f"setup: session {session_s:.2f} s, inputs {prep_s:.2f} s, warm-up {warm_s:.2f} s")

        if args.trace:
            walls = traced(wl, tracer, counters, pid)
            metrics = layer_metrics(wl, tracer, walls)
            print(f"round: plain {walls['plain_s']:.2f} s, traced {walls['traced_s']:.2f} s")
        else:
            res = measure(wl, args.seconds, pid)
            # a typical round: each op's median wall, summed over the round
            work_s = sum(statistics.median(xs) for xs in res["latency"].values())
            metrics = {
                "setup_s": {"value": round(setup_s, 4), "unit": "s"},
                "work_s": {"value": round(work_s, 4), "unit": "s"},
                "cpu_s": {"value": round(res["cpu_s"], 4), "unit": "s"},
                "peak_pss_mb": {"value": round(res["peak_pss_mb"], 2), "unit": "MB"},
            }
            print(f"rounds: {len(res['rounds'])}, walls {[round(x, 3) for x in res['rounds']]}")
            for name, xs in res["latency"].items():
                print(f"op {name}: n={len(xs)} p50={statistics.median(xs):.3f} s "
                      f"max={max(xs):.3f} s")
        t = time.perf_counter()
        wl.check()
        print(f"checks: {time.perf_counter() - t:.2f} s")
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(path)
            print(f"spans: {path}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    for f in wl.failures[:20]:
        print(f"FAILED {f}")
    print(f"failed_ratio: {wl.n_failed_ops / max(wl.n_ops, 1):.4f} "
          f"({wl.n_failed_ops} of {wl.n_ops} ops)")
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": wl.n_failed_ops == 0,
        "attempted": wl.n_ops,
        "failed": wl.n_failed_ops,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
