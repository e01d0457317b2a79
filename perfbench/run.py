#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop client, one operation at a
time, in a fresh session sized to the machine.

    python3 perfbench/run.py --workload sql_battery --seed 1 --seconds 8 --trace 0

Run from the repository root.  A run generates (or reuses) the seeded
inputs, then times, in order:

1. set-up: ``session.get_spark`` until the input tables are scanned once;
2. the cold pass: index builds (``llm_pipeline``) and the first pass over
   the workload's operations in the fresh session;
3. warm passes, for ``--seconds`` and at least ``workloads.WARM_PASSES``
   of them; the statistics use the last that many;
4. two more set-ups that stop the session and start it again on the same
   JVM; ``setup_s`` is the median of the three.
5. the JVM and every process beneath the benchmark are stopped and
   waited for, on every path out of the run.

Outputs are checked after timing.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
line before it holds the details (resolved session environment, load
averages, each pass and set-up, the tail percentile and its sample count,
the failures).  ``--trace 1`` records spans around every call and prints
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

SETUPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="sf0.01", choices=sorted(workloads.gen.TABLE_ROWS))
    return p.parse_args(argv)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(ops, tracer, failures: dict, results: dict | None = None) -> list[tuple[str, float]]:
    """Run each operation once; returns (name, seconds) per success.  With
    ``results``, a query's DataFrame is collected to pandas instead of
    noop-written, and the result kept there for the output checks."""
    times = []
    for op in ops:
        if op.name in failures:
            continue
        t0 = time.perf_counter()
        try:
            with tracer.span(op.span, op.name):
                df = op.fn()
            if df is not None:
                with tracer.span(op.span.split(".", 1)[0] + ".exec", op.name):
                    if results is None:
                        noop_write(df)
                    else:
                        results[op.name] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            failures[op.name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"perfbench: {op.name} failed: {failures[op.name]}", file=sys.stderr)
            continue
        times.append((op.name, time.perf_counter() - t0))
    return times


def set_up(tracer, inputs):
    """Start the session and scan each input table once; (spark, seconds)."""
    from mini_hadoop_spark.session import get_spark
    from mini_hadoop_spark.sources.catalog import load_table

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    tracer.attach(spark)
    for t in inputs.tables:
        with tracer.span("catalog.load_table", t):
            df = load_table(spark, inputs.tables_dir, t)
        with tracer.span("catalog.scan", t):
            noop_write(df)
    return spark, time.perf_counter() - t0


def wrap_job_calls(tracer) -> list:
    """Wrap the jobs layers' functions where the parity queries call them,
    so a traced run times each call.  Returns what restores them."""
    from mini_hadoop_spark.engine import examples
    from mini_hadoop_spark.workloads import parity

    targets = [
        (examples, "run_job", "mapreduce.run_job"),
        (parity, "word_count", "wordcount.word_count"),
        (parity, "pagerank", "pagerank.pagerank"),
    ]
    restore = []
    for mod, attr, span in targets:
        fn = getattr(mod, attr)

        def wrapped(*a, _fn=fn, _span=span, **kw):
            with tracer.span(_span):
                return _fn(*a, **kw)

        setattr(mod, attr, wrapped)
        restore.append((mod, attr, fn))
    return restore


def run(args, root: str, cache: str, run_dir: str, env: dict) -> tuple[dict, dict]:
    inputs = workloads.prepare(args.workload, cache, args.seed, args.size)
    tracer = Tracer(bool(args.trace), f"{args.workload}-s{args.seed}-p{os.getpid()}")
    detail: dict = {"loadavg_before": host.loadavg()}
    data_dir = inputs.tables_dir
    llm = args.workload == "llm_pipeline"

    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    pairs = workloads.llm_queries() if llm else workloads.sql_battery_queries()
    restore = wrap_job_calls(tracer) if args.trace else []

    failures: dict[str, str] = {}
    setups = []
    tracer.phase = "setup1"
    spark, s = set_up(tracer, inputs)
    setups.append(s)

    ops = workloads.seeded_order(workloads.query_ops(spark, data_dir, pairs), args.seed)
    dfs = workloads.DfsRoundTrip(spark, run_dir, inputs.words_file) if llm else None
    attempted = 0
    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        tracer.phase = "build"
        builds = {}
        if llm:
            mods = workloads.registry_modules()
            for span, mod, fn, extra_args in workloads.LLM_BUILDS:
                b0 = time.perf_counter()
                attempted += 1
                try:
                    with tracer.span(span, span):
                        getattr(mods[mod], fn)(spark, data_dir, *extra_args)
                except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                    failures[span] = f"{type(exc).__name__}: {exc}"[:300]
                builds[span] = time.perf_counter() - b0
        tracer.phase = "cold"
        pass_ops = (dfs.ops() if dfs else []) + ops
        attempted += len(pass_ops)
        cold_results: dict = {}
        cold = run_pass(pass_ops, tracer, failures, cold_results)
        cold_wall = time.perf_counter() - t0

        k = workloads.WARM_PASSES[args.workload]
        warm = []
        w0 = time.perf_counter()
        while len(warm) < k or time.perf_counter() - w0 < args.seconds:
            tracer.phase = f"warm{len(warm) + 1}"
            pass_ops = (dfs.ops() if dfs else []) + ops
            attempted += len([op for op in pass_ops if op.name not in failures])
            p0 = time.perf_counter()
            bk0 = tracer.bookkeeping_s
            times = run_pass(pass_ops, tracer, failures)
            warm.append((time.perf_counter() - p0, times, tracer.bookkeeping_s - bk0))
    for mod, attr, fn in restore:
        setattr(mod, attr, fn)
    heap_readings = host.heap_live_mb(spark)

    measured = warm[-k:]
    measured_phases = [f"warm{i}" for i in range(len(warm) - k + 1, len(warm) + 1)]
    op_times = [t for _, times, _ in measured for _, t in times]

    tracer.phase = "check"
    import checks

    c0 = time.perf_counter()
    wrong = checks.check_queries(spark, data_dir, cold_results, oracles, queries)
    if dfs:
        src = workloads.sha256(inputs.words_file)
        for path in dfs.retrieved:
            if workloads.sha256(path) != src:
                wrong[f"dfs_round_trip:{os.path.basename(path)}"] = "sha256 differs from source"
    for name, reason in wrong.items():
        print(f"perfbench: wrong output: {name}: {reason}", file=sys.stderr)
    check_s = time.perf_counter() - c0

    for i in range(2, SETUPS + 1):
        spark.stop()
        tracer.phase = f"setup{i}"
        spark, s = set_up(tracer, inputs)
        setups.append(s)
    spark.stop()

    wall = metrics.median([w for w, _, _ in measured])
    tail = metrics.tail(op_times)
    if tail is None:
        raise RuntimeError(f"{len(op_times)} warm operations are too few for a tail percentile")
    failed = metrics.failed_count(failures, wrong)
    detail.update({
        "workload": args.workload,
        "seed": args.seed,
        "session_env": env,
        "operations": [op.name for op in ops],
        "setups_s": setups,
        "builds_s": builds,
        "cold_wall_s": cold_wall,
        "warm_walls_s": [w for w, _, _ in warm],
        "measured_passes": len(measured),
        "op_tail": {"percentile": tail[1], "samples": tail[2]},
        "cold_op_s": dict(cold),
        "warm_op_s": {
            name: metrics.median([t for _, times, _ in measured for n, t in times if n == name])
            for name, _ in cold
        },
        "check_s": check_s,
        "heap_readings_mb": heap_readings,
        "peak_rss_mb": {"jvm": rss.peak_jvm_mb, "python_workers": rss.peak_workers_mb, "sum": rss.peak_mb},
        "failures": failures,
        "wrong_outputs": wrong,
        "fail_frac": failed / max(attempted, 1),
        "loadavg_after": host.loadavg(),
    })
    if args.trace:
        extra = {
            "catalog.scan_mb": inputs.tables_mb,
            "trace.wall_s": wall,
            "trace.bookkeeping_s": metrics.median([b for _, _, b in measured]),
            "mapreduce.pairs_out": len(cold_results.get("mapreduce_wordcount", ())),
            "jvm.peak_rss_mb": rss.peak_jvm_mb,
            "python_workers.peak_rss_mb": rss.peak_workers_mb,
        }
        if dfs:
            extra["dfs.blocks"] = dfs.blocks[-1] if dfs.blocks else 0
        values = metrics.per_layer(tracer.spans, measured_phases, SETUPS, extra)
        if dfs:
            for call in ("store", "retrieve"):
                t = values[f"dfs.{call}_file_s"]
                values[f"dfs.{call}_mb_s"] = dfs.src_mb / t if t else 0.0
        trace_path = os.path.join(os.path.dirname(run_dir), f"trace-{args.workload}-s{args.seed}.jsonl")
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, root)
        detail["layer_self_s"] = metrics.layer_self_s(tracer.spans, measured_phases)
        units = metrics.PER_LAYER
    else:
        values = {
            "setup_s": metrics.median(setups),
            "cold_wall_s": cold_wall,
            "wall_s": wall,
            "op_p50_s": metrics.hd_median(op_times),
            "op_tail_s": tail[0],
            "heap_live_mb": min(heap_readings),
        }
        units = metrics.END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mini_hadoop_spark", "session.py")):
        print("perfbench: run from the repository root; mini_hadoop_spark/ is missing", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    # a SIGTERM unwinds through the clean-up below instead of ending at once
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = host.session_env(root, run_dir)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, root)
    try:
        result, detail = run(args, root, os.path.join(work, "cache"), run_dir, env)
    finally:
        # no process of the run outlives it, on any path out
        left = host.stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)
        return 1
    line = json.dumps(result, allow_nan=False)
    print(json.dumps({"detail": detail}, allow_nan=False, default=str))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
