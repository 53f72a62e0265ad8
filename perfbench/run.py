"""Pipeline benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. With ``--trace 0`` the last stdout line is
one JSON object carrying every end-to-end metric of BENCHMARK.json;
with ``--trace 1`` it carries every per-layer metric instead (layers a
workload does not use read 0). ``--cores`` overrides the default
``local[nproc - 1]``, e.g. ``--cores 1`` for the single-threaded
baseline; ``--scale`` shrinks
the inputs (perfbench/selftest.py uses it). All scratch files
live under ``.perfbench_work/`` in the current directory and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one core is left to this process (generator, meter, py4j) and the
    # Python UDF workers: with every core given to Spark tasks, host
    # steal on any core stalls a stage
    p.add_argument("--cores", type=int, default=max(1, (os.cpu_count() or 1) - 1))
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-test runs tiny inputs)")
    return p.parse_args(argv)


def _start_session(root: str, work: str, cores: int):
    """A local[cores] session in its own JVM, every scratch path inside
    ``work``; returns (spark, seconds it took, JVM pid)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        # the short-lived launcher JVM that builds the spark-submit command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    })
    from pyspark import SparkContext

    from clickhouse_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": root,
            # a fixed, pre-touched heap: peak RSS then tracks native and
            # Python-worker memory, not when the collector grew the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
        },
    )
    spark.range(1).count()  # the session is usable, not just constructed
    return spark, time.perf_counter() - t0, SparkContext._gateway.proc.pid  # noqa: SLF001


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _measure(ctx, wl, probes):
    """The timed passes: backlog drains repeat until the seconds are
    spent (with tracing, untraced and traced drains alternate, at least
    one of each, and their ratio is the tracing overhead). A workload
    with a paced phase (ingest) makes one drain and spends the seconds
    in the paced phase, whose freshness needs one commit per second."""
    meters = {(t, paced): probes.Meter(ctx.meter.tree) for t in (False, True) for paced in (False, True)}
    passes = []

    def one(i, traced, paced=False):
        ctx.meter = meters[traced, paced]
        fn = wl.paced_pass if paced else wl.one_pass
        if not traced:
            passes.append(fn(ctx, f"pass{i}", False))
            return
        ctx.spark.streams.addListener(ctx.listener)
        try:
            p = fn(ctx, f"pass{i}", True)
            _await_listener(ctx, p.query_ids.values())
        finally:
            ctx.spark.streams.removeListener(ctx.listener)
        passes.append(p)

    end = time.perf_counter() + (0 if hasattr(wl, "paced_pass") else ctx.seconds)
    i = 0
    while time.perf_counter() < end or i < (2 if ctx.trace else 1):
        one(i, ctx.trace and i % 2 == 1)
        i += 1
    if hasattr(wl, "paced_pass"):
        one(i, False, paced=True)  # only its generator lateness is a layer figure
    return passes, meters


def _await_listener(ctx, qids, timeout_s: float = 10.0) -> None:
    """Wait until the listener has seen every query terminate, so the
    last progress reports of a traced pass are in."""
    end = time.time() + timeout_s
    while time.time() < end and not {str(q) for q in qids} <= ctx.terminated:
        time.sleep(0.02)


def _end_to_end(passes, meters, setup_s, probes):
    """From untraced passes: throughput and CPU from the backlog drains,
    freshness from the paced phase where there is one (else from the
    drains, timed from drain start), RSS from both."""
    drains = [p for p in passes if not p.paced]
    paced = [p for p in passes if p.paced]
    rows = sum(p.rows_in for p in drains)
    fresh = [f for p in (paced or drains) for f in p.freshness_ms]
    meter = meters[False, False]
    return {
        "rows_per_s": probes.median([p.rows_in / p.wall_s for p in drains]),
        "freshness_p50_ms": probes.quantile(fresh, 0.50),
        "freshness_p99_ms": probes.quantile(fresh, 0.99),
        "cpu_s_per_mrow": (meter.jvm_cpu_s + meter.python_cpu_s) / rows * 1e6,
        "peak_rss_mb": max(meter.peak_rss, meters[False, True].peak_rss) / 2**20,
        "setup_s": setup_s,
    }


def _state_ops(reports, name_part):
    return [op for r in reports for op in r.get("stateOperators", [])
            if name_part in op.get("operatorName", "")]


def _per_layer(ctx, wl, passes, meter, probes, layer):
    """Per-layer figures from the traced drains: listener progress
    reports, spans, sink reports and /proc; counts and times are per
    drain unless named as a percentile."""
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced and not p.paced]
    n = len(traced)
    mains = {q for p in traced for role, q in p.query_ids.items() if not role.endswith("dlq")}
    dlqs = {q for p in traced for role, q in p.query_ids.items() if role.endswith("dlq")}
    main_reports = [r for r in ctx.reports if r["id"] in {str(m) for m in mains}]
    dlq_reports = [r for r in ctx.reports if r["id"] in {str(m) for m in dlqs}]
    all_reports = [r for r in ctx.reports if r["id"] in {str(m) for m in mains | dlqs}]
    dur = [r["durationMs"] for r in main_reports]
    batch_ms = [d.get("triggerExecution", 0) for d in dur]
    rows_in = sum(p.rows_in for p in traced)

    def per_pass(x):
        return x / max(n, 1)

    layer.update({
        "sources.filestream.list_ms": probes.median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "sources.filestream.files": per_pass(sum(p.files for p in traced)),
        "streaming.runner.batches": per_pass(len(main_reports)),
        "streaming.runner.batch_ms_p50": probes.quantile(batch_ms, 0.5),
        "streaming.runner.batch_ms_p99": probes.quantile(batch_ms, 0.99),
        "streaming.runner.planning_ms": probes.median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.runner.commit_ms": probes.median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "streaming.runner.source_reads_per_row": sum(r["numInputRows"] for r in all_reports) / max(rows_in, 1),
        "sinks.clickhouse.calls": per_pass(sum(len(p.sink_reports) for p in traced)),
        "sinks.clickhouse.write_ms_p50": probes.quantile(ctx.spans.durations_ms("sinks.clickhouse.write_batch"), 0.5),
        "sinks.clickhouse.write_ms_p99": probes.quantile(ctx.spans.durations_ms("sinks.clickhouse.write_batch"), 0.99),
        "sinks.clickhouse.rows": per_pass(sum(max(r.rows, 0) for p in traced for r in p.sink_reports)),
        "sinks.clickhouse.retries": per_pass(sum(r.outcome == "retry" for p in traced for r in p.sink_reports)),
        "sinks.clickhouse.dlq_batches": per_pass(sum(r.outcome == "dlq" for p in traced for r in p.sink_reports)),
        "proc.jvm_cpu_s": per_pass(meter.jvm_cpu_s),
        "proc.python_cpu_s": per_pass(meter.python_cpu_s),
        "host.steal_pct": meter.steal_pct,
        "gen.lateness_p99_ms": probes.quantile([x for p in passes for x in p.lateness_ms], 0.99),
    })
    if dlqs:
        layer.update({
            "operators.validate.dlq_rows": per_pass(sum(p.dlq_rows for p in traced)),
            "sinks.dlq.write_ms": per_pass(sum(ctx.spans.durations_ms("sinks.dlq.write"))),
            "sinks.dlq.query_ms": per_pass(sum(r["durationMs"].get("triggerExecution", 0) for r in dlq_reports)),
        })
    dedup = _state_ops(main_reports, "dedupe")
    if dedup:
        layer.update({
            "streaming.runner.dedup.state_rows": max(op["numRowsTotal"] for op in dedup),
            "streaming.runner.dedup.dropped_rows": per_pass(sum(
                op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in dedup)),
            "streaming.runner.dedup.update_ms": per_pass(sum(op["allUpdatesTimeMs"] for op in dedup)),
            "streaming.runner.dedup.commit_ms": per_pass(sum(op["commitTimeMs"] for op in dedup)),
            "streaming.runner.dedup.state_mb": max(op["memoryUsedBytes"] for op in dedup) / 2**20,
        })
    join = _state_ops(main_reports, "applyInPandasWithState")
    if join:
        layer.update({
            "streaming.temporal_join.key_groups": per_pass(sum(op["numRowsUpdated"] for op in join)),
            "streaming.temporal_join.update_ms": per_pass(sum(op["allUpdatesTimeMs"] for op in join)),
            "streaming.temporal_join.state_rows": max(op["numRowsTotal"] for op in join),
            "streaming.temporal_join.state_mb": max(op["memoryUsedBytes"] for op in join) / 2**20,
            "streaming.temporal_join.emitted_rows": per_pass(sum(p.sink_rows.get("join", 0) for p in traced)),
        })
    rollup = _state_ops(main_reports, "stateStoreSave")
    if rollup:
        layer["streaming.curation.rollup_update_ms"] = per_pass(sum(op["allUpdatesTimeMs"] for op in rollup))

    if hasattr(wl, "layer_frames"):
        layer.update(_self_times(ctx, wl, probes))
    base = probes.median([p.rows_in / p.wall_s for p in untraced])
    with_trace = probes.median([p.rows_in / p.wall_s for p in traced])
    layer["trace.overhead_pct"] = 100.0 * (base / with_trace - 1)
    return layer


def _self_times(ctx, wl, probes, rounds: int = 2):
    """Self time of each fused operator: cumulative prefixes of each
    chain, each written to the noop sink as a batch frame over the same
    input; self(k) = prefix(k) - prefix(k-1), medians over rounds."""
    chains, extra = wl.layer_frames(ctx)
    out = dict(extra)
    for frames in chains:
        times = {name: [] for name, _ in frames}
        for _ in range(rounds):
            for name, df in frames:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times[name].append((time.perf_counter() - t0) * 1e3)
        for (prev, _), (name, _) in zip(frames, frames[1:]):
            out[name] = probes.median(times[name]) - probes.median(times[prev])
    return out


def run(args, root: str, work: str, bench: dict) -> dict:
    from perfbench import probes
    from perfbench.workloads import SETUP_REPEATS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark=None, work=work, seed=args.seed, seconds=args.seconds, scale=args.scale,
              trace=bool(args.trace), meter=None, spans=probes.Spans(bool(args.trace)),
              reports=[], terminated=set())
    t_start = time.perf_counter()
    wl.prepare(ctx)  # input generation: not part of set-up time
    prepare_s = time.perf_counter() - t_start
    spark, session_s, jvm_pid = _start_session(root, work, args.cores)
    try:
        ctx.spark = spark
        ctx.meter = probes.Meter(probes.ProcTree(jvm_pid))
        ctx.listener = probes.progress_listener(ctx.reports, ctx.terminated)
        t0 = time.perf_counter()
        wl.artifacts(ctx)
        artifacts_s = time.perf_counter() - t0
        setup_times, setup_layers = [], []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            setup_layers.append(wl.setup_once(ctx, i))
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + artifacts_s + probes.median(setup_times) + warm_s
        if hasattr(wl, "reference"):
            wl.reference(ctx)
        gc0 = probes.gc_ms(spark)
        t_measure = time.perf_counter()
        passes, meters = _measure(ctx, wl, probes)
        measure_s = time.perf_counter() - t_measure
        gc_per_pass = (probes.gc_ms(spark) - gc0) / len(passes)

        untraced = [p for p in passes if not p.traced]
        paced = [p for p in passes if p.paced]
        ops = sum(p.rows_in for p in passes)
        failed = sum(p.failed for p in passes)
        fresh = [f for p in (paced or untraced) for f in p.freshness_ms]
        lateness = [x for p in passes for x in p.lateness_ms]
        steal = probes.Meter.combined_steal_pct(meters.values())
        print(f"window: steal_pct={steal:.2f} "
              f"generator_lateness_p99_ms={probes.quantile(lateness, 0.99):.2f} "
              f"passes={len(passes)} ops={ops} failed_ops={failed} "
              f"freshness_samples={len(fresh)}", flush=True)
        print(f"phases: prepare_s={prepare_s:.2f} session_s={session_s:.2f} "
              f"artifacts_s={artifacts_s:.2f} setup_s={' '.join(f'{t:.2f}' for t in setup_times)} warm_s={warm_s:.2f} measure_s={measure_s:.2f} "
              f"pass_wall_s={' '.join(f'{p.wall_s:.2f}' for p in passes)} "
              f"pass_failed={' '.join(str(p.failed) for p in passes)}", flush=True)
        if args.trace:
            layer = {m["name"]: 0.0 for m in bench["per_layer"]}
            layer["session.start_s"] = session_s
            layer["spec.parse_ms"] = probes.median([s.get("spec.parse_ms", 0.0) for s in setup_layers])
            layer["plans.start_ms"] = probes.median([s["plans.start_ms"] for s in setup_layers])
            layer["jvm.gc_ms"] = gc_per_pass
            _per_layer(ctx, wl, passes, meters[True, False], probes, layer)
            specs = bench["per_layer"]
            print("per-layer (traced passes):")
            for m in specs:
                print(f"  {m['name']:<42} {layer[m['name']]:>14.3f} {m['unit']}")
        else:
            layer = _end_to_end(untraced, meters, setup_s, probes)
            specs = bench["end_to_end"]
        unknown = set(layer) - {m["name"] for m in specs}
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return {
            "correct": failed == 0,
            "attempted": ops,
            "failed": failed,
            "metrics": {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]} for m in specs},
        }
    finally:
        _stop_session(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "clickhouse_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (clickhouse_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [root]
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, root, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
