#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, end to end, in one
process with one Spark session on ``local[nproc]``.

    python3 perfbench/run.py --workload flatten_pit --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` into
``.perfbench_cache/``; scratch output, Spark's local dirs and the event log
go under ``.perfbench_tmp/`` and are removed at the end.  Every execution's
output is checked.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--trace 1`` runs a cold and a warm execution untraced, then one traced
execution with spans around every layer call (see ``tracing.py``) and the
event log on; per-layer numbers come from the spans and the event log, and
``trace.overhead_s`` is the traced execution's wall minus the untraced
warm one.  Spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procinfo import jvm_pid, peak_rss_mb, process_age, stop_spark  # noqa: E402

WORKLOADS = ("flatten_pit", "curate_shards")
# Input sizes (records / docs).  Chosen so a run of either workload,
# set-up included, stays well under a minute and a half on 4 cores.
SIZES = {"flatten": 2_000, "pit": 20_000, "curate": 1_000}
# A warm execution takes 8-25 s, so a run makes one cold and then warm
# executions until --seconds have passed, at least one.
MIN_WARM = 1
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "rows_per_s": "rows/s",
    "peak_exec_mem_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_call_s": "s",
    "sources.scan_count": "count",
    "sources.input_bytes": "bytes",
    "functions.ids_exec_s": "s",
    "flatten.plan_s": "s",
    "flatten.exec_s": "s",
    "flatten.rows_out": "count",
    "sinks.write_s": "s",
    "sinks.bytes_out": "bytes",
    "asof.exec_s": "s",
    "asof.match_ratio": "ratio",
    "windows.exec_s": "s",
    "packing.exec_s": "s",
    "packing.fill_ratio": "ratio",
    "lm.train_s": "s",
    "quality.exec_s": "s",
    "quality.keep_ratio": "ratio",
    "corpus.decontam_s": "s",
    "corpus.decontam_drop_ratio": "ratio",
    "corpus.order_s": "s",
    "corpus.manifest_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.cc_call_s": "s",
    "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "spans.exec_s": "s",
    "spans.removed_tok_ratio": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.shard_write_s": "s",
    "curation.unattributed_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.plan_time_jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_disk_bytes": "bytes",
    "spark.serial_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def pin_env(root: str, tmp: str) -> None:
    """The pinned environment, set through environment variables (and
    ``spark_conf``); the program gains no knob."""
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # every JVM (launcher and driver) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"
    # two malloc arenas per process, as YARN containers set, so the JVM's
    # native memory (and with it peak RSS) does not vary with thread timing
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, root)


def spark_conf(event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # executor memory peaks sampled every 100 ms, not only at heartbeats
        "spark.executor.metrics.pollingInterval": "100ms",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                # one plain file, not a rolling log directory
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def inputs_for(root: str, workload: str, seed: int) -> dict:
    import gen

    parts = {"flatten_pit": [("flatten", "flatten_save"), ("pit", "pit_features")], "curate_shards": [("curate", "curate_shards")]}
    out = {}
    for part, generator in parts[workload]:
        out[part] = gen.ensure_inputs(root, generator, seed, SIZES[part])
        print(
            f"[inputs] {generator} seed={seed} n={SIZES[part]} gen_s={out[part]['gen_s']:.3f} "
            f"cached={out[part]['cached']} bytes={out[part]['input_bytes']}",
            file=sys.stderr,
        )
    return out


def attempt(workload, k: int, stats: dict) -> tuple[float, dict | None]:
    """One execution, timed; counts it as attempted, and as failed when it
    raised."""
    stats["attempted"] += 1
    t0 = time.perf_counter()
    try:
        res = workload.execute(k)
    except Exception:  # a failed execution is counted, and the run goes on
        traceback.print_exc()
        stats["failed"] += 1
        res = None
    return time.perf_counter() - t0, res


def check(workload, res: dict, stats: dict, label: str) -> None:
    """The output check of one execution; a problem fails the execution."""
    problems = workload.check(res)
    for p in problems:
        print(f"[check] {label}: {p}", file=sys.stderr)
    stats["failed"] += bool(problems)


def timed(workload, k: int, stats: dict) -> tuple[float, dict | None]:
    wall, res = attempt(workload, k, stats)
    if res is not None:
        check(workload, res, stats, f"execution {k}")
    return wall, res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("transmog_spark/session.py", "jobs/curate_corpus.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(root, ".perfbench_tmp", run_id)
    try:
        return run(args, root, tmp, run_id)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args: argparse.Namespace, root: str, tmp: str, run_id: str) -> int:
    pin_env(root, tmp)
    t_gen = time.perf_counter()
    inputs = inputs_for(root, args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen

    event_dir = os.path.join(tmp, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf = spark_conf(event_dir)
    from transmog_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    spark.range(1).count()
    setup_s = process_age() - gen_s  # input generation is reported apart
    print(f"[setup] {setup_s:.3f}s", file=sys.stderr)

    import workloads

    work = os.path.join(tmp, "work")
    if args.workload == "flatten_pit":
        w = workloads.FlattenPit(spark, inputs, work)
    else:
        w = workloads.CurateShards(spark, inputs, work, root)
    problems: list[str] = []
    stats = {"attempted": 0, "failed": 0}
    walls: list[float] = []
    layer: dict[str, float] = {}
    try:
        t_ref = time.perf_counter()
        w.reference()
        print(f"[phase] reference {time.perf_counter() - t_ref:.2f}s", file=sys.stderr)
        if args.workload == "curate_shards":
            print(f"[funnel] {json.dumps(w.expected['funnel'])}", file=sys.stderr)
            problems += w.funnel_problems()
        cold, res = timed(w, 0, stats)
        out_bytes = res["out_bytes"] if res else 0
        if res:
            w.cleanup(res)
        k = 1
        t_warm = time.time()
        windows = []
        while len(walls) < MIN_WARM or (not args.trace and time.time() - t_warm < args.seconds):
            t0 = time.time()
            wall, res = timed(w, k, stats)
            windows.append((t0, time.time()))
            walls.append(wall)
            if res:
                w.cleanup(res)
            k += 1
        if args.trace:
            layer = traced_execution(spark, w, k, stats, run_id, root, args, windows[-1], walls[-1])
            problems += w.trace_problems
        rss = peak_rss_mb(jvm_pid(spark)) + peak_rss_mb()
        exec_mem = peak_exec_mem_mb(spark)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        print(f"[phase] stop {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
    if args.trace:
        layer.update(engine_metrics(event_dir, layer.pop("_app_id"), layer.pop("_windows")))
        cand, cand_log = layer.pop("_candidate_pairs", None), layer.pop("_candidate_pairs_log")
        if cand is not None:
            # the probe's count is the denominator; the event log's figure
            # must agree with it wherever the verify join can be found
            if cand_log is None:
                print("[trace] no Jaccard verify join in the event log to check candidate pairs", file=sys.stderr)
            elif cand_log != cand:
                problems.append(f"the event log shows {cand_log} near-dup candidate pairs, the probe counted {cand}")
            layer["dedup.verify_ratio"] = layer.get("dedup.verified_pairs", 0) / cand if cand else 0.0

    warm = statistics.median(walls) if walls else float("nan")
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold,
        "warm_s": warm,
        "rows_per_s": w.input_rows / warm,
        "peak_exec_mem_mb": exec_mem,
        "out_bytes_per_in_byte": out_bytes / w.input_bytes,
    }
    error_rate = stats["failed"] / stats["attempted"]
    for p in problems:
        print(f"[check] {p}", file=sys.stderr)
    correct = not problems and stats["failed"] == 0
    if args.trace:
        layer["session.start_s"] = setup_s
        layer["spark.peak_rss_mb"] = rss
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    for n, m in metrics.items():
        print(f"{args.workload} {n} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate {error_rate:.6g} ratio ({stats['failed']}/{stats['attempted']} executions)")
    print(f"{args.workload} warm_executions {len(walls)}")
    print(f"{args.workload} input_gen_s {gen_s:.6g} s (about 0 when the inputs were cached)")
    print(json.dumps({"correct": correct, "attempted": stats["attempted"], "failed": stats["failed"], "metrics": metrics}))
    return 0


def peak_exec_mem_mb(spark) -> float:
    """Peak on-heap execution memory (the sort, aggregation and join buffers
    Spark's memory manager grants) over the session, from Spark's own
    executor metrics."""
    executors = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    peaks = [executors.apply(i).peakMemoryMetrics() for i in range(executors.size())]
    return sum(p.get().getMetricValue("OnHeapExecutionMemory") for p in peaks if p.isDefined()) / 2**20


def traced_execution(spark, w, k, stats, run_id, root, args, warm_window, warm_wall) -> dict:
    """One execution with every layer call wrapped in spans."""
    from tracing import Tracer

    tracer = Tracer(spark, run_id)
    w.instrument(tracer)
    try:
        with tracer.span("job", "phase") as job:
            _, res = attempt(w, k, stats)
    finally:
        tracer.close()
    m = {"_app_id": spark.sparkContext.applicationId, "_windows": (warm_window, (job.start, job.end))}
    if res is None:
        return m
    check(w, res, stats, "traced execution")
    m.update(w.layer_metrics(tracer, res))
    w.cleanup(res)
    m.update(w.probes(tracer))
    m["trace.traced_wall_s"] = job.dur
    # the probes run after the job, and are tracing cost too
    m["trace.overhead_s"] = job.dur + sum(s.dur for s in tracer.spans if s.kind == "probe") - warm_wall
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    for s in tracer.spans:
        if s.kind != "phase":
            print(f"[span] {s.name} {s.kind} {s.dur:.3f}s self={tracer.self_time(s):.3f}s rows={s.rows}", file=sys.stderr)
    return m


def engine_metrics(event_dir: str, app_id: str, windows) -> dict:
    """Engine counters from the event log: everything over the untraced
    warm execution, plus plan-time jobs and the near-dup verify ratio from
    the traced one."""
    import eventlog

    log = eventlog.parse(eventlog.find_log(event_dir, app_id))
    (w0, w1), (t0, t1) = windows
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = eventlog.window_metrics(log, w0 * 1e3, w1 * 1e3, cores)
    m["spark.plan_time_jobs"] = sum(
        1 for j in log.jobs.values() if t0 * 1e3 <= j.start_ms <= t1 * 1e3 and j.description.startswith("call:")
    )
    m["_candidate_pairs_log"] = eventlog.candidate_pairs(log, "exec:dedup.minhash_near_duplicates")
    return m


if __name__ == "__main__":
    with contextlib.suppress(BrokenPipeError):
        raise SystemExit(main())
