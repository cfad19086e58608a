"""One benchmark run in a fresh process (started by ``perfbench/run.py``).

Phases: start the session, generate the seeded inputs and bring the
store to the workload's state (``setup_s`` ends here), warm up, run a
fixed number of rounds of the closed-loop mix (sized from ``--seconds``),
read the heap, on ``ingest`` let maintenance catch up one pass per slice
close, check the stored point counts, stop Spark.  Untraced runs report
the end-to-end metrics; traced runs (``--trace 1``) alternate traced and
untraced rounds, then time one pass of the document pipelines, and
report the per-layer split plus the tracing overhead per op.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

import corpus as cp
import spans
import workloads as wl

#: warm-up rounds of the whole mix before timing, fixed on every commit;
#: ingest reads are slower and slow down further as L0 grows
WARMUP_ROUNDS = {"dashboard": 3, "ingest": 2}
#: timed rounds per second of ``--seconds``: the round count is fixed
#: for a given ``--seconds`` on every commit, so the store state each
#: request meets (the L0 depth on ``ingest``) depends on the seed alone
#: and not on how fast the program or the host is
ROUNDS_PER_S = {"dashboard": 0.6, "ingest": 0.4}
#: safety stop: a timed phase longer than this many times ``--seconds``
#: ends early (and says so in the diagnostics) to keep within the run limit
TIMED_CAP = 3
PIPELINE_STAGES = ("exact", "lsh", "clusters", "bm25")
PER_OP_FIELDS = spans.LAYER_FIELDS + (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "http.rows_out",
    "trace.overhead_ms",
)
RUN_FIELDS = (
    "session.start_s", "service.routed_ratio", "store.hot_segments",
    "store.bytes_written_per_point", "maintenance.run_ms",
    "maintenance.slices", "maintenance.bytes_rewritten", "jvm.gc_ms",
    "jvm.cpu_s", "py.cpu_s",
    *(f"pipelines.{st}_ms" for st in PIPELINE_STAGES), "pipelines.pairs",
)
END_TO_END = {
    "setup_s": "s", "maint_s": "s", "bytes_per_point": "B",
    "heap_live_mb": "MB",
    **{f"{op}_p50_ms": "ms" for op in wl.OPS},
}


def per_layer_names() -> list[str]:
    return list(RUN_FIELDS) + [f"{op}.{f}" for op in wl.OPS for f in PER_OP_FIELDS]


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if "bytes" in name:
        return "B"
    return "count"


def host_stamp() -> dict:
    """Diagnostics: cores, load, CPU pressure, the steal and total CPU
    ticks so far, and a CPU-only calibration time (md5 over 8 MiB), to
    tell host slowdowns from program ones."""
    buf = b"\x5a" * (8 << 20)
    t = time.perf_counter()
    hashlib.md5(buf).hexdigest()
    calib = (time.perf_counter() - t) * 1000
    stamp = {"nproc": os.cpu_count(), "loadavg": os.getloadavg()[0],
             "calib_md5_8mib_ms": round(calib, 3)}
    try:
        with open("/proc/pressure/cpu") as f:
            stamp["cpu_pressure"] = f.readline().strip()
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        stamp["steal_ticks"], stamp["total_ticks"] = ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        pass
    return stamp


_CALIB_BUF = b"\x5a" * (1 << 20)


def calib_ms() -> float:
    """One CPU-only calibration sample: md5 over 1 MiB, in ms."""
    t = time.perf_counter()
    hashlib.md5(_CALIB_BUF).digest()
    return (time.perf_counter() - t) * 1000


def dir_bytes(path: str, pred=lambda rel: True) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        if pred(rel):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                         if not f.startswith("."))
    return total


def jvm_counters(spark) -> tuple[float, float]:
    """(GC ms, JVM process CPU s) so far."""
    sc = spark.sparkContext
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    with open(f"/proc/{sc._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    cpu_s = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return float(gc_ms), cpu_s


def heap_live_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
    return used / (1 << 20)


def timed_rounds(workload: str, seconds: float) -> int:
    return max(1, round(seconds * ROUNDS_PER_S[workload]))


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    t_proc = float(os.environ.get("PERFBENCH_T0", time.time()))
    stamp0 = host_stamp()

    from rhq_metrics_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # keep JVM temp files (and no hsperfdata) inside the run directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    })
    session_s = time.perf_counter() - t
    try:
        return run(spark, args, t_proc, session_s, stamp0)
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(spark, args, t_proc: float, session_s: float, stamp0: dict) -> int:
    from rhq_metrics_spark import MaintenanceRunner
    from rhq_metrics_spark.http import MetricsApp
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    sc = spark.sparkContext
    traced_run = args.trace == 1
    store_dir = os.path.join(args.work, "store")
    svc = MetricsService(spark, MetricsStore(spark, store_dir))
    runner = MaintenanceRunner(svc, stats_sink={
        "path": os.path.join(args.work, "rollup"), "window_ms": wl.ROLLUP_MS})
    client = wl.Client(MetricsApp(svc))
    inputs = wl.Inputs(args.seed)
    setup_phases, passes = wl.setup_store(spark, svc, runner, client, inputs,
                                          args.workload, args.work)
    oracle = wl.Oracle(inputs)
    setup_s = time.time() - t_proc

    tracer = None
    if traced_run:
        tracer = spans.Tracer()
        spans.install(tracer)
    mix = wl.Mix(args.seed, oracle, args.workload)
    ops = mix.rounds()
    attempted = failed = 0
    hot_dir = os.path.join(store_dir, "points", "gauge", "hot")
    post_hot_dir = os.path.join(store_dir, "points", mix.post_type, "hot")

    def one(op: str, rid: int, traced: bool):
        nonlocal attempted, failed
        method, path, body, check, commit = mix.request(op)
        if traced:
            sc.setJobGroup(f"pb-{rid}", op)
            tracer.start_request(rid)
        t0 = time.perf_counter()
        code, resp = client(method, path, body)
        ms = (time.perf_counter() - t0) * 1000
        if traced:
            tracer.finish_request()
        attempted += 1
        if check(code, resp):
            if commit:
                commit()
        else:
            failed += 1
            print(f"perfbench: {op} failed (status {code}): {path}",
                  file=sys.stderr)
        return ms, (len(resp) if isinstance(resp, list) else 0)

    warmup = {op: [] for op in wl.OPS}
    per_round = len(mix.round)
    for _ in range(WARMUP_ROUNDS[args.workload] * per_round):
        op = next(ops)
        warmup[op].append(round(one(op, -1, False)[0], 1))

    lat = {op: [] for op in wl.OPS}
    traced_lat = {op: [] for op in wl.OPS}
    layer_rows = {op: [] for op in wl.OPS}
    hot_depth = []
    traced_ops: dict[int, str] = {}
    calib = []
    gc0, jcpu0 = jvm_counters(spark)
    pcpu0 = time.process_time()
    hot0 = dir_bytes(post_hot_dir)
    posted0 = mix.points_posted
    t_start = time.perf_counter()
    n_timed = timed_rounds(args.workload, args.seconds) * per_round
    capped = False
    for rid in range(n_timed):
        if time.perf_counter() - t_start > TIMED_CAP * args.seconds:
            capped = True
            break
        # traced runs alternate traced and untraced rounds
        traced = traced_run and (rid // per_round) % 2 == 0
        op = next(ops)
        calib.append(calib_ms())
        if traced and op != "post":
            hot_depth.append(len(os.listdir(hot_dir)))
        ms, rows = one(op, rid, traced)
        if traced:
            jobs, stages, tasks = spans.job_counts(sc, f"pb-{rid}")
            row = tracer.request_summary()
            row.update({"spark.jobs": jobs, "spark.stages": stages,
                        "spark.tasks": tasks, "http.rows_out": rows})
            layer_rows[op].append(row)
            traced_ops[rid] = op
            traced_lat[op].append(ms)
        else:
            lat[op].append(ms)
    timed_s = time.perf_counter() - t_start
    gc1, jcpu1 = jvm_counters(spark)
    pcpu1 = time.process_time()
    hot_written = dir_bytes(post_hot_dir) - hot0
    posted = mix.points_posted - posted0
    heap_mb = heap_live_mb(spark)

    if args.workload == "ingest":
        # maintenance catches up: every slice, the open one included
        passes += wl.close_slices(runner, 1, wl.HISTORY_SLICES + 1)
    maint_s = p50([secs for secs, _ in passes])
    points_dir = os.path.join(store_dir, "points")
    # the store starts with no cold layer, so this is all compaction wrote
    bytes_rewritten = dir_bytes(
        points_dir, lambda rel: rel.split(os.sep)[1:2] == ["cold"])
    cold_dir = os.path.join(points_dir, "gauge", "cold")
    history = dir_bytes(cold_dir, lambda rel: rel.startswith("date_slice=") and
                        int(rel.split("=")[1].split(os.sep)[0]) < wl.T1)
    bytes_per_point = history / (wl.N_SERIES * wl.HIST_CELLS)
    for metric_type in sorted({"gauge", mix.post_type}):
        attempted += 1
        stored = svc.store.points(metric_type).count()
        if stored != oracle.n_points(metric_type):
            failed += 1
            print(f"perfbench: stored {stored} {metric_type} points, expected "
                  f"{oracle.n_points(metric_type)}", file=sys.stderr)
    if traced_run:
        stage_s, pipe_counts, pipe_errors = run_pipelines(spark, tracer, args)
        traced_ops[-2] = "pipelines"
        attempted += len(PIPELINE_STAGES)
        failed += len(pipe_errors)
        for err in pipe_errors:
            print(f"perfbench: {err}", file=sys.stderr)

    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_digest": inputs.digest(), "timed_s": round(timed_s, 3),
        "timed_requests": n_timed, "capped": capped,
        "session_s": round(session_s, 3),
        "setup_phases_s": {k: round(v, 3) for k, v in setup_phases.items()},
        "samples": {op: len(v) for op, v in lat.items()},
        "calib_ms": p50(calib),
        "warmup_ms": warmup,
        "lat_ms": {op: [round(x, 1) for x in v] for op, v in lat.items()},
        "p90_ms": {op: float(np.percentile(v, 90)) for op, v in lat.items() if v},
        "host_start": stamp0, "host_end": host_stamp(),
        "maintenance_passes": [(round(secs, 3), n) for secs, n in passes],
    }
    if not traced_run:
        values = {
            "setup_s": setup_s, "maint_s": maint_s,
            "bytes_per_point": bytes_per_point, "heap_live_mb": heap_mb,
            **{f"{op}_p50_ms": p50(lat[op]) for op in wl.OPS},
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        attempts = tracer.counts.get("routed_attempts", 0)
        values = {
            "session.start_s": session_s,
            "service.routed_ratio": (tracer.counts.get("routed_hits", 0) / attempts
                                     if attempts else 0.0),
            "store.hot_segments": p50(hot_depth),
            "store.bytes_written_per_point": hot_written / posted if posted else 0.0,
            "maintenance.run_ms": maint_s * 1000,
            "maintenance.slices": sum(n for _, n in passes),
            "maintenance.bytes_rewritten": bytes_rewritten,
            "jvm.gc_ms": gc1 - gc0, "jvm.cpu_s": jcpu1 - jcpu0,
            "py.cpu_s": pcpu1 - pcpu0,
            **{f"pipelines.{st}_ms": stage_s[st] * 1000 for st in PIPELINE_STAGES},
            "pipelines.pairs": pipe_counts["pairs"],
        }
        for op in wl.OPS:
            rows = layer_rows[op]
            for f in PER_OP_FIELDS:
                if f == "trace.overhead_ms":
                    v = p50(traced_lat[op]) - p50(lat[op])
                else:
                    v = p50([r[f] for r in rows])
                values[f"{op}.{f}"] = v
        diag["samples_traced"] = {op: len(v) for op, v in traced_lat.items()}
        diag["corpus_digest"] = pipe_counts["digest"]
        # spans outlive the run directory: .perfbench_run/spans-*.jsonl
        diag["spans_file"] = os.path.join(
            os.path.dirname(args.work),
            f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(diag["spans_file"], traced_ops)
        metrics = {k: {"value": values[k], "unit": per_layer_unit(k)}
                   for k in per_layer_names()}
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def run_pipelines(spark, tracer, args) -> tuple[dict, dict, list[str]]:
    """Traced runs only: build a standing BM25 index over the seeded
    corpus, then time one exact -> LSH -> clusters pass and one BM25
    batch under the tracer.  Returns the seconds per stage, the exact
    counts and the mismatches against the corpus's known answers."""
    corpus = cp.Corpus(args.seed)
    index_dir = os.path.join(args.work, "bm25")
    cp.build_index(spark, corpus, index_dir)
    stage_s = {}

    @contextlib.contextmanager
    def timer(stage):
        t = time.perf_counter()
        yield
        stage_s[stage] = time.perf_counter() - t

    tracer.start_request(-2)  # the spans file labels request -2 "pipelines"
    try:
        counts, errors = cp.run_pipelines(spark, corpus, index_dir, timer)
    finally:
        tracer.finish_request()
    counts["digest"] = corpus.digest()
    return stage_s, counts, errors


if __name__ == "__main__":
    sys.exit(main())
