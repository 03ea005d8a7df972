#!/usr/bin/env python3
"""Run one workload of the benchmark and print one JSON result line.

    python3 layerbench/run.py --workload curation_corpus --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One run is one fresh process:

1. declare the cold state (remove this benchmark's index directories under
   ``/tmp/spark_graft_*`` and the run's own output, warehouse, spill and
   event-log directories), then write the inputs for ``--seed``;
2. set up the program (import the package and ``__spark_entry__``, then
   ``get_spark()`` on ``local[<cores>]``): ``setup_s`` is its CPU seconds;
3. a cold pass (``cold_pass_cpu_s``: CPU seconds of this process and the
   processes it started), untimed warm-up passes (on ``curation_corpus`` the
   first one checks every op's output), then steady passes for ``--seconds``
   and at least three: ``pass_cpu_s`` is their median CPU seconds less the
   JVM's JIT compiler threads;
4. stop the session and the JVM, and print the result as the last line.

With ``--trace 1`` the package's modules are wrapped before the contract is
imported, Spark writes a plain event log, steady passes alternate untraced
and traced, and the result holds the per-layer metrics instead (see
README.md).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, memo_entries  # noqa: E402

WORK = os.path.join(ROOT, ".layerbench_work")
INDEX_DIRS = "/tmp/spark_graft_*"
# names this checkout's entries in the program's /tmp index directories, so
# runs in two checkouts at once neither reuse nor remove each other's
CHECKOUT = hashlib.sha1(ROOT.encode()).hexdigest()[:8]
MIN_STEADY = 3
DEADLINE_S = 100.0  # add no steady pass beyond MIN_STEADY after this much wall time


def is_traced_pass(i: int) -> bool:
    """Steady pass i of a traced run is traced in the pattern ABBA ABBA..."""
    return i % 4 in (1, 2)


def log(msg: str) -> None:
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def own_index_dirs(prefix: str) -> list[str]:
    return [p for d in glob.glob(INDEX_DIRS) for p in glob.glob(os.path.join(d, prefix + "*"))]


def declare_cold_state(run_dir: str, prefix: str) -> int:
    """Remove what could carry state into this run; return how many dirs."""
    removed = own_index_dirs(prefix)
    if os.path.isdir(run_dir):
        removed += [os.path.join(run_dir, d) for d in os.listdir(run_dir)]
    for path in removed:
        shutil.rmtree(path, ignore_errors=True)
    return len(removed)


def retained_mb(spark) -> float:
    """What the program keeps: JVM heap in use after a full GC, plus the
    Python driver's resident memory. Peak RSS is no end-to-end metric: the
    JVM grows its heap when its GC decides to, which moved one workload's
    peak between 2.4 and 4.1 GB across runs of the same code. In some runs
    one GC left 80-150 MB more than a second one did, so the lowest of three
    readings is taken."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.2)
        used.append(bean.getHeapMemoryUsage().getUsed())
    log(f"heap after full GC: {[round(u / 2**20) for u in used]} MB")
    return min(used) / 2**20 + proc.rss_mb()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    t_start = time.perf_counter()

    wl = WORKLOADS[args.workload]()
    run_dir = os.path.join(WORK, "run")
    prefix = f"layerbench_{CHECKOUT}_{args.workload}_s"
    inputs = os.path.join(WORK, "inputs", f"{prefix}{args.seed}")
    removed = declare_cold_state(run_dir, prefix)
    shutil.rmtree(inputs, ignore_errors=True)
    for sub in ("output", "warehouse", "local", "jtmp", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    wl.prepare(args.seed, inputs)

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')}").strip()
    sys.path.insert(0, ROOT)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    # -- set-up: the program's own import and session start --------------------
    tracer = tracing.Tracer()  # off until a traced pass turns it on
    c0, t0 = proc.cpu_seconds(), time.perf_counter()
    if traced:
        tracing.install(tracer)
    from data_pipeline_ine_spark.session import get_spark

    import __spark_entry__ as contract

    t_get = time.perf_counter()
    spark = get_spark(app_name="layerbench", extra_conf=conf)
    t1 = time.perf_counter()
    setup_s, setup_wall_s, get_spark_s = proc.cpu_seconds() - c0, t1 - t0, t1 - t_get
    log(f"{args.workload} seed={args.seed} cores={cores} removed={removed} "
        f"setup: {setup_s:.2f}s cpu, {setup_wall_s:.2f}s wall")
    spark.sparkContext.setLogLevel("ERROR")
    if traced:
        tracer.bind(spark.sparkContext)
    wl.bind(spark, contract, os.path.join(run_dir, "output"))
    jit = proc.JitMeter(spark.sparkContext._gateway.proc.pid)

    failed: set[str] = set()
    walls: dict[str, float] = {}
    cpus: dict[str, float] = {}
    jits: dict[str, float] = {}  # the part of cpus that JIT compiler threads used

    def timed_pass(label: str, enabled: bool) -> None:
        tracer.start_pass(label, enabled)
        (j0, m0), c0, s0 = jit.reading(), proc.cpu_seconds(), proc.steal_seconds()
        w0 = time.perf_counter()
        failed.update(wl.run_pass(tracer))
        walls[label] = time.perf_counter() - w0
        c1, (j1, m1) = proc.cpu_seconds(), jit.reading()
        jits[label], cpus[label] = j1 - j0, c1 - c0 - (m1 - m0)
        log(f"pass {label}: {walls[label]:.3f}s wall, {cpus[label]:.2f}s cpu "
            f"({jits[label]:.2f}s of it jit), "
            f"{proc.steal_seconds() - s0:.2f}s stolen by the hypervisor")

    timed_pass("cold", traced)
    tracer.start_pass("warm", False)
    w0 = time.perf_counter()
    warmups = wl.warmup_passes
    if wl.check_in_warmup:
        results = wl.check()
        warmups -= 1
    for _ in range(warmups):
        failed.update(wl.run_pass(tracer))
    log(f"{wl.warmup_passes} warm-up passes: {time.perf_counter() - w0:.3f}s")

    # Steady passes run for --seconds and at least MIN_STEADY of them. Traced
    # runs alternate untraced/traced passes in ABBA order, so a pass-to-pass
    # warm-up trend cancels out of trace.overhead_s.
    steady: list[str] = []
    t_steady = time.perf_counter()
    need = MIN_STEADY + (1 if traced else 0)
    while len(steady) < need or time.perf_counter() - t_steady < args.seconds:
        if len(steady) >= need and time.perf_counter() - t_start > DEADLINE_S:
            break
        label = f"s{len(steady) + 1}"
        timed_pass(label, traced and is_traced_pass(len(steady)))
        steady.append(label)
    untraced = [p for i, p in enumerate(steady) if not (traced and is_traced_pass(i))]
    if not wl.check_in_warmup:
        results = wl.check()
    peak_rss = proc.peak_rss_mb()
    retained = retained_mb(spark)
    memo = memo_entries()
    output = wl.output_size()

    jit.close()
    stop_session(spark)
    index_dirs = own_index_dirs(prefix)
    index_mb = sum(os.path.getsize(os.path.join(r, f))
                   for d in index_dirs for r, _, fs in os.walk(d) for f in fs) / 2**20
    for d in index_dirs:
        shutil.rmtree(d, ignore_errors=True)

    bad = {op: why for op, why in results.items() if why}
    for op, why in bad.items():
        log(f"check failed: {op}: {why}")
    failed |= set(bad)
    attempted = len(wl.ops)

    if traced:
        tracing.write_spans(tracer, os.path.join(run_dir, "spans.jsonl"))
        traced_passes = [p for p in steady if p not in untraced]
        pass_wall_s = stats.median([walls[p] for p in untraced])
        metrics = layer_metrics(
            tracer, glob.glob(os.path.join(run_dir, "eventlog", "*"))[0], traced_passes,
            get_spark_s=get_spark_s,
            overhead_s=stats.median([walls[p] for p in traced_passes]) - pass_wall_s,
            memo_entries=memo, output=output, index_mb=index_mb, peak_rss_mb=peak_rss)
        metrics.update({
            "process.setup_wall_s": setup_wall_s,
            "process.cold_pass_wall_s": walls["cold"],
            "process.pass_wall_s": pass_wall_s,
            "process.cold_jit_cpu_s": jits["cold"],
            "process.jit_cpu_s": stats.median([jits[p] for p in untraced]),
        })
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_cpu_s": cpus["cold"],
            "pass_cpu_s": stats.median([cpus[p] - jits[p] for p in untraced]),
            "retained_mb": retained,
            "ok_op_share": stats.ok_op_share(attempted, len(failed)),
        }
        units = {"setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
                 "retained_mb": "MB", "ok_op_share": "ratio"}
    log(f"{len(untraced)} of {len(steady)} steady passes measured; ops {attempted}, "
        f"failed {sorted(failed)}; {time.perf_counter() - t_start:.1f}s in all")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "contract.construct_s": "s",
    "contract.py4j_calls": "count",
    "contract.construct_jobs": "count",
    "operators.similarity.self_s": "s",
    "operators.similarity.py4j_calls": "count",
    "operators.text.self_s": "s",
    "operators.text.py4j_calls": "count",
    "operators.graph.self_s": "s",
    "operators.graph.jobs": "count",
    "operators.pixels.self_s": "s",
    "operators.other.self_s": "s",
    "functions.lineage.cuts": "count",
    "functions.lineage.self_s": "s",
    "sources.registry.self_s": "s",
    "sources.observation_csv.self_s": "s",
    "sources.observation_csv.jobs": "count",
    "sources.observation_csv.py4j_calls": "count",
    "plans.pipeline.self_s": "s",
    "plans.builder.self_s": "s",
    "plans.py4j_calls": "count",
    "sources.sinks.self_s": "s",
    "sources.sinks.jobs": "count",
    "sources.sinks.bytes_written_mb": "MB",
    "sources.sinks.files": "count",
    "sources.ivf_index.self_s": "s",
    "sources.ivf_index.jobs": "count",
    "sources.ivf_index.dirs_built": "count",
    "sources.ivf_index.dirs_reused": "count",
    "sources.ivf_index.bytes_written_mb": "MB",
    "cache.memo_entries": "count",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.offcpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "py4j.releases": "count",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
    "process.setup_wall_s": "s",
    "process.cold_pass_wall_s": "s",
    "process.pass_wall_s": "s",
    "process.cold_jit_cpu_s": "s",
    "process.jit_cpu_s": "s",
}


def layer_metrics(tracer, event_log: str, passes: list[str], *, get_spark_s: float,
                  overhead_s: float, memo_entries: int, output: tuple[float, int],
                  index_mb: float, peak_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics: medians over the traced steady passes, except the
    index build figures, which belong to the cold pass that builds."""
    spans = tracing.per_pass_layers(tracer)
    events = tracing.parse_event_log(event_log)

    def med(fn) -> float:
        return stats.median([fn(p) for p in passes])

    def rec(layer: str, key: str):
        return lambda p: spans[p][layer][key] if layer in spans[p] else 0

    def jobs_in(layer: str):
        return lambda p: events[p]["jobs_by_layer"][layer]

    def ev(key: str):
        return lambda p: events[p][key]

    def index_paths(p: str) -> set:
        return set().union(*(v for (q, _), v in tracer.index_paths.items() if q == p))

    out = {"session.get_spark_s": get_spark_s,
           "contract.construct_s": med(rec("contract.total", "self_s")),
           "contract.py4j_calls": med(rec("contract.total", "calls")),
           "contract.construct_jobs": med(lambda p: events[p]["jobs_by_phase"]["construct"])}
    for layer in ("operators.similarity", "operators.text", "operators.graph",
                  "operators.pixels", "operators.other", "functions.lineage",
                  "sources.registry", "sources.observation_csv", "plans.pipeline",
                  "plans.builder", "sources.sinks", "sources.ivf_index"):
        out[f"{layer}.self_s"] = med(rec(layer, "self_s"))
    for layer in ("operators.similarity", "operators.text", "sources.observation_csv"):
        out[f"{layer}.py4j_calls"] = med(rec(layer, "calls"))
    for layer in ("operators.graph", "sources.observation_csv", "sources.sinks",
                  "sources.ivf_index"):
        out[f"{layer}.jobs"] = med(jobs_in(layer))
    out["functions.lineage.cuts"] = med(lambda p: sum(
        1 for s in tracer.spans if s.pass_no == p and s.name == "cut"))
    out["plans.py4j_calls"] = med(lambda p: rec("plans.pipeline", "calls")(p)
                                  + rec("plans.builder", "calls")(p))
    out["sources.sinks.bytes_written_mb"], out["sources.sinks.files"] = output
    out["sources.ivf_index.dirs_built"] = len(index_paths("cold"))
    out["sources.ivf_index.dirs_reused"] = med(lambda p: len(index_paths(p)))
    out["sources.ivf_index.bytes_written_mb"] = index_mb
    out["cache.memo_entries"] = memo_entries
    out["spark.plan_s"] = med(rec("spark.plan", "total_s"))
    out["spark.action_s"] = med(rec("spark.execute", "total_s"))
    for key in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb"):
        out[f"spark.{key}"] = med(ev(key))
    out["spark.offcpu_s"] = med(lambda p: events[p]["task_run_s"] - events[p]["task_cpu_s"])
    out["py4j.releases"] = med(lambda p: tracer.releases[p])
    out["trace.overhead_s"] = overhead_s
    out["process.peak_rss_mb"] = peak_rss_mb
    return out


if __name__ == "__main__":
    sys.exit(main())
