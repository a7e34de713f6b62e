#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One driver process submits one job at a
time (a closed loop with one client) to a local[nproc] Spark session built
by etf_topox_spark.session.get_spark. Set-up generates the workload's
inputs from the seed and persists them to parquet; then jobs run back to
back for --seconds, each output checked. The last stdout line is one JSON
object; the lines before it print every metric by name and unit.

--trace 0 reports the end-to-end metrics. --trace 1 first runs untraced
jobs for half the time, then the same work one public stage per Spark
action inside spans, reads Spark's counters from its event log, and
reports the per-layer metrics plus the tracing overhead. The spans and
counters are also written to perfbench/.out/trace-<workload>-<seed>.json.
See perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("topology-validate", "spatial-join", "tile-checkpoint", "spatial-tile")
SETUP_REPS = 3  # input generation runs this often in set-up; median reported


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> dict:
    """Pin every scratch path inside the checkout and size the driver for
    the host; returns the settings the report states."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cores = len(os.sched_getaffinity(0))
    # Spark's own default heap: session.py's 16g default exceeds small
    # hosts, and a heap that may grow far moves the JVM's resident size with
    # GC timing, so peak_rss_mb would follow host load
    mem = os.environ.get("SPARK_DRIVER_MEM") or "1g"
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_DRIVER_MEM=mem, SPARK_GRAFT_CPUS=str(cores)
    )
    os.environ.pop("SPARK_GRAFT_FORMAT", None)  # inputs are parquet
    # C1 only: with the default tiered JIT, C2 still compiles 15 jobs in
    # (CPU per topology job falls from 23 to 12 s), so a timed job would sit
    # at a point of the warm-up curve set by the host's load; with C1 the
    # job time is flat from the second pass on
    submit = [
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        '-XX:TieredStopAtLevel=1"',
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return {"cores": cores, "driver_mem": mem, "shuffle_partitions": max(8, cores)}


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def timed_jobs(wl, seconds, rss, traced, tracer, log, min_jobs) -> dict:
    """Closed loop: submit the next job once the previous one finished.
    After min_jobs, a job starts only if the median so far says it ends
    within `seconds`."""
    times, peaks, problems, stats = [], [], [], []
    failed = 0
    deadline = time.perf_counter() + seconds
    while len(times) < min_jobs or (
        time.perf_counter() + statistics.median(times) < deadline
    ):
        out, bad = None, []
        with rss.window(peaks):
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.job"):
                    if traced:
                        with tracer.span("sources.load"):
                            wl.scan_inputs()
                    out = wl.run(traced)
            except Exception:
                bad = [traceback.format_exc(limit=3)]
            dt = time.perf_counter() - t0
        if out is not None:
            try:
                bad = wl.check(out)
            except Exception:
                bad = [traceback.format_exc(limit=3)]
            finally:
                wl.cleanup(out)
            if "stats" in out:
                stats.append({**out["stats"], "resume_s": out["resume_s"]})
        times.append(dt)
        if bad:
            failed += 1
            problems += bad
            log(f"job {len(times)} failed its check: {bad}")
    return {
        "times": times,
        "peaks": peaks,
        "attempted": len(times),
        "failed": failed,
        "problems": problems,
        "stats": stats,
    }


def main(argv) -> int:
    args = parse_args(argv)
    log = lambda msg: print(f"[perfbench] {msg}", file=sys.stderr, flush=True)  # noqa: E731
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = prepare_env(work, bool(args.trace))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        try:
            from etf_topox_spark.session import get_spark
        except ImportError as e:
            log(f"cannot import the package from {ROOT}: {e}")
            return 2
        return measure(args, conf, work, log, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def measure(args, conf, work, log, get_spark) -> int:
    from pyspark import cloudpickle

    import micro
    import tracing
    import workloads
    from tracing import RssSampler, Tracer

    # generator closures reference these modules; workers cannot import them
    cloudpickle.register_pickle_by_value(workloads)
    cloudpickle.register_pickle_by_value(tracing)

    t_start = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=conf["cores"],
        shuffle_partitions=conf["shuffle_partitions"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # the JVM's first job pays class loading and Python-worker start-up
        spark.range(64).repartition(conf["cores"]).count()
        t_session = time.perf_counter() - t_start
        sc = spark.sparkContext
        tracer = Tracer(args.workload, enabled=False)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, tracer, work)

        sc.setJobGroup("setup", "input generation and warm-up")
        gen_times = []
        for rep in range(SETUP_REPS):
            inputs = os.path.join(work, f"inputs-{rep}")
            t0 = time.perf_counter()
            wl.generate(inputs)
            gen_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(inputs)
        t0 = time.perf_counter()
        wl.load(inputs)
        first = wl.run(False)  # the cold first pass
        warm_problems = wl.check(first)
        wl.cleanup(first)
        t_first = time.perf_counter() - t0
        setup_s = t_session + statistics.median(gen_times) + t_first
        log(
            f"setup: session {t_session:.2f}s, generate {gen_times}, "
            f"load + warm-up job {t_first:.2f}s"
        )
        if warm_problems:
            log(f"warm-up job failed its check: {warm_problems}")

        plain = None  # the untraced half of a traced run
        with RssSampler() as rss:
            if not args.trace:
                sc.setJobGroup("timed", "timed jobs")
                res = timed_jobs(wl, args.seconds, rss, False, tracer, log, wl.MIN_JOBS)
            else:
                sc.setJobGroup("untraced", "untraced jobs")
                plain = timed_jobs(wl, args.seconds / 2, rss, False, tracer, log, 1)
                tracer.enabled = True
                sc.setJobGroup("traced", "traced jobs")
                res = timed_jobs(wl, args.seconds / 2, rss, True, tracer, log, 1)
        sizes = wl.sizes()
        if plain is None:
            metrics = end_to_end(wl, res, setup_s)
        else:
            status = status_counters(sc, "traced")
            rates = micro.kernel_rates(args.seed)
            input_bytes = wl.input_bytes()
        t0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        log(f"stop {time.perf_counter() - t0:.2f}s")
    finally:
        if spark is not None:
            stop_spark(spark)

    if plain is not None:
        # the event log is complete only once the context has stopped
        counters = tracing.event_log_counters(os.path.join(work, "eventlog"), "traced")
        counters.update(status)
        metrics = per_layer(tracer, res, plain, gen_times, input_bytes, rates, counters)
        trace_path = os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path, {"seed": args.seed, "counters": counters, "metrics": metrics})
        log(f"spans and counters written to {trace_path}")
        for key in ("attempted", "failed", "problems"):
            res[key] += plain[key]
    problems = warm_problems + res["problems"]
    report(args, conf, sizes, res, metrics, problems)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


def end_to_end(wl, res: dict, setup_s: float) -> dict:
    return {
        "rows_per_s": (wl.rows / statistics.median(res["times"]), "rows/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (statistics.median(res["peaks"]), "MB"),
    }


def status_counters(sc, group: str) -> dict:
    """Stages and tasks of the group's jobs, from Spark's status tracker."""
    st = sc.statusTracker()
    stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            info = st.getStageInfo(sid)
            if info and info.numCompletedTasks:
                stages += 1
                tasks += info.numCompletedTasks
    return {"stages": float(stages), "tasks": float(tasks)}


# each reported as "<span>_s": its summed time per traced job
SPANS = (
    "sources.load",
    "topology.rings_to_edges",
    "topology.edge_stats",
    "topology.boundary",
    "topology.intersection",
    "topology.free_standing",
    "topology.interior",
    "spatial.pip",
    "spatial.knn",
    "images.tile",
    "images.invariants",
    "lineage.write",
    "lineage.resume_filter",
)
COUNT_METRICS = (
    "topology.edges", "topology.errors", "spatial.pip_rows", "spatial.knn_rows",
)
LAYERS = ("bench", "sources", "topology", "spatial", "images", "lineage")


def per_layer(tracer, res, plain, gen_times, input_bytes, rates, counters) -> dict:
    """Per traced job: span time per public stage, counts, self time per
    layer, Spark counters; plus the kernel rates and the tracing overhead."""
    from tracing import SPARK_COUNTERS

    n = len(res["times"])
    m = {"sources.gen_s": (statistics.median(gen_times), "s"),
         "sources.input_bytes": (float(input_bytes), "bytes")}
    for span in SPANS:
        m[f"{span}_s"] = (tracer.total_s(span) / n, "s")
    for name in COUNT_METRICS:
        m[name] = (tracer.counts.get(name, 0.0) / n, "count")
    st = res["stats"]
    med = lambda k: statistics.median(s[k] for s in st) if st else 0.0  # noqa: E731
    m.update({
        "images.tiles": (med("tiles"), "count"),
        "images.violations": (med("violations"), "count"),
        "lineage.bytes_written": (med("bytes_written"), "bytes"),
        "lineage.manifest_rows": (med("manifest_rows"), "count"),
        "lineage.rows_skipped": (med("rows_skipped"), "count"),
        "lineage.resume_s_p50": (med("resume_s"), "s"),
        "lineage.write_amp": (med("write_amp"), "bytes/byte"),
        "lineage.recompute_ratio": (med("recompute_ratio"), "ratio"),
    })
    for name, rate in rates.items():
        m[name] = (rate, "px/s" if name.endswith("px_per_s") else "rows/s")
    for name in SPARK_COUNTERS:
        unit = "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"
        m[f"spark.{name}"] = (counters[name] / n, unit)
    self_s = tracer.self_s_by_layer()
    for layer in LAYERS:
        m[f"trace.self_{layer}_s"] = (self_s.get(layer, 0.0) / n, "s")
    overhead = statistics.median(res["times"]) - statistics.median(plain["times"])
    m["trace.overhead_s"] = (overhead, "s")
    m["trace.traced_jobs"] = (float(n), "count")
    return m


def report(args, conf, sizes, res, metrics, problems) -> None:
    """Human-readable lines ahead of the JSON result."""
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
        f"master=local[{conf['cores']},2] shuffle_partitions={conf['shuffle_partitions']} "
        f"driver_mem={conf['driver_mem']} clients=1 (closed loop)",
        f"input sizes: {json.dumps(sizes)}",
        f"jobs: attempted={res['attempted']} failed={res['failed']} "
        f"failed_ops_ratio={res['failed'] / max(1, res['attempted']):.4f} ratio "
        f"samples={len(res['times'])}",
    ]
    if res["times"]:
        lines.append(
            "job_s: p50={:.4f} all={}".format(
                statistics.median(res["times"]), [round(t, 3) for t in res["times"]]
            )
        )
    st = res["stats"]
    if st and not args.trace:
        for key, unit in (("resume_s", "s"), ("write_amp", "bytes/byte"),
                          ("recompute_ratio", "ratio")):
            name = "resume_s_p50" if key == "resume_s" else key
            lines.append(f"{name} = {statistics.median(s[key] for s in st):.6g} {unit}")
    for name, (value, unit) in metrics.items():
        lines.append(f"{name} = {value:.6g} {unit}")
    lines.append(f"output check: {'FAIL' if problems else 'PASS'}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
