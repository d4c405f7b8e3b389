"""Benchmark the production jobs end to end, as an operator launches them.

Run from the root of a checkout::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

One run: start a SparkSession on ``local[nproc]``, stage the workload's
inputs and make one untimed warm-up invocation (the set-up), then invoke
the job closed loop, at least three times and for ``--seconds``, and
check every output. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that enables Spark's event log, wraps the layers (``tracing.py``) on
every other invocation, and reports the per-layer metrics instead. All
files go under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REQUIRED = [
    "acoustic_feature_extractor_spark/session.py",
    "jobs/run_turn_features.py",
    "jobs/incremental_features.py",
    "jobs/stream_turn_features.py",
]
DRIVER_MEMORY = "1g"  # also the initial heap, so peak RSS does not follow heap resizing
SAMPLES = 3  # timed invocations at least; job_s is their median


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def metric_specs(section: str) -> dict[str, str]:
    with open("BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextlib.contextmanager
def root_span(tracer, job: str, ids: list[int]):
    with tracer.span(f"jobs.{job.removeprefix('perfbench_job_')}") as s:
        ids.append(s.id)
        yield


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: a slow run with a high share was slowed by
    the host, not by the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def cpu_times() -> list[int]:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def wait_for(cond, timeout: float = 10.0) -> None:
    end = time.monotonic() + timeout
    while not cond() and time.monotonic() < end:
        time.sleep(0.05)


def end_to_end(results, setup: dict) -> dict[str, float]:
    ok = [r for r in results if r is not None]
    return {
        "setup_s": sum(setup.values()),
        "job_s": median(r.wall_s for r in ok),
        "turns_per_s": median(r.turns / r.wall_s for r in ok),
        "batch_ms": median(b for r in ok for b in r.batch_ms),
        "write_amp": sum(r.rows_written for r in ok) / max(1, sum(r.turns for r in ok)),
    }


def per_layer(results, traced, spans, log, listener_progress, session_s, n_cores) -> dict[str, float]:
    from tracing import layer_metrics, progress_metrics, spark_metrics

    rows = []
    for r, roots, progress in zip(results, traced, listener_progress):
        if r is None or not roots:
            continue
        m = {**layer_metrics(spans, roots), **spark_metrics(log, r.t0, r.t1, r.wall_s, n_cores)}
        m.update(progress_metrics(progress))
        m["sources.scan_amp"] = m["sources.scan_bytes"] / max(1, r.input_bytes)
        m.update(r.layer)
        rows.append(m)
    out = {k: median(m.get(k, 0.0) for m in rows) for k in (rows[0] if rows else {})}
    on = [r.wall_s for r, roots in zip(results, traced) if r is not None and roots]
    off = [r.wall_s for r, roots in zip(results, traced) if r is not None and not roots]
    out["session.get_spark_s"] = session_s
    out["trace.job_s"] = median(on)
    out["trace.untraced_job_s"] = median(off)
    out["trace.overhead_s"] = median(on) - median(off) if off else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, os.getcwd()]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    specs = metric_specs("per_layer" if trace else "end_to_end")
    work = os.path.abspath(os.path.join(".perfbench", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)

    from acoustic_feature_extractor_spark.session import get_spark
    from tracing import Tracer, make_progress_listener, parse_event_log

    n_cores = cores()
    conf = spark_conf(work, trace)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", cores=n_cores, extra_conf=conf)
    t1 = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "data"))
    wl.stage()
    t2 = time.perf_counter()
    # A traced run warms up once more. Its overhead figure compares a traced
    # invocation with the untraced ones either side, which holds only where
    # the warm-up trend is close to a straight line: after one warm-up the
    # next invocation still runs 1.1-1.5x as long as the one after it.
    for _ in range(2 if trace else 1):
        wl.warm_up()
    t3 = time.perf_counter()
    setup = {"session_s": t1 - t0, "stage_s": t2 - t1, "warmup_s": t3 - t2}

    tracer = Tracer()
    progress: list[dict] = []
    listener = make_progress_listener(progress) if trace else None
    results, traced, listener_progress = [], [], []
    t_start = step = time.perf_counter()
    cpu_start = cpu_times()
    # closed loop: at least SAMPLES invocations, then more while the next
    # should end within --seconds. A traced run traces every other invocation
    # (untraced, traced, untraced), so the untraced median brackets the
    # traced one in time.
    while wl.has_next() and (
        len(results) < SAMPLES or 2 * time.perf_counter() - step - t_start <= args.seconds
    ):
        step = time.perf_counter()
        landed = wl.land()
        on = trace and len(results) % 2 == 1
        roots: list[int] = []
        if on:
            tracer.install()
            spark.streams.addListener(listener)
            wl.around = lambda name: root_span(tracer, name, roots)
        n_progress = len(progress)
        try:
            r = wl.run(landed)
        except Exception:
            traceback.print_exc()
            r = None
        finally:
            if on:
                tracer.uninstall()
                del wl.around
        if on:
            wait_for(lambda: r is None or len(progress) - n_progress >= len(r.progress))
            spark.streams.removeListener(listener)
        results.append(r)
        traced.append(roots)
        listener_progress.append(progress[n_progress:])

    t_timed = time.perf_counter()
    steal = steal_share(cpu_start, cpu_times())
    try:
        verdicts = wl.final_check()
    except Exception:
        traceback.print_exc()
        verdicts = [False]
    t_checked = time.perf_counter()
    if len(verdicts) == 1:
        verdicts = verdicts * len(results)
    failed = sum(1 for r, v in zip(results, verdicts) if r is None or not (r.ok and v))
    rss = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    shutdown(spark)

    if trace:
        with open(os.path.join(work, "eventlog", app_id)) as f:
            log = parse_event_log(f)
        tracer.dump(os.path.join(work, "spans.jsonl"))
        values = per_layer(results, traced, tracer.spans, log, listener_progress, setup["session_s"], n_cores)
    else:
        values = {**end_to_end(results, setup), "peak_rss_mb": rss}
    attempted = len(results)
    summary = {
        **wl.describe(),
        "cores": n_cores,
        "driver_memory": DRIVER_MEMORY,
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "checks_s": round(t_checked - t_timed, 3),
        "job_s_samples": [round(r.wall_s, 3) for r in results if r is not None],
        "host_steal_share": None if steal is None else round(steal, 4),
        "error_rate": failed / attempted,
    }
    with open(os.path.join(work, "workload.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for scratch in ("data", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    print("perfbench " + json.dumps(summary))
    for name, unit in specs.items():
        print(f"perfbench {args.workload} {name} = {values.get(name, 0.0):.6g} {unit}")
    metrics = {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in specs.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
