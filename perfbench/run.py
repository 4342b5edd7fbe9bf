"""Benchmark entry point.

    python3 perfbench/run.py --workload flight_queue --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[<cpus>]``, one closed-loop client. The workload's inputs are
generated from ``--seed``; set-up (session start, input generation,
warm-up ops) is timed as ``setup_s``; then a fixed number of ops set
by ``--seconds`` is measured. Every op's output, warm-up included, is
checked after the last op, outside every timed span and after the
memory peak is taken; a failed or wrong op counts in ``failed``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``setup_s``, ``op_p50_s``,
``throughput_per_s``, ``peak_rss_mb``); with ``--trace 1`` the run also
records spans around the program's public functions and Spark's event
log, and the metrics are the per-layer ones; a traced ``flight_queue``
run also times one ``analyze_fleet`` op. The traced run writes its
spans and counters to ``.perfbench_traces/`` in the checkout.

Each run works in its own directory under ``.perfbench_runs/`` (Spark
local dirs, temp dirs, warehouse, derby log, every table it writes),
removed when the run ends, so no run reads what another left behind.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("flight_queue", "analyst_mix")
# deployment settings, the same for every commit measured: local[nproc]
# (the program's default of 32 oversubscribes small boxes) and a Spark
# driver heap that fits next to other tenants (the default 16g does
# not); the heap starts at its full size so that peak memory does not
# depend on when the JVM decides to grow it
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"

SPAN_METRICS = {   # per-layer metric -> span label (self time per op)
    "main.main.self_s": "main.main",
    "main.cmd_analyze.self_s": "main.cmd_analyze",
    "sources.read_csv_s": "sources.read_csv",
    "sinks.read_table_s": "sinks.read_table",
    "approach.pending_flights_s": "approach.pending_flights",
    "approach.with_nearest_airport_s": "approach.with_nearest_airport",
    "approach.analyze_s": "approach.analyze",
    "sinks.commit_analysis.self_s": "sinks.commit_analysis",
    "sinks.batch_fingerprint_s": "sinks.batch_fingerprint",
    "sinks.upsert_s": "sinks.upsert",
    "sinks.mark_analyzed_s": "sinks.mark_analyzed",
    "query.build_s": "query.build",
    "query.execute_s": "query.execute",
}
SPARK_METRICS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                 "shuffle_write_mb", "spill_mb", "task_skew", "jobs_per_op",
                 "stages_per_op", "tasks_per_op", "driver_only_s")
SPARK_UNITS = {k: "s" if k.endswith("_s") else "MB" if k.endswith("_mb")
               else "ratio" if k == "task_skew" else "count" for k in SPARK_METRICS}
FLEET_SPANS = {    # fleet-op metric -> span label (whole-call time)
    "approach.analyze_fleet_s": "approach.analyze_fleet",
    "fleet.execute_s": "fleet.execute",
    "fleet.upsert_s": "sinks.upsert",
}
FLEET_SPARK = ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
               "spill_mb", "task_skew", "stages_per_op")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="spark-graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants (the Spark
    JVM and its Python workers), sampled every 0.2 s. Each process
    counts its proportional set size, so pages that forked Python
    workers share are counted once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._done.wait(0.2):
            self.sample()

    def stop(self) -> float:
        if not self._done.is_set():
            self._done.set()
            self.join()
            self.sample()
        return self.peak_kb / 1024.0


def isolate(args) -> tuple[str, str | None]:
    """Fresh per-run directory, environment and cwd; returns it and,
    for a traced run, the event-log directory."""
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    work = os.path.join(run_dir, "work")
    for d in (tmp, local, work):
        os.makedirs(d)
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Xms{DRIVER_MEM}"]
    events = None
    if args.trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_TMP": tmp,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_SUBMIT_ARGS": " ".join(map(shlex.quote, submit)) + " pyspark-shell",
    })
    os.chdir(work)
    return run_dir, events


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def reap() -> None:
    """Wait for every process this run started (Spark's Python
    workers outlive the JVM by a moment), killing stragglers."""
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def steal_s() -> float:
    """CPU time the host took from this machine's CPUs so far (the
    ``steal`` column of /proc/stat); a busy host shows here, and
    every time metric of the run moves with it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ngafid_cpat_spark", "session.py")):
        print(f"no program to measure: {ROOT}/ngafid_cpat_spark is missing",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir, events = isolate(args)
    steal0 = steal_s()
    mem = MemorySampler()
    mem.start()
    spark = tracer = fleet = None
    try:
        t0 = time.perf_counter()
        from ngafid_cpat_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        print(f"session start: {session_s:.3f} s", file=sys.stderr)
        work = os.path.join(run_dir, "work")
        if args.workload == "flight_queue":
            from flights import FlightQueue

            wl = FlightQueue(args.seed, work)
        else:
            from analyst import AnalystMix

            wl = AnalystMix(args.seed, work, ROOT)
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            for module, attr, label in wl.trace_targets():
                tracer.wrap(module, attr, label)
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t0
        ops = wl.measure(args.seconds)
        # the peak covers set-up and ops; the checks below are the
        # benchmark's own work and run unsampled
        peak_mb = mem.stop()
        t1 = time.perf_counter()
        wl.check(ops)
        print(f"checks: {time.perf_counter() - t1:.3f} s", file=sys.stderr)
        if tracer is not None and args.workload == "flight_queue":
            fleet = wl.fleet(len(ops))
        layers = wl.layer_metrics(ops)
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        reap()
        mem.stop()
        os.chdir(ROOT)

    checked = wl.warmup + ops + ([fleet] if fleet else [])
    failed = sum(not o.ok for o in checked)
    good = [o.latency for o in ops if o.ok]
    busy = sum(o.latency for o in ops)
    # all-failed runs still report a number; ``correct`` is false then
    op_p50 = statistics.median(good or [o.latency for o in ops])
    if args.trace:
        metrics = trace_metrics(args, tracer, events, ops, fleet, layers,
                                session_s, op_p50)
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "op_p50_s": metric(op_p50, "s"),
            "throughput_per_s": metric(
                sum(o.units for o in ops if o.ok) / busy, "1/s"),
            "peak_rss_mb": metric(peak_mb, "MB"),
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"{args.workload} seed={args.seed}: {len(ops)} ops measured, "
          f"{len(wl.warmup)} warm-up ops, {failed} failed, {wl.unit}; "
          f"CPU steal {steal_s() - steal0:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def trace_metrics(args, tracer, events, ops, fleet, layers, session_s, op_p50) -> dict:
    import eventlog

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    per_span = tracer.per_op_self()
    cluster = eventlog.per_op(events, tracer)
    op_ids = range(len(ops))
    out = {"session.start_s": metric(session_s, "s")}
    for name, label in SPAN_METRICS.items():
        out[name] = metric(med([per_span.get(i, {}).get(label, 0.0) for i in op_ids]), "s")
    for k in SPARK_METRICS:
        out[f"spark.{k}"] = metric(
            med([cluster.get(i, {}).get(k, 0.0) for i in op_ids]), SPARK_UNITS[k])
    for k in ("sinks.buckets_touched", "sinks.write_amplification"):
        out[k] = metric(layers.get(k, 0.0), "count" if k.endswith("touched") else "ratio")
    from analyst import FAMILIES

    for fam in FAMILIES:
        out[f"{fam}.p50_s"] = metric(layers.get(f"{fam}.p50_s", 0.0), "s")
    out["trace.op_p50_s"] = metric(op_p50, "s")
    # the fleet op (flight_queue only): whole-call times, as its spans
    # nest the analyze() calls that analyze_fleet makes
    fid = len(ops)
    for name, label in FLEET_SPANS.items():
        out[name] = metric(tracer.op_span_s(fid, label), "s")
    out["fleet.op_s"] = metric(fleet.latency if fleet else 0.0, "s")
    for k in FLEET_SPARK:
        out[f"fleet.{k}"] = metric(cluster.get(fid, {}).get(k, 0.0), SPARK_UNITS[k])
    for k in ("buckets_touched", "write_amplification"):
        out[f"fleet.{k}"] = metric(fleet.extra.get(k, 0.0) if fleet else 0.0,
                                   "count" if k == "buckets_touched" else "ratio")
    os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
    tracer.dump(
        os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-s{args.seed}.jsonl"),
        {"ops": [{"op": i, "name": o.name, "latency_s": o.latency, "ok": o.ok,
                  **o.extra, "spark": cluster.get(i, {})}
                 for i, o in enumerate([*ops, *([fleet] if fleet else [])])],
         "metrics": {k: v["value"] for k, v in out.items()}},
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
