"""Benchmark of the music pipeline's user-facing paths.

    python3 perfbench/run.py --workload batch_recompute --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Workloads (see workloads.py):

- ``batch_recompute``: full-history recompute passes, throughput-bound,
  then serving lookups against the kv table the batch plan wrote.
- ``incremental_arrivals``: open-loop stream-file arrivals, one drain
  per arrival, latency-bound on per-drain cost, then serving lookups
  against the kv table the streaming recompute maintains.

Both report the same end-to-end metrics: ``setup_s`` (median of seven
session starts plus opening the inputs), ``pipeline_p50_ms`` (a batch
pass's wall time, or a file's time from its due time to the commit of
the drain that processed it), ``events_per_s`` (events per second of
pass or drain wall time), ``driver_heap_mb`` (driver JVM heap in use
after a full collection) and ``ops_ok_ratio``. The pipeline phase takes
all of ``--seconds``; the serving phase after it is a fixed number of
checked lookups. With ``--trace 1`` the run is traced throughout and
reports the per-layer metrics, lookup latency among them; the spans and
the per-layer numbers are also written to ``.bench_work/traces/``,
with the tracing overhead against the untraced run of the same seed
when that run's result is in ``.bench_work/results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The command
exits 1 when any output disagrees with the DuckDB oracle and 2 when the
package cannot be imported.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "music_streaming_data_pipeline_v2_spark"
SETUP_REPS = 7
# the pipeline phase makes at least this many passes or files
MIN_PIPELINE_OPS = 4
# serving phase: (untimed warm-up lookups, timed lookups); an untraced
# run only checks rows, a traced one also times lookups, and 40 give
# p75 ten lookups beyond it
LOOKUPS = {False: (0, 12), True: (20, 40)}
RESULTS = os.path.join(ROOT, ".bench_work", "results")
# run_incremental_pipeline's sink calls and write_music_outputs' three
# write_partitioned calls (plans.music binds the name at import)
SINKS = (
    ("io.sinks", "write_partitioned", "io.write_partitioned"),
    ("io.sinks", "write_partitioned_audited", "io.write_partitioned_audited"),
    ("plans.music", "write_partitioned", "io.write_partitioned"),
)

END_TO_END = {
    "setup_s": "s",
    "pipeline_p50_ms": "ms",
    "events_per_s": "1/s",
    "driver_heap_mb": "MB",
    "ops_ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "streaming.drain_s": "s",
    "streaming.query_overhead_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.checkpoint_ms": "ms",
    "streaming.jobs_per_drain": "count",
    "streaming.records_read_per_new_row": "ratio",
    "streaming.source_scans_per_row": "ratio",
    "streaming.queue_wait_s": "s",
    "streaming.backlog_files_max": "count",
    "streaming.generator_lateness_ms": "ms",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "plans.jobs": "count",
    "plans.driver_self_s": "s",
    "plans.sink_s.genre_kpis": "s",
    "plans.sink_s.top_songs": "s",
    "plans.sink_s.top_genres": "s",
    "plans.sink_s.kv": "s",
    "io.write_calls": "count",
    "io.write_s": "s",
    "io.files_written": "count",
    "io.bytes_written_per_event": "bytes",
    "io.input_bytes": "bytes",
    "serve.lookup_p50_ms": "ms",
    "serve.lookup_p75_ms": "ms",
    "serve.jobs_per_lookup": "count",
    "serve.planning_ms": "ms",
    "serve.records_scanned_per_row_returned": "ratio",
    "serve.input_bytes_per_lookup": "bytes",
    "validation.rows_quarantined": "count",
    "trace.pipeline_p50_ms": "ms",
}


class Bench:
    """Owns the work directory and the Spark session of one run."""

    def __init__(self, workload: str, seed: int, cores: int | None) -> None:
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp)
        os.makedirs(self.events)
        # keep every scratch file Spark, the JVM and Python make inside
        # the work directory
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = "2g"
        # every JVM the launch starts: temp files in the work directory,
        # and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        self.cpus = cores or len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self, traced: bool = False):
        from music_streaming_data_pipeline_v2_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.events,
                    # Spark 4 defaults to zstd and rolling files; the
                    # parser reads one plain JSON-lines file
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cpus}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in (os.getpid(), self.jvm_pid):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def retained(self) -> dict:
        """Driver memory still held after the work: JVM heap in use
        after a full collection, and the Python process's resident set
        (most of which is the generator's arrays and the DuckDB oracle).
        Unlike the peak, the heap reading does not depend on when the
        collector ran."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        # Spark's cleaner frees unpersisted blocks and broadcasts
        # asynchronously, after a collection finds them unreachable, so
        # collect a few times with pauses and keep the least reading
        for _ in range(3):
            jvm.java.lang.System.gc()
            used.append(heap.getHeapMemoryUsage().getUsed())
            time.sleep(0.2)
        return {"jvm_heap_mb": min(used) / 2**20, "python_rss_mb": python_rss_mb()}

    def shutdown(self) -> None:
        """Stop Spark and the JVM and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def python_rss_mb() -> float:
    with open(f"/proc/{os.getpid()}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")) / 1024.0


def stamp(spark_threads: int) -> dict:
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_threads": spark_threads,
        "loadavg_start": load,
        "git_head": head,
    }


def end_to_end(pipe, setup_s: float, heap_mb: float) -> dict:
    """Every end-to-end metric but ``ops_ok_ratio``, which needs the
    oracle's verdict."""
    lat = [o.latency_s for o in pipe]
    # one drain can commit several files: rate per pass or drain
    work: dict[tuple[float, float], int] = {}
    for o in pipe:
        work[o.start, o.end] = work.get((o.start, o.end), 0) + o.work
    return {
        "setup_s": setup_s,
        "pipeline_p50_ms": statistics.median(lat) * 1000,
        "events_per_s": statistics.median(n / (b - a) for (a, b), n in work.items()),
        "driver_heap_mb": heap_mb,
    }


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, pipe, looks, tracer, listener, bench, session_times) -> dict:
    """Per-layer numbers of a traced run; see PER_LAYER for units.
    Pipeline-side numbers are per pipeline operation (a batch pass or a
    drain), serving numbers per lookup; a layer the workload does not
    exercise reads 0."""
    import tracing as tr

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = statistics.median(session_times)
    m["session.peak_rss_mb"] = bench.peak_rss_mb()
    costs = tr.cost_by_group(*tr.read_event_log(bench.events))
    roots = {s.op: s for s in tracer.spans if s.parent is None and s.op}
    empty = tr.OpCost([], [])

    # a drain's jobs carry its streaming query's runId as job group;
    # the k-th query started belongs to the k-th traced drain
    drains = list(dict.fromkeys(o.extra["drain"] for o in pipe if "drain" in o.extra))
    group_of = dict(zip(drains, listener.started))
    op_ids = drains or [o.oid for o in pipe]
    per_op = [costs.get(group_of.get(o, o), empty) for o in op_ids]

    m["operators.stages"] = med(c.n_stages for c in per_op)
    m["operators.tasks"] = med(c.n_tasks for c in per_op)
    m["operators.executor_cpu_s"] = med(c.total("cpu_ns") / 1e9 for c in per_op)
    m["operators.gc_s"] = med(c.total("gc_ms") / 1e3 for c in per_op)
    m["operators.shuffle_write_bytes"] = med(c.total("shuffle_write") for c in per_op)
    m["operators.shuffle_read_bytes"] = med(c.total("shuffle_read") for c in per_op)
    m["operators.spill_bytes"] = med(c.total("spill") for c in per_op)
    m["operators.task_skew"] = med(c.task_skew() for c in per_op)
    # outermost sink calls only: write_partitioned_audited calls
    # write_partitioned, which must not count twice
    io_ids = {s.sid for s in tracer.spans if s.name.startswith("io.")}
    writes = [
        [s for s in tracer.spans
         if s.op == o and s.sid in io_ids and s.parent not in io_ids]
        for o in op_ids
    ]
    m["io.write_calls"] = med(len(w) for w in writes)
    m["io.write_s"] = med(sum(s.end - s.start for s in w) for w in writes)
    m["io.files_written"] = med(c.files_written for c in per_op)
    m["io.input_bytes"] = med(c.total("input_bytes") for c in per_op)
    events = {
        o: sum(p.work for p in pipe if p.extra.get("drain", p.oid) == o)
        for o in op_ids
    }
    m["io.bytes_written_per_event"] = med(
        c.total("output_bytes") / events[o] for o, c in zip(op_ids, per_op)
    )

    if wl.name == "batch_recompute":
        m["plans.jobs"] = med(len(c.jobs) for c in per_op)
        m["plans.driver_self_s"] = med(
            c.self_time(roots[o].start, roots[o].end) for o, c in zip(op_ids, per_op)
        )
        sinks = {k: [] for k in ("genre_kpis", "top_songs", "top_genres", "kv")}
        for o, w in zip(op_ids, writes):
            for name, s in zip(("genre_kpis", "top_songs", "top_genres"), w):
                sinks[name].append(s.end - s.start)
            # write_music_outputs writes kv itself, right after its three
            # write_partitioned calls return
            sinks["kv"].append(roots[o].end - w[-1].end)
        for name, xs in sinks.items():
            m[f"plans.sink_s.{name}"] = med(xs)
    else:
        progress = [listener.progress.get(group_of.get(d), []) for d in drains]

        def dur(ps, *keys):
            return sum(p["durationMs"].get(k, 0) for p in ps for k in keys)

        wall = [roots[d].end - roots[d].start for d in drains]
        m["streaming.drain_s"] = med(wall)
        m["streaming.query_overhead_s"] = med(
            w - dur(ps, "triggerExecution") / 1000 for w, ps in zip(wall, progress)
        )
        m["streaming.latest_offset_ms"] = med(dur(ps, "latestOffset") for ps in progress)
        m["streaming.query_planning_ms"] = med(dur(ps, "queryPlanning") for ps in progress)
        m["streaming.add_batch_ms"] = med(dur(ps, "addBatch") for ps in progress)
        m["streaming.checkpoint_ms"] = med(
            dur(ps, "walCommit", "commitOffsets") for ps in progress
        )
        m["streaming.jobs_per_drain"] = med(len(c.jobs) for c in per_op)
        m["streaming.records_read_per_new_row"] = med(
            c.total("input_records") / events[d] for d, c in zip(drains, per_op)
        )
        m["streaming.source_scans_per_row"] = med(
            sum(p["numInputRows"] for p in ps) / events[d]
            for d, ps in zip(drains, progress)
        )
        m["streaming.queue_wait_s"] = med(o.extra["queue_wait_s"] for o in pipe)
        m["streaming.backlog_files_max"] = max(o.extra["backlog"] for o in pipe)
        m["streaming.generator_lateness_ms"] = (
            max(o.extra["lateness_s"] for o in pipe) * 1000
        )
        m["validation.rows_quarantined"] = wl.quarantined()

    lookup_ms = [o.latency_s * 1000 for o in looks]
    m["serve.lookup_p50_ms"] = statistics.median(lookup_ms)
    m["serve.lookup_p75_ms"] = statistics.quantiles(lookup_ms, n=4, method="inclusive")[2]
    lk = [costs.get(o.oid, empty) for o in looks]
    m["serve.jobs_per_lookup"] = med(len(c.jobs) for c in lk)
    m["serve.planning_ms"] = med(
        (min((j.submit for j in c.jobs), default=roots[o.oid].end) - roots[o.oid].start)
        * 1000
        for o, c in zip(looks, lk)
    )
    m["serve.records_scanned_per_row_returned"] = sum(
        c.total("input_records") for c in lk
    ) / max(1, sum(o.work for o in looks))
    m["serve.input_bytes_per_lookup"] = med(c.total("input_bytes") for c in lk)
    return m


def measure(wl, spark, seconds: float, tracer):
    """The timed pipeline phase, its untimed oracle check, then the
    serving phase."""
    pipe = wl.pipeline(spark, seconds, MIN_PIPELINE_OPS, tracer)
    problems = wl.check(pipe)
    # let Spark's cleaner release the pipeline's shuffles and broadcasts
    # now, not in the middle of the serving phase
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(0.5)
    wl.lookups.open(spark, wl.kv_dir)
    wl.lookups.expect(wl.oracle, wl.n_days)
    looks = wl.lookups.run(spark, *LOOKUPS[tracer is not None], tracer)
    problems += [f"lookup {o.oid} returned wrong rows" for o in looks if not o.ok]
    return pipe, looks, problems


def tracing_overhead(workload: str, seed: int, traced_p50_ms: float) -> dict | None:
    """Traced over untraced pipeline p50, minus one, against the result
    an untraced run of the same workload and seed left behind."""
    path = os.path.join(RESULTS, f"{workload}-{seed}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)["pipeline_p50_ms"]
    return {"untraced_pipeline_p50_ms": plain, "pipeline_ratio": traced_p50_ms / plain - 1}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local[N] threads (default: every usable core)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import music_streaming_data_pipeline_v2_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench: {name} done at {time.perf_counter() - t_run:.1f} s",
              file=sys.stderr, flush=True)

    import gen

    bench = Bench(args.workload, args.seed, args.cores)
    info = stamp(bench.cpus)
    wl = WORKLOADS[args.workload](bench.work, args.seed)
    info["generator"] = {
        **gen.PARAMS,
        "batch_events": WORKLOADS["batch_recompute"].N_EVENTS,
        "arrival_period_s": WORKLOADS["incremental_arrivals"].PERIOD_S,
    }
    try:
        # input generation overlaps the JVM's launch
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(wl.prepare)
            t0 = time.perf_counter()
            spark = bench.start()
            session_times = [time.perf_counter() - t0]
            prepared.result()
        info["python_rss_after_prepare_mb"] = python_rss_mb()
        phase("prepare and JVM start")
        # set-up before the warm-up: the first operations of a new
        # session run slower, so the timed ones must not follow a restart
        setup_times = []
        for rep in range(SETUP_REPS):
            bench.stop()
            t0 = time.perf_counter()
            # a traced run records the event log of the session it measures
            spark = bench.start(traced=bool(args.trace) and rep == SETUP_REPS - 1)
            session_times.append(time.perf_counter() - t0)
            wl.open(spark)
            setup_times.append(time.perf_counter() - t0)
        phase("set-up")
        wl.warmup(spark)
        phase("warm-up")

        tracer = listener = None
        restore = []
        if args.trace:
            import tracing as tr

            tracer, listener = tr.Tracer(), tr.make_listener()
            spark.streams.addListener(listener)
            restore = [
                tracer.wrap(importlib.import_module(f"{PKG}.{mod}"), attr, name)
                for mod, attr, name in SINKS
            ]
        try:
            pipe, looks, problems = measure(wl, spark, args.seconds, tracer)
        finally:
            for undo in restore:
                undo()
        if not args.trace:
            retained = bench.retained()
            info.update(retained)
            info["setup_s_each"] = setup_times
            metrics = end_to_end(
                pipe, statistics.median(setup_times), retained["jvm_heap_mb"]
            )
            units = END_TO_END
        else:
            n_drains = len({o.extra["drain"] for o in pipe if "drain" in o.extra})
            listener.wait_terminated(n_drains)
            bench.stop()  # closes the event log
            metrics = per_layer(wl, pipe, looks, tracer, listener, bench, session_times)
            metrics["trace.pipeline_p50_ms"] = (
                statistics.median(o.latency_s for o in pipe) * 1000
            )
            overhead = tracing_overhead(
                args.workload, args.seed, metrics["trace.pipeline_p50_ms"]
            )
            info["tracing_overhead"] = overhead
            tracer.dump(
                os.path.join(ROOT, ".bench_work", "traces",
                             f"{args.workload}-{args.seed}.json"),
                {**metrics, "tracing_overhead": overhead},
            )
            units = PER_LAYER
        phase("measure and check")
        for problem in problems:
            print(f"perfbench: {problem}", file=sys.stderr)
        ops = pipe + looks
        failed = sum(not o.ok for o in ops)
        if not args.trace:
            metrics["ops_ok_ratio"] = 1 - failed / len(ops)
        info.update(
            pipeline_ms=[round(o.latency_s * 1000) for o in pipe],
            lookups=len(looks),
            peak_rss_mb=bench.peak_rss_mb(),
        )
    finally:
        bench.shutdown()
        bench.cleanup()

    if not args.trace and failed == 0:
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(metrics, f)
    print(json.dumps({"stamp": info}))
    for k, unit in units.items():
        print(f"{k} = {metrics[k]:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
