"""The two workloads and the serving client they share.

Each workload drives the package's public entry points from outside on
inputs generated from the run's seed, in two timed phases:

1. a pipeline phase: ``batch_recompute`` reruns the full-history batch
   job; ``incremental_arrivals`` lands stream files on an open-loop
   schedule and drains each arrival through the streaming pipeline;
2. a serving phase: one closed-loop client looks keys up in the kv
   table the pipeline phase just wrote, through ``operators.serving``.
   The two workloads' kv tables come from different writers (the batch
   plan and the streaming recompute), so a kv-layout change shows up on
   the serving numbers of the workload whose writer it touched.

A workload exposes ``prepare()`` (inputs and the oracle; no Spark),
``open(spark)`` (opening the inputs in a new session, part of
``setup_s``), ``warmup(spark, n)`` (untimed pipeline operations),
``pipeline(...)`` (the timed pipeline operations) and ``check(ops)``
(outputs against the oracle).
"""

from __future__ import annotations

import os
import queue
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import gen
from oracle import Oracle


@dataclass
class Op:
    oid: str
    start: float
    end: float
    latency_s: float  # what the user waits for: pass wall, freshness, lookup
    work: int  # events processed, rows committed or rows returned
    ok: bool = True
    extra: dict = field(default_factory=dict)


class Lookups:
    """One closed-loop serving client. Keys: two thirds genre-day pks,
    drawn Zipf by genre popularity, one third day pks; days lean to the
    most recent (geometric, p=0.25). Shapes are the reference's three
    key conditions (queries/dynamo_query.txt): pk + begins_with(sk),
    pk + sk equality and pk + sk BETWEEN."""

    GENRE_SHAPES = (
        ("prefix", ("METRIC#",)),
        ("prefix", ("SONG#",)),
        ("eq", ("METRIC#listen_count",)),
        ("between", ("SONG#1", "SONG#2#~")),
    )
    DATE_SHAPES = (
        ("prefix", ("GENRE_RANK#",)),
        ("eq", ("GENRE_RANK#1",)),
        ("between", ("GENRE_RANK#1", "GENRE_RANK#3")),
    )
    def __init__(self, cat: gen.Catalog, seed: int) -> None:
        self.cat = cat
        self.rng = np.random.default_rng([seed, 4])
        self.kv = None

    def open(self, spark, kv_dir: str) -> None:
        """Open the table the pipeline phase just (re)wrote."""
        self.kv = spark.read.parquet(kv_dir)

    def expect(self, oracle: Oracle, n_days: int) -> None:
        """Take the expected rows from the oracle's current kv."""
        self.n_days = n_days
        self.expected: dict[str, list[tuple]] = {}
        for pk, *rest in oracle.kv_rows():
            self.expected.setdefault(pk, []).append(tuple(rest))

    def _draw(self) -> tuple[str, str, tuple[str, ...]]:
        rng = self.rng
        back = min(int(rng.geometric(0.25)) - 1, self.n_days - 1)
        day = str(np.datetime64("2025-01-01") + (self.n_days - 1 - back))
        if rng.random() < 2 / 3:
            g = self.cat.genre_by_rank[gen.draw_ranks(rng, self.cat.genre_cdf, 1)[0]]
            pk, shapes = f"GENRE#{self.cat.genres[g]}#DATE#{day}", self.GENRE_SHAPES
        else:
            pk, shapes = f"DATE#{day}", self.DATE_SHAPES
        shape, args = shapes[rng.integers(len(shapes))]
        return shape, pk, args

    def _expect(self, shape: str, pk: str, args: tuple) -> set[tuple]:
        rows = self.expected.get(pk, [])
        if shape == "prefix":
            keep = [r for r in rows if r[0].startswith(args[0])]
        elif shape == "eq":
            keep = [r for r in rows if r[0] == args[0]]
        else:
            keep = [r for r in rows if args[0] <= r[0] <= args[1]]
        return {(pk, *r) for r in keep}

    def _one(self, tracer) -> tuple[bool, int]:
        from music_streaming_data_pipeline_v2_spark.operators import serving

        shape, pk, args = self._draw()
        fn = {
            "prefix": serving.query_pk_prefix,
            "eq": serving.query_pk_sk,
            "between": serving.query_pk_sk_between,
        }[shape]
        if tracer is None:
            rows = fn(self.kv, pk, *args).collect()
        else:
            with tracer.span("serve.query"):
                df = fn(self.kv, pk, *args)
            with tracer.span("serve.collect"):
                rows = df.collect()
        got = {
            (
                r["pk"],
                r["sk"],
                None if r["value"] is None else float(r["value"]),
                r["play_count"],
                r["total_plays"],
            )
            for r in rows
        }
        ok = len(got) == len(rows) and got == self._expect(shape, pk, args)
        return ok, len(rows)

    def run(self, spark, n_warm: int, n: int, tracer) -> list[Op]:
        """``n_warm`` untimed warm-up lookups, then ``n`` timed ones;
        every lookup's rows are checked."""
        warm = [self._one(None)[0] for _ in range(n_warm)]
        ops: list[Op] = []
        sc = spark.sparkContext
        for i in range(n):
            oid = f"lookup-{i}"
            sc.setJobGroup(oid, oid)
            t0, w0 = time.perf_counter(), time.time()
            if tracer is None:
                ok, n_rows = self._one(None)
            else:
                with tracer.span("serve.lookup", op=oid):
                    ok, n_rows = self._one(tracer)
            dt = time.perf_counter() - t0
            ops.append(Op(oid, w0, w0 + dt, dt, n_rows, ok=ok))
        sc.setJobGroup("idle", "idle")
        if not all(warm):
            _fail_all(ops, ["warm-up lookups returned wrong rows"])
        return ops


def _fail_all(ops: list[Op], problems: list[str]) -> list[str]:
    if problems:
        for o in ops:
            o.ok = False
    return problems


class BatchRecompute:
    """Full-history recompute: ``run_music_pipeline`` then
    ``write_music_outputs`` over 30 days of history."""

    name = "batch_recompute"
    # 30 days of 4,000 plays: a pass is then 5-7 s warm on 4 cores, so
    # a whole run, set-up and warm-up included, stays under a minute
    N_EVENTS = 30 * 4_000
    WARMUP_PASSES = 1

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.out = os.path.join(work, "out")
        self.kv_dir = os.path.join(self.out, "kv")

    def prepare(self) -> None:
        self.cat = gen.make_catalog(self.seed)
        self.dims = gen.write_dims(self.cat, os.path.join(self.work, "dims"))
        self.hist = gen.write_history(
            self.cat, self.seed, self.N_EVENTS, os.path.join(self.work, "history")
        )
        self.oracle = Oracle(self.cat.songs, self.cat.users)
        self.oracle.compute(f"SELECT * FROM read_parquet('{self.hist}/*.parquet')")
        self.lookups = Lookups(self.cat, self.seed)
        self.n_days = gen.PARAMS["history_days"]

    def open(self, spark) -> None:
        self.songs = spark.read.parquet(self.dims["songs"])
        self.users = spark.read.parquet(self.dims["users"])

    def _pass(self, spark) -> None:
        from music_streaming_data_pipeline_v2_spark.plans.music import (
            run_music_pipeline,
            write_music_outputs,
        )

        streams = spark.read.parquet(self.hist)
        outputs = run_music_pipeline(streams, self.songs, self.users)
        write_music_outputs(outputs, self.out)
        outputs.enriched.unpersist()

    def warmup(self, spark, n: int = WARMUP_PASSES) -> None:
        for _ in range(n):
            self._pass(spark)

    def pipeline(self, spark, seconds: float, min_ops: int, tracer) -> list[Op]:
        """Back-to-back passes until ``seconds`` have passed and at least
        ``min_ops`` ran."""
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        while len(ops) < min_ops or time.perf_counter() < t_end:
            oid = f"pass-{len(ops)}"
            spark.sparkContext.setJobGroup(oid, oid)
            t0, w0 = time.perf_counter(), time.time()
            if tracer is None:
                self._pass(spark)
            else:
                with tracer.span("plans.music", op=oid):
                    self._pass(spark)
            dt = time.perf_counter() - t0
            ops.append(Op(oid, w0, w0 + dt, dt, self.N_EVENTS))
        spark.sparkContext.setJobGroup("idle", "idle")
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        problems = []
        for t in ("genre_kpis", "top_songs", "top_genres", "kv"):
            n = self.oracle.mismatches(t, os.path.join(self.out, t))
            if n:
                problems.append(f"{t}: {n} rows differ from the oracle")
        # every pass overwrites the same outputs, so a wrong output
        # fails them all
        return _fail_all(ops, problems)


class IncrementalArrivals:
    """Open loop: a mover thread lands one reference-sized stream CSV
    every ``PERIOD_S`` seconds; each arrival triggers one
    ``run_incremental_pipeline`` drain, run one at a time in arrival
    order. A trigger whose file an earlier drain already committed is
    dropped (the drain would find nothing new). The period leaves
    headroom over the ~4 s a warm drain takes on 4 cores."""

    name = "incremental_arrivals"
    PERIOD_S = 5.5
    WARMUP_FILES = 2

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.inbox = os.path.join(work, "inbox")
        self.out = os.path.join(work, "out")
        self.kv_dir = os.path.join(self.out, "kv")
        self.ckpt = os.path.join(work, "checkpoint")
        self.quarantine = os.path.join(work, "quarantine")
        self.landed: list[gen.Arrival] = []
        self.committed: set[str] = set()

    def prepare(self) -> None:
        self.cat = gen.make_catalog(self.seed)
        self.dims = gen.write_dims(self.cat, os.path.join(self.work, "dims"))
        os.makedirs(self.inbox)
        self.oracle = Oracle(self.cat.songs, self.cat.users)
        self.lookups = Lookups(self.cat, self.seed)

    @property
    def n_days(self) -> int:
        return len(self.landed)

    def open(self, spark) -> None:
        self.songs = spark.read.parquet(self.dims["songs"])
        self.users = spark.read.parquet(self.dims["users"])

    def _arrival(self) -> gen.Arrival:
        return gen.make_arrival(self.cat, self.seed, len(self.landed))

    def _land(self, a: gen.Arrival) -> None:
        # write under a name the source's *stream*.csv glob ignores,
        # then rename, so a drain never lists a half-written file
        tmp = os.path.join(self.inbox, f".{a.name}.tmp")
        with open(tmp, "wb") as f:
            f.write(a.csv)
        os.rename(tmp, os.path.join(self.inbox, a.name))
        self.landed.append(a)

    def _drain(self, spark) -> None:
        from music_streaming_data_pipeline_v2_spark.streaming.pipeline import (
            run_incremental_pipeline,
        )

        run_incremental_pipeline(
            spark,
            self.inbox,
            self.songs,
            self.users,
            self.out,
            self.ckpt,
            quarantine_dir=self.quarantine,
            maintain_kv=True,
        )

    def _newly_committed(self) -> set[str]:
        """File names the checkpoint's file-source log lists that were
        not seen before (the log is the source's own commit record)."""
        log_dir = os.path.join(self.ckpt, "sources", "0")
        names: set[str] = set()
        for f in os.listdir(log_dir):
            if f.startswith("."):
                continue
            with open(os.path.join(log_dir, f)) as fh:
                for line in fh:
                    if '"path"' in line:
                        path = line.split('"path":"', 1)[1].split('"', 1)[0]
                        names.add(path.rsplit("/", 1)[1])
        new = names - self.committed
        self.committed |= new
        return new

    def warmup(self, spark, n: int = WARMUP_FILES) -> None:
        for _ in range(n):
            self._land(self._arrival())
            self._drain(spark)
            self._newly_committed()

    def pipeline(self, spark, seconds: float, min_ops: int, tracer) -> list[Op]:
        """Files due every PERIOD_S over ``seconds``, at least ``min_ops``;
        returns one op per file, its latency the time from the file's
        due time to the end of the drain that committed it."""
        n_files = max(min_ops, int(seconds // self.PERIOD_S) + 1)
        arrivals = [
            gen.make_arrival(self.cat, self.seed, len(self.landed) + i)
            for i in range(n_files)
        ]
        triggers: queue.Queue = queue.Queue()
        t0 = time.time() + 0.1
        due = {a.name: t0 + i * self.PERIOD_S for i, a in enumerate(arrivals)}
        landed_at: dict[str, float] = {}

        def mover() -> None:
            for a in arrivals:
                time.sleep(max(0.0, due[a.name] - time.time()))
                self._land(a)
                landed_at[a.name] = time.time()
                triggers.put(a.name)

        th = threading.Thread(target=mover, name="mover")
        th.start()
        ops: list[Op] = []
        rows = {a.name: a.valid.num_rows for a in arrivals}
        try:
            for k in range(n_files):
                name = triggers.get(timeout=120)
                if name in self.committed:
                    continue
                backlog = sum(1 for n in list(landed_at) if n not in self.committed)
                oid = f"drain-{k}"
                start = time.time()
                if tracer is None:
                    self._drain(spark)
                else:
                    with tracer.span("streaming.run_incremental_pipeline", op=oid):
                        self._drain(spark)
                end = time.time()
                for n in sorted(self._newly_committed()):
                    ops.append(
                        Op(
                            n,
                            start,
                            end,
                            end - due[n],
                            rows[n],
                            extra={
                                "drain": oid,
                                "queue_wait_s": start - due[n],
                                "lateness_s": landed_at[n] - due[n],
                                "backlog": backlog,
                            },
                        )
                    )
        finally:
            th.join(timeout=120)
        valid = pa.concat_tables([a.valid for a in self.landed])
        self.oracle.con.register("arrived", valid)
        self.oracle.compute("SELECT * FROM arrived")
        return ops

    def quarantined(self) -> int:
        n = self.oracle.con.execute(
            f"SELECT count(*) FROM read_parquet('{self.quarantine}/**/*.parquet')"
        ).fetchone()[0]
        return int(n)

    def check(self, ops: list[Op]) -> list[str]:
        problems = []
        for t in ("genre_kpis", "kv"):
            n = self.oracle.mismatches(t, os.path.join(self.out, t))
            if n:
                problems.append(f"{t}: {n} rows differ from the oracle")
        injected = sum(a.n_invalid for a in self.landed)
        if self.quarantined() != injected:
            problems.append(
                f"quarantined {self.quarantined()} rows, injected {injected}"
            )
        if self.committed != {a.name for a in self.landed}:
            problems.append("not every landed file was committed")
        # the end state is the sum of every drain, so it fails them all
        return _fail_all(ops, problems)


WORKLOADS = {w.name: w for w in (BatchRecompute, IncrementalArrivals)}
