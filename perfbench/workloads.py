"""The benchmark's workloads: one seeded change stream driven through the
CDC pipeline in one closed loop (the next operation starts only when
the previous one has returned).

Both workloads start the same way: a catch-up replay of the stream's
first ~23% (an empty table, two large triggers through
``CdcPipeline.run_once``; the first takes the ``union-agg`` path) —
the bulk-throughput case. Then the tail follows in ~2.3k-event
segments, each carrying one invalid event (null ``conv_id``) for the
dead-letter path — every batch, not every other one, so that batch
walls form one population and their median is stable:

* ``trickle_cow`` — copy-on-write table, segments staged two at a
  time and drained by ``run_once`` at ``max_files_per_trigger=1``, each
  followed by a point lookup of one conversation it touched. Per-batch
  fixed overhead, ``broadcast-cow`` rewrite amplification, trigger
  overhead and the dead-letter append dominate.
* ``mor_read_mix`` — merge-on-read table compacted after the catch-up,
  one ``CdcPipeline.apply_batch`` per segment, each followed by a point
  lookup of a conversation that batch touched. ``delta-append`` writes
  are cheap and readers pay the last-writer-wins resolution, so a gain
  on one side that costs the other shows here. Maintenance (compact +
  expire) fires every third batch. The loop runs whole maintenance
  cycles; each cycle also looks up the hot conversation and scans the
  whole snapshot (recorded apart from the touched lookups).

Correctness gates run after the timed loop.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from inputs import (
    ORACLE_COLS, Binlog, Layout, binlog, check_equal, check_state,
    expected_state, n_invalid, read_events,
)
from nifi_processors_spark.synth import SynthSpec

HOT_CONV = "conv-000000"


class JvmDied(RuntimeError):
    """The Spark driver JVM exited under the benchmark."""


def stream_layout(seed: int) -> Layout:
    """~25k keys caught up in 8 files, then ~36 tail segments of ~2.3k
    events, mostly updates (hot conversation included)."""
    return Layout(
        SynthSpec(n_conversations=3_125, turns_per_conv=8, n_shards=4,
                  update_ratio=2.9, hot_key_frac=0.02, seed=seed),
        preload_frac=0.23, preload_segments_per_shard=2,
        tail_segments_per_shard=9, invalid_every=1,
    )


def _stage(src: str, dst_dir: str) -> None:
    """Make a binlog segment visible to the tail (a hard link, so the
    cached original stays intact)."""
    dst = os.path.join(dst_dir, os.path.basename(src))
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def _first_conv(path: str) -> str:
    col = pq.read_table(path, columns=["conv_id"]).column(0)
    return next(c for c in col.to_pylist() if c is not None)


class Workload:
    """One workload run: ``prepare`` makes inputs (untimed), ``setup``
    catches up and warms up (timed as set-up), ``measure`` runs the
    closed loop for a given time, ``check`` applies the gates."""

    name = ""
    merge_strategy = "copy-on-write"
    #: catch-up files per trigger (8 files → 2 triggers)
    catchup_files_per_trigger = 4
    #: loop steps run untimed in set-up: batches and lookups keep
    #: getting faster for a while after the catch-up (code paths still
    #: compiling)
    warmup_steps = 1

    def __init__(self, seed: int, run_dir: str, cache_dir: str, tracer, jvm_alive,
                 layout: Layout | None = None):
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.tracer = tracer
        self.jvm_alive = jvm_alive
        self.layout = layout or stream_layout(seed)
        self.attempted = 0
        self.failed = 0
        self.lookups: list[tuple[str, int, list]] = []  # (conv, files applied, rows)
        self.catchup: tuple[int, float] = (0, 0.0)  # (events, wall)
        self.drain: tuple[int, float] = (0, 0.0)
        self.t_measure = (0.0, 0.0)
        self.applied = 0  # tail segments applied so far
        self.log: Binlog | None = None

    def prepare(self) -> Binlog:
        self.log = binlog(self.cache_dir, self.layout)
        self.seg_events = [pq.read_metadata(p).num_rows for p in self.log.tail]
        self.touched = [_first_conv(p) for p in self.log.tail]
        return self.log

    def config(self, binlog_dir: str, source_id: str, **over):
        from nifi_processors_spark.config import EngineConfig

        return EngineConfig(
            binlog_dir=binlog_dir,
            table_path=os.path.join(self.run_dir, "table"),
            dead_letter_path=os.path.join(self.run_dir, "dlq"),
            checkpoint_dir=os.path.join(self.run_dir, f"ckpt-{source_id}"),
            source_id=source_id,
            merge_strategy=self.merge_strategy,
            n_shards=self.layout.spec.n_shards,
            **over,
        )

    def setup(self, spark) -> None:
        from nifi_processors_spark.streaming.pipeline import CdcPipeline

        self.spark = spark
        cfg = self.config(os.path.dirname(self.log.preload[0]), "catchup",
                          max_files_per_trigger=self.catchup_files_per_trigger)
        t0 = time.perf_counter()
        self.op(CdcPipeline(spark, cfg).run_once)
        n = sum(pq.read_metadata(p).num_rows for p in self.log.preload)
        self.catchup = (n, time.perf_counter() - t0)

    def warm_up(self) -> None:
        for _ in range(self.warmup_steps):
            self.step()

    def remaining(self) -> int:
        """Tail batches planned but not attempted (counted as failed
        when the JVM dies)."""
        return len(self.log.tail) - self.applied if self.log else 0

    def applied_files(self) -> list[str]:
        return self.log.preload + self.log.tail[: self.applied]

    # ------------------------------------------------------------ loop

    def op(self, fn, weight: int = 1):
        """Run one operation, counting it; a dead JVM ends the run."""
        self.attempted += weight
        try:
            return fn()
        except Exception:
            self.failed += weight
            if not self.jvm_alive():
                raise JvmDied() from None
            raise

    def lookup(self, conv: str, span: str = "op.lookup") -> None:
        """Point lookup of one conversation, collected; the rows are
        kept for the gate. ``span`` names the kind of read, so that
        each kind has its own samples."""
        from pyspark.sql import functions as F

        table = self.pipe.table
        with self.tracer.span(span, conv=conv) as s:
            rows = self.op(
                lambda: table.read().filter(F.col("conv_id") == conv).collect()
            )
        if self.tracer.traced:
            files = table.manifest()["files"]
            s["attrs"].update(
                files_live=len(files),
                delta_files_live=sum(1 for f in files if f.get("delta")),
            )
        n_files = len(self.log.preload) + self.applied
        self.lookups.append((conv, n_files, [r.asDict() for r in rows]))

    def measure(self, seconds: float) -> None:
        """Call ``step`` until the loop's end would likely move further
        from ``seconds`` than it is now (at least once), or until the
        backlog is drained. A step is the loop's unit of work (for
        ``mor_read_mix`` a whole maintenance cycle), so a run times
        ``seconds`` over the median step, rounded, whole steps: a step
        slightly slower or faster than usual does not change the count."""
        t0 = time.perf_counter()
        self.t_measure = (t0, float("inf"))
        n_ev, walls = 0, []
        while True:
            s0 = time.perf_counter()
            ev = self.step()
            if ev is None:
                break
            n_ev += ev
            now = time.perf_counter()
            walls.append(now - s0)
            if now - t0 + statistics.median(walls) / 2 >= seconds:
                break
        self.t_measure = (t0, time.perf_counter())
        self.drain = (n_ev, self.t_measure[1] - t0)

    def step(self) -> int | None:
        """One loop iteration; returns the change events it applied, or
        None when the backlog is empty."""
        raise NotImplementedError

    def _walls(self, name: str) -> list[float]:
        t0, t1 = self.t_measure
        return [
            s["end"] - s["start"] for s in self.tracer.spans
            if s["name"] == name and "end" in s and t0 <= s["start"] <= t1
            and not s["attrs"].get("skipped")
        ]

    def batch_walls(self) -> list[float]:
        return self._walls("pipeline.apply_batch")

    def read_walls(self, kind: str = "op.lookup") -> list[float]:
        return self._walls(kind)

    # ----------------------------------------------------------- gates

    def check(self) -> None:
        """Final table vs oracle, dead-letter rows vs injected invalid
        rows, committed source watermarks vs last batches, and every
        point lookup vs the oracle of the stream prefix it saw."""
        events = read_events(self.applied_files())
        table = self.pipe.table
        check_state(table.read().toPandas(), expected_state(events), f"{self.name} final table")
        check_equal("dead-letter rows", self.pipe.dead_letter.read().count(), n_invalid(events))
        n_trig = -(-len(self.log.preload) // self.catchup_files_per_trigger)
        check_equal("catch-up watermark", table.watermark("catchup"), n_trig - 1)
        check_equal("tail watermark", table.watermark("tail"), self.applied - 1)
        valid = events[events["conv_id"].notna()]
        for conv, n_files, rows in self.lookups:
            prefix = valid[(valid["_file"] < n_files) & (valid["conv_id"] == conv)]
            check_state(
                pd.DataFrame(rows, columns=ORACLE_COLS),
                expected_state(prefix),
                f"lookup {conv} after {n_files} files",
            )


class TrickleCow(Workload):
    name = "trickle_cow"
    #: tail segments staged per ``run_once`` (one trigger each)
    chunk = 2
    warmup_steps = 2

    def setup(self, spark) -> None:
        from nifi_processors_spark.streaming.pipeline import CdcPipeline

        super().setup(spark)
        self.src = os.path.join(self.run_dir, "binlog")
        os.makedirs(self.src)
        self.pipe = CdcPipeline(spark, self.config(self.src, "tail", max_files_per_trigger=1))
        self.warm_up()

    def _drain(self, n: int) -> int | None:
        segs = self.log.tail[self.applied: self.applied + n]
        if not segs:
            return None
        for p in segs:
            _stage(p, self.src)
        try:
            self.op(self.pipe.run_once, weight=len(segs))
        finally:
            self.applied += len(segs)
        return sum(self.seg_events[self.applied - len(segs): self.applied])

    def step(self) -> int | None:
        ev = self._drain(self.chunk)
        if ev is not None:
            for i in range(self.applied - self.chunk, self.applied):
                self.lookup(self.touched[i])
        return ev


class MorReadMix(Workload):
    name = "mor_read_mix"
    merge_strategy = "merge-on-read"
    #: maintenance (compact + expire) cadence in table versions. The
    #: engine default (64) is minutes of this loop. At 4 it fires on
    #: every third batch (compaction commits a version too).
    maintenance_every = 4
    #: batches per maintenance cycle; one ``step`` runs one whole cycle,
    #: so that every run samples each point of the cycle equally often
    cycle = maintenance_every - 1

    def setup(self, spark) -> None:
        from nifi_processors_spark.schema import CHANGE_EVENTS_SCHEMA
        from nifi_processors_spark.streaming.pipeline import CdcPipeline

        super().setup(spark)
        self.reader = spark.read.schema(CHANGE_EVENTS_SCHEMA)
        self.pipe = CdcPipeline(spark, self.config(
            os.path.dirname(self.log.tail[0]), "tail",
            maintenance_every_n_batches=self.maintenance_every,
        ))
        self.op(self.pipe.table.compact)
        # apply batches up to a maintenance pass, where a cycle starts
        while not self._batch():
            pass
        self.warm_up()

    def _batch(self) -> bool:
        """Apply the next segment; True if maintenance ran after it."""
        table = self.pipe.table
        v0 = table.current_version()
        df = self.reader.parquet(self.log.tail[self.applied])
        try:
            self.op(lambda: self.pipe.apply_batch(df, self.applied))
        finally:
            self.applied += 1
        return table.current_version() > v0 + 1

    def step(self) -> int | None:
        """One maintenance cycle: each batch is followed by a lookup of
        a conversation it touched; before the batch that compacts, the
        hot conversation is looked up and the whole snapshot scanned."""
        from pyspark.sql import functions as F

        first = self.applied
        if first + self.cycle > len(self.log.tail):
            return None
        for i in range(self.cycle):
            if i == self.cycle - 1:
                self.lookup(HOT_CONV, span="op.hot_lookup")
                with self.tracer.span("op.scan"):
                    self.op(lambda: self.pipe.table.read().agg(
                        F.count(F.lit(1)), F.sum(F.length("text"))).collect())
            self._batch()
            self.lookup(self.touched[self.applied - 1])
        return sum(self.seg_events[first: self.applied])


WORKLOADS = {w.name: w for w in (TrickleCow, MorReadMix)}
