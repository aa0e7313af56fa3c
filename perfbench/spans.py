"""Spans around the engine's public calls, recorded from outside.

``install`` wraps the public functions of ``session``,
``streaming.pipeline`` and ``table`` so that every call
opens a span: name, start, end, parent span and run id. Untraced runs
keep only the timings (a few ``perf_counter`` reads per call); a traced
run also diffs the Spark status store around each span — jobs, stages,
tasks, executor time, shuffle and spill bytes — and records the files a
commit added. The benchmark loop is single-threaded (a streaming
``foreachBatch`` callback runs while the caller waits), so one span
stack serves every thread and nothing else runs between a span's two
status-store reads.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._next_job = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def attach(self, spark) -> None:
        """Start reading the status store of ``spark`` (traced runs)."""
        self._spark = spark
        if self.traced:
            self._next_job = self._scan_jobs(0)[1]

    def open(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id, "attrs": attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        if self.traced and self._spark is not None:
            self._drain()
            span["_job0"] = self._next_job = self._scan_jobs(self._next_job)[1]
        span["start"] = time.perf_counter()
        return span

    def close(self, span: dict, **attrs) -> None:
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        if self.traced and "_job0" in span:
            self._drain()
            jobs, self._next_job = self._scan_jobs(span.pop("_job0"))
            span["attrs"].update(self._job_counters(jobs))
        self._stack.remove(span)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        except BaseException as e:
            self.close(s, error=type(e).__name__)
            raise
        self.close(s)

    # ---------------------------------------------------- status store

    def _store(self):
        return self._spark.sparkContext._jsc.sc().statusStore()

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _scan_jobs(self, first: int) -> tuple[list, int]:
        """Jobs with id ≥ ``first`` known to the status store, and the
        next unused job id (job ids are dense and increasing)."""
        store, jobs, jid = self._store(), [], first
        while True:
            try:
                jobs.append(store.job(jid))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs, jid
            jid += 1

    def _job_counters(self, jobs: list) -> dict:
        store = self._store()
        stages: dict[int, object] = {}
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid not in stages:
                    stages[sid] = store.lastStageAttempt(sid)
        ran = [s for s in stages.values() if s.status().toString() != "SKIPPED"]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in ran),
            "executor_s": sum(s.executorRunTime() for s in ran) / 1000.0,
            "shuffle_bytes": sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in ran),
            "spill_bytes": sum(s.diskBytesSpilled() for s in ran),
        }

    # ---------------------------------------------------------- output

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in s.items() if not k.startswith("_")} for s in self.spans],
                f,
            )


# ----------------------------------------------------------- analysis


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans if c["parent"] == span["id"] and "end" in c
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


def named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name and "end" in s]


def children(spans: list[dict], parent: dict, name: str) -> list[dict]:
    return [s for s in named(spans, name) if s["parent"] == parent["id"]]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], window: tuple[float, float],
                  table_path: str) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced run: per-call medians for times
    and per-call counters, totals for event counts. Only spans that
    start inside ``window`` (the timed loop) count, except the session
    start; maintenance and compaction count only calls on the table at
    ``table_path``, not on the dead-letter table."""
    out: dict[str, tuple[float, str]] = {}
    session = named(spans, "session.start")
    out["session.start_s"] = (_median(map(duration, session)), "s")

    t0, t1 = window
    timed = [s for s in spans if "end" in s and t0 <= s["start"] <= t1]

    def on_main(ss):
        return [s for s in ss if s["attrs"].get("table") == table_path]

    batches = named(timed, "pipeline.apply_batch")
    gaps = []
    runs = named(timed, "stream.run_once")
    for run in runs:
        kids = sorted(children(timed, run, "pipeline.apply_batch"), key=lambda s: s["start"])
        gaps += [b["start"] - a["end"] for a, b in zip(kids, kids[1:])]
    out["stream.trigger_gap_s"] = (_median(gaps), "s")
    out["stream.triggers"] = (float(sum(
        len(children(timed, r, "pipeline.apply_batch")) for r in runs
    )), "count")
    out["pipeline.apply_batch_s"] = (_median(map(duration, batches)), "s")
    out["pipeline.self_s"] = (_median(self_time(b, timed) for b in batches), "s")
    out["pipeline.dead_letter_rows"] = (float(sum(
        b["attrs"].get("n_dead_letter", 0) for b in batches
    )), "count")
    maint = on_main(
        s for b in batches for n in ("table.compact", "table.expire_snapshots")
        for s in children(timed, b, n)
    )
    out["pipeline.maintenance_s"] = (sum(map(duration, maint)), "s")
    out["pipeline.maintenance_runs"] = (float(sum(
        s["name"] == "table.compact" for s in maint
    )), "count")

    appends = named(timed, "table.append")
    out["table.append_s"] = (_median(map(duration, appends)), "s")

    merges = [m for m in named(timed, "table.merge") if not m["attrs"].get("skipped")]
    out["table.merge_s"] = (_median(map(duration, merges)), "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B")):
        out[f"table.merge_{key}"] = (_median(m["attrs"].get(key, 0) for m in merges), unit)
    for path in ("broadcast-cow", "union-agg", "delta-append"):
        out[f"table.merge_path.{path}"] = (float(sum(
            m["attrs"].get("merge_path") == path for m in merges
        )), "count")
    upserts = sum(m["attrs"].get("n_upserts", 0) for m in merges)
    added = sum(m["attrs"].get("bytes_added", 0) for m in merges)
    out["table.bytes_written_per_event"] = (added / upserts if upserts else 0.0, "B")
    out["table.buckets_touched"] = (_median(m["attrs"].get("buckets_touched", 0) for m in merges), "count")
    out["table.files_rewritten"] = (_median(m["attrs"].get("files_rewritten", 0) for m in merges), "count")
    commits = merges + appends
    out["table.commit_attempts"] = (
        _median(c["attrs"].get("commit_attempts", 1) for c in commits), "count"
    )

    reads = named(timed, "op.lookup")
    out["table.read_s"] = (_median(map(duration, reads)), "s")
    out["table.read_tasks"] = (_median(r["attrs"].get("tasks", 0) for r in reads), "count")
    out["table.files_live"] = (_median(r["attrs"].get("files_live", 0) for r in reads), "count")
    out["table.delta_files_live"] = (
        _median(r["attrs"].get("delta_files_live", 0) for r in reads), "count"
    )
    out["table.scan_s"] = (_median(map(duration, named(timed, "op.scan"))), "s")

    compacts = on_main(named(timed, "table.compact"))
    out["table.compact_s"] = (_median(map(duration, compacts)), "s")
    out["table.compact_bytes_rewritten"] = (float(sum(
        c["attrs"].get("bytes_added", 0) for c in compacts
    )), "B")
    return out


# ------------------------------------------------------------ wrappers


def _files_bytes(table, version) -> tuple[dict, int]:
    """(path → size) of the live files at ``version``."""
    if version is None:
        return {}, 0
    files = table.manifest(version)["files"]
    sizes = {
        f["path"]: os.path.getsize(os.path.join(table.path, f["path"])) for f in files
    }
    return sizes, sum(1 for f in files if f.get("delta"))


def _wrap(owner, attr: str, name: str, tracer: Tracer, on_result=None, before=None):
    """Replace ``owner.attr`` by a wrapper that runs each call inside a
    span; calls on a ``TransactionalTable`` record the table's path."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        ctx = before(args) if (before and tracer.traced) else None
        table = getattr(args[0], "path", None) if args else None
        with tracer.span(name, **({"table": table} if table else {})) as s:
            result = orig(*args, **kwargs)
            if on_result:
                s["attrs"].update(on_result(args, result, ctx))
        return result

    tracer._patches.append((owner, attr, orig))
    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points; ``uninstall`` undoes it."""
    from nifi_processors_spark import session
    from nifi_processors_spark.streaming import pipeline
    from nifi_processors_spark.table import TransactionalTable

    def commit_attrs(args, result, ctx):
        attrs = {k: result.get(k) for k in (
            "skipped", "merge_path", "n_upserts", "buckets_touched",
            "files_rewritten", "commit_attempts", "n_dead_letter",
        ) if k in result}
        if tracer.traced and ctx is not None and not result.get("skipped"):
            table, before_sizes = args[0], ctx
            after, _ = _files_bytes(table, table.current_version())
            attrs["bytes_added"] = sum(
                sz for p, sz in after.items() if p not in before_sizes
            )
        return attrs

    def files_before(args):
        table = args[0]
        return _files_bytes(table, table.current_version())[0]

    _wrap(session, "get_spark", "session.start", tracer)
    _wrap(pipeline.CdcPipeline, "run_once", "stream.run_once", tracer)
    _wrap(pipeline.CdcPipeline, "apply_batch", "pipeline.apply_batch", tracer,
          on_result=commit_attrs)
    for meth in ("merge", "append", "compact"):
        _wrap(TransactionalTable, meth, f"table.{meth}", tracer,
              on_result=commit_attrs, before=files_before)
    _wrap(TransactionalTable, "expire_snapshots", "table.expire_snapshots", tracer)
    _wrap(TransactionalTable, "read", "table.read", tracer)


def uninstall(tracer: Tracer) -> None:
    while tracer._patches:
        owner, attr, orig = tracer._patches.pop()
        setattr(owner, attr, orig)
