"""The CDC pipeline: binlog tail → validate/route → LWW MERGE → commit.

Structured Streaming drives micro-batches (the push/pull inversion of
the reference — its KCL worker thread pushing into NiFi sessions,
SURVEY.md §2.11, is exactly Spark's driver-scheduled model); each
micro-batch runs through ``apply_batch``:

1. validate + split (success/failure relationships, PUT:307-326)
2. LWW MERGE of the valid rows into the transcripts table
3. per-shard lineage/metrics rows (provenance GET:266-268 + consumer
   lag GET:314-315) and the invalid rows as dead letters (failure ≙
   REL_FAILURE), staged after the data write
4. ONE manifest commit publishes the data, the offsets watermark, the
   lineage and the dead letters together — exactly-once (upgrading the
   reference's checkpoint-before-commit at-least-once, GET:281-296)

Crash anywhere before the manifest commit → neither the batch nor its
dead letters are visible and Structured Streaming redelivers the batch;
crash after → redelivery is skipped by the watermark, since the batch
and its dead letters are already committed together. A nuked
checkpoint (full replay) reconverges because the merge itself is
LWW-idempotent.
"""

from __future__ import annotations

import logging
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nifi_processors_spark.config import EngineConfig
from nifi_processors_spark.schema import (
    CHANGE_EVENTS_SCHEMA,
    KEY_COLS,
    LWW_COLS,
    TRANSCRIPTS_SCHEMA,
)
from nifi_processors_spark.sources.binlog import read_binlog_stream
from nifi_processors_spark.table import TransactionalTable, _aliased, _obs_values, _scan

_log = logging.getLogger(__name__)


class CdcPipeline:
    def __init__(self, spark: SparkSession, config: EngineConfig, transform=None):
        """``transform``: optional vectorized content-rewrite stage
        (DataFrame → DataFrame, e.g. functions.rewrite.make_transform)
        applied to the validated batch before the LWW merge — the
        reference's route/transform/put content rewriting, vectorized."""
        self.spark = spark
        self.transform = transform
        self.config = config.validate()
        if TransactionalTable.exists(spark, config.table_path):
            self.table = TransactionalTable(spark, config.table_path)
        else:
            self.table = TransactionalTable.create(
                spark, config.table_path, TRANSCRIPTS_SCHEMA, KEY_COLS,
                LWW_COLS, n_buckets=config.n_buckets,
                merge_strategy=config.merge_strategy,
            )
        # dead letters ride each batch's manifest: a read view, no table
        self.dead_letter = SimpleNamespace(read=self.table.read_dead_letters)
        self.last_batch_stats: dict = {}
        # telemetry channel (≙ CloudWatch metrics, ACP:193-205) —
        # written after each commit, apart from the atomic lineage rows
        self.metrics = None
        if config.metrics_enabled and config.metrics_level != "none":
            from nifi_processors_spark.streaming.metrics import MetricsEmitter

            self.metrics = MetricsEmitter(
                level=config.metrics_level,
                path=config.metrics_path,
                namespace=config.metrics_namespace,
            )

    # ------------------------------------------------------ micro-batch

    def _file_backed_batch(self, batch_id: int) -> DataFrame | None:
        """Rebuild the micro-batch as a genuine file scan.

        Spark 4's foreachBatch hands the batch as a row-based
        ``Scan ExistingRDD`` wrapper: ``inputFiles()`` is empty, parquet
        footers are unreachable, column pruning is lost, and every
        action re-decodes all ten columns. Measured on the 13.4M-event
        scaling replay that wrapper cost TWO redundant full decodes
        per micro-batch — a CollectLimit job for the empty-batch check
        and the merge's size probe (the footer-rows hint could never
        engage) — ~10 s of a 46 s four-core batch.

        The file source's own commit log (checkpoint/sources/0/<id>)
        records exactly which files belong to this batch (`v1` header +
        one JSON per line; compacted logs carry older batches' entries
        tagged with their batchId). Re-reading those files with the
        stream's declared schema is the SAME data with a columnar,
        prunable, footer-countable plan. Returns None on any surprise
        (second source, missing log, unknown format) — callers fall
        back to the engine-provided frame."""
        import json as _json
        import os as _os

        cfg = self.config
        src_root = _os.path.join(cfg.checkpoint_dir, "sources")
        try:
            if not _os.path.isdir(src_root) or sorted(
                d for d in _os.listdir(src_root) if not d.startswith(".")
            ) != ["0"]:
                return None
            log = _os.path.join(src_root, "0", str(batch_id))
            if not _os.path.exists(log):
                log = _os.path.join(src_root, "0", f"{batch_id}.compact")
                if not _os.path.exists(log):
                    return None
            paths = []
            with open(log) as f:
                if f.readline().strip() != "v1":
                    return None
                for line in f:
                    if not line.startswith("{"):
                        continue
                    e = _json.loads(line)
                    if int(e.get("batchId", batch_id)) == batch_id:
                        paths.append(e["path"])
            if not paths:
                return None
            df = _scan(self.spark, paths, CHANGE_EVENTS_SCHEMA, cfg.binlog_format)
            if cfg.initial_position == "latest":
                snap_path = _os.path.join(
                    cfg.checkpoint_dir, "initial_position_snapshot.json"
                )
                with open(snap_path) as f:  # must exist for a live stream
                    snap = {int(k): int(v) for k, v in _json.load(f).items()}
                if snap:
                    from nifi_processors_spark.sources.binlog import (
                        high_water_filter,
                    )

                    df = df.filter(high_water_filter(snap))
            return df
        except Exception:
            return None

    def apply_batch(
        self, batch_df: DataFrame, batch_id: int, from_stream: bool = False
    ) -> dict:
        """The foreachBatch body. Idempotent per (source_id, batch_id)."""
        import time as _time

        batch_t0 = _time.monotonic()
        cfg = self.config
        if from_stream:
            recovered = self._file_backed_batch(batch_id)
            if recovered is not None:
                batch_df = recovered
        if cfg.skip_empty_batches and not batch_df.inputFiles() and batch_df.isEmpty():
            # ≙ withCallProcessRecordsEvenForEmptyRecordList(false)
            # inverted default (ACP:133-140, GET:164). File-backed
            # batches skip the check — availableNow never emits them.
            self.last_batch_stats = {"skipped": True, "reason": "empty"}
            return self.last_batch_stats

        import uuid as _uuid

        from pyspark.sql.observation import Observation

        from nifi_processors_spark.functions.attributes import with_error_reason

        tagged = with_error_reason(batch_df)
        is_err = F.col("error_reason").isNotNull()
        # the failure relationship: written by the merge's side-file
        # hook only when the latched invalid count is > 0
        dead_letters = tagged.filter(is_err).withColumn("batch_id", F.lit(batch_id))

        # ZERO-extra-job metrics: routing counts and per-shard
        # lineage/metrics (the reference accumulated these in its
        # per-record loop, GET:245-267,307-322) ride the merge's OWN
        # jobs (the copy-on-write size probe, else the write) as
        # aggregate Observations on the validated batch —
        # no dedicated metrics scan at all. Per-shard granularity is
        # expressed as conditional aggregates (one set per shard id),
        # all evaluated in the same pass.
        obs = Observation(f"cdc-b{batch_id}-{_uuid.uuid4().hex[:6]}")
        tags = list(range(cfg.n_shards)) if cfg.metrics_granularity == "shard" else [None]
        exprs = {"inv_total": F.sum(is_err.cast("long"))}
        for s in tags:
            in_s = F.lit(True) if s is None else (F.col("shard") == s)
            ok, ko = in_s & ~is_err, in_s & is_err
            t = "all" if s is None else str(s)
            exprs[f"inv_{t}"] = F.sum(ko.cast("long"))
            exprs[f"n_{t}"] = F.sum(ok.cast("long"))
            exprs[f"fs_{t}"] = F.min(F.when(ok, F.col("seq")))
            exprs[f"ls_{t}"] = F.max(F.when(ok, F.col("seq")))
            exprs[f"lag_{t}"] = F.max(
                F.when(
                    ok,
                    F.unix_millis(F.current_timestamp())
                    - F.unix_millis(F.col("arrival_ts")),
                )
            )
        tagged = tagged.observe(obs, *_aliased(exprs))

        valid = tagged.filter(F.col("error_reason").isNull()).drop("error_reason")
        if self.transform is not None:
            valid = self.transform(valid)

        holder: dict = {}

        def _lineage_after_write():
            """Runs inside merge AFTER the data write, BEFORE the
            manifest commit: the observation is latched by then (the
            merge's probe or write scanned the observed batch), so the
            lineage rows are pure driver-side bookkeeping, and the dead
            letters cost a job only when there are any. Raising here
            aborts the commit (batch failure ≙ route-all-to-failure +
            yield, PUT:329-333) with nothing made visible."""
            vals = _obs_values(obs, tagged, exprs)
            n_inv = int(vals["inv_total"] or 0)
            holder["n_dlq"] = n_inv
            if n_inv and cfg.fail_on_dead_letter:
                raise ValueError(f"{n_inv} invalid events in batch {batch_id}")
            dead = dead_letters if n_inv else None
            if not cfg.metrics_enabled:
                return None, dead
            rows = []
            for s in tags:
                t = "all" if s is None else str(s)
                n = int(vals[f"n_{t}"] or 0)
                inv = int(vals[f"inv_{t}"] or 0)
                if n == 0 and inv == 0:
                    continue
                rows.append(
                    {
                        "source_id": cfg.source_id,
                        "batch_id": int(batch_id),
                        "shard": s,
                        "first_seq": vals[f"fs_{t}"],
                        "last_seq": vals[f"ls_{t}"],
                        "n_events": n,
                        "n_dead_letter": inv,
                        "max_lag_ms": vals[f"lag_{t}"],
                    }
                )
            holder["lineage_rows"] = rows
            return rows, dead

        # footer-based row count of the RAW (pre-validation) batch — an
        # upper bound the merge uses to pick the bulk path and to size
        # merge-on-read partitions (the validated view is filtered, so
        # its own plan is not a bare scan); n_upserts stays exact
        hint = self.table.footer_row_estimate(batch_df)

        stats = self.table.merge(
            valid,
            source_id=cfg.source_id,
            batch_id=batch_id,
            lineage_fn=_lineage_after_write,
            retries=cfg.commit_retries,
            backoff_ms=cfg.commit_retry_backoff_ms,
            upper_rows_hint=hint,
        )
        # a watermark-skipped redelivery wrote nothing: its dead
        # letters were committed with the batch
        n_dlq = holder.get("n_dlq", 0)

        # maintenance cadence (round-5 endurance): every Nth committed
        # version compacts sliver files, folds the lineage and
        # dead-letter side files, and expires old snapshots so a
        # 1,000-micro-batch stream keeps BOUNDED manifest/file counts.
        # Advisory — the batch is already committed; a lost race with
        # another writer must not fail it.
        mver = stats.get("version")
        if (
            cfg.maintenance_every_n_batches > 0
            and mver
            and mver % cfg.maintenance_every_n_batches == 0
        ):
            try:
                self.table.compact()
                self.table.expire_snapshots(
                    keep_last=cfg.maintenance_keep_last
                )
            except Exception:
                _log.warning(
                    "table maintenance failed at version %s", mver,
                    exc_info=True,
                )
        # put-side rate limit (≙ RateLimit APP:150-159, applied
        # PUT:181): pace the trigger so the sustained apply rate stays
        # at or below the configured events/sec — a driver-side sleep,
        # no per-record cost. Skipped batches applied nothing.
        if cfg.put_rate_limit_events_per_sec > 0 and not stats.get("skipped"):
            min_elapsed = int(stats["n_upserts"]) / cfg.put_rate_limit_events_per_sec
            remaining = min_elapsed - (_time.monotonic() - batch_t0)
            if remaining > 0:
                _time.sleep(remaining)

        stats = {
            **stats,
            "n_dead_letter": n_dlq,
            # wall per batch — the emitter's per-batch `seconds` field
            # was always None before round 5 (nothing ever set it);
            # endurance flatness evidence reads it from the sink
            "seconds": round(_time.monotonic() - batch_t0, 3),
        }
        if self.metrics is not None:
            # post-commit and never raising: reuses the merge's latched
            # Observation values (zero extra jobs)
            self.metrics.record_batch(
                batch_id, stats, holder.get("lineage_rows")
            )
        self.last_batch_stats = stats
        return stats

    # -------------------------------------------------------- lifecycle

    def start(self, available_now: bool = True):
        """Start the streaming query. ``available_now=True`` drains the
        current binlog and stops (bounded replay); ``False`` runs
        continuously on the trigger interval."""
        cfg = self.config
        stream = read_binlog_stream(self.spark, cfg, CHANGE_EVENTS_SCHEMA)
        writer = (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.apply_batch(df, bid, from_stream=True)
            )
            .option("checkpointLocation", cfg.checkpoint_dir)
            .queryName(f"cdc-{cfg.source_id}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{cfg.trigger_interval_ms} milliseconds")
        return writer.start()

    def run_once(self, timeout_s: int = 600) -> None:
        """Drain everything currently in the binlog, then stop
        (graceful stop: the in-flight batch commits — ≙ flushSync on
        shutdown, PUT:369-376)."""
        q = self.start(available_now=True)
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
