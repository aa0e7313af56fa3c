"""Validated engine configuration.

Re-expresses the reference's PropertyDescriptor surface (consumer: 18
properties asserted at GetKinesisStreamTest.java:169-191; producer: 20
at PutKinesisStreamTest.java:129-156) as a typed dataclass with the
same style of per-field range validation (KinesisPropertyDescriptors.
java:43-51) and cross-field validation (AbstractKinesisConsumer
Processor.java:289-316).
"""

from __future__ import annotations

from dataclasses import dataclass, fields


class ConfigError(ValueError):
    """Raised when the engine configuration is invalid (≙ NiFi's
    customValidate failures, ACP:289-316)."""


#: Initial replay position for a fresh consumer — ≙ the reference's
#: LATEST / TRIM_HORIZON allowable values (ACP:85-92, 509-517).
INITIAL_POSITIONS = ("latest", "earliest")

#: Merge write strategies. ``copy-on-write`` rewrites touched buckets
#: per batch (read-optimized — steady state for read-heavy
#: transcripts); ``merge-on-read`` appends LWW-deduped delta files —
#: O(batch) writes with zero reads of existing data, winners resolved
#: at read time, folded back into base files by compact().
MERGE_STRATEGIES = ("copy-on-write", "merge-on-read")


@dataclass
class EngineConfig:
    """All knobs of the CDC pipeline, validated at build time.

    Defaults mirror the reference's operating envelope (BASELINE.md):
    e.g. ``max_files_per_trigger`` is the admission-control analogue of
    BATCH_SIZE (KPD:43-51, default 250 records/trigger — ours is
    file-granular because the source is a segment-file tail).
    """

    # --- source (≙ consumer properties, ACP:62-224) ---
    binlog_dir: str = ""
    binlog_format: str = "parquet"  # parquet | json (Debezium-style lines)
    initial_position: str = "earliest"  # ≙ TRIM_HORIZON/LATEST ACP:85-92
    max_files_per_trigger: int = 8  # ≙ BATCH_SIZE KPD:43-51
    # byte-granular admission control (≙ max records/request
    # ACP:109-116 scaled to bytes); 0 = file-count control only
    max_bytes_per_trigger: int = 0
    n_shards: int = 8  # ≙ stream shard count
    trigger_interval_ms: int = 1000  # ≙ idle-time-between-reads ACP:121-128
    skip_empty_batches: bool = True  # ≙ ACP:133-140

    # --- target table (≙ producer properties, APP:30-189) ---
    table_path: str = ""
    n_buckets: int = 32  # key-hash buckets ≙ shards on the put side
    merge_strategy: str = "copy-on-write"
    commit_retries: int = 4  # ≙ KCL/KPL retry policy ACP:181-188
    commit_retry_backoff_ms: int = 500  # ≙ task backoff ACP:181-188

    # max applied change-events per second across the stream; 0 =
    # unlimited. ≙ the producer's RateLimit property (APP:150-159,
    # applied PUT:181): the micro-batch is paced AFTER its commit so
    # downstream consumers see at most this sustained apply rate.
    put_rate_limit_events_per_sec: int = 0

    # --- routing / dead letter (≙ REL_FAILURE PUT:307-326) ---
    # dead letters commit in the main table's manifest; the engine no
    # longer reads this path, which stays until callers stop passing it
    dead_letter_path: str = ""
    fail_on_dead_letter: bool = False  # ≙ fail-if-throttled APP:90-98

    # --- exactly-once / checkpoint (≙ C1-C4, GET:281-296) ---
    checkpoint_dir: str = ""
    source_id: str = "binlog"

    # --- metrics (≙ CloudWatch metrics props ACP:193-205) ---
    # metrics_enabled=False commits no lineage rows and emits nothing
    metrics_enabled: bool = True
    metrics_granularity: str = "shard"  # shard | stream | global APP:131-138
    # telemetry channel, written once per committed micro-batch, after
    # the commit, with no buffer (a local append; the reference's 10 s
    # buffer and 10,000-record queue, ACP:207-224, exist for a remote
    # rate-limited API — see streaming/metrics.py). It never fails a
    # batch; the committed lineage rows are the correctness record.
    metrics_level: str = "summary"  # none | summary | detailed ACP:196-205
    metrics_path: str = ""  # JSONL sink; empty = log only
    metrics_namespace: str = "cdc"  # ≙ producer metric namespace APP:120-129

    # --- maintenance (round-5 endurance: bounded metadata growth) ---
    # every Nth committed version runs table.compact() (which also
    # folds the lineage and dead-letter files) + expire_snapshots(
    # maintenance_keep_last); 0 disables. Advisory: a lost race never
    # fails the already-committed batch.
    maintenance_every_n_batches: int = 64
    maintenance_keep_last: int = 16

    def validate(self) -> "EngineConfig":
        """Range validation; returns self for chaining."""
        if not self.binlog_dir:
            raise ConfigError("binlog_dir is required")
        if not self.table_path:
            raise ConfigError("table_path is required")
        if self.binlog_format not in ("parquet", "json"):
            raise ConfigError("binlog_format must be parquet or json")
        if self.initial_position not in INITIAL_POSITIONS:
            raise ConfigError(
                f"initial_position must be one of {INITIAL_POSITIONS}, "
                f"got {self.initial_position!r}"
            )
        if self.merge_strategy not in MERGE_STRATEGIES:
            raise ConfigError(
                f"merge_strategy must be one of {MERGE_STRATEGIES}"
            )
        if self.metrics_granularity not in ("shard", "stream", "global"):
            raise ConfigError("metrics_granularity: shard|stream|global")
        if self.metrics_level not in ("none", "summary", "detailed"):
            raise ConfigError("metrics_level: none|summary|detailed")
        # range validation ≙ KPD:49 createLongValidator(1, 500, false)
        for name, lo, hi in [
            ("max_files_per_trigger", 1, 100_000),
            ("max_bytes_per_trigger", 0, 1 << 50),
            ("n_shards", 1, 10_000),
            ("n_buckets", 1, 1_000_000),
            ("commit_retries", 0, 100),
            ("put_rate_limit_events_per_sec", 0, 1_000_000_000),
            ("trigger_interval_ms", 0, 86_400_000),
            ("maintenance_every_n_batches", 0, 1_000_000),
            ("maintenance_keep_last", 1, 100_000),
        ]:
            v = getattr(self, name)
            if not (lo <= v <= hi):
                raise ConfigError(f"{name} must be in [{lo}, {hi}], got {v}")
        if not self.checkpoint_dir:
            raise ConfigError("checkpoint_dir is required")
        return self

    @classmethod
    def property_names(cls) -> list[str]:
        """The full validated property surface (tested for exact count
        the way the reference tests its descriptors, GT:169-191)."""
        return [f.name for f in fields(cls)]
