"""Config-surface tests, modeled on the reference's property tests
(exact count + membership, GetKinesisStreamTest.java:169-191; cross-
field validation, AbstractKinesisConsumerProcessorTest)."""

import pytest

from nifi_processors_spark.config import ConfigError, EngineConfig


def valid_cfg(**over):
    base = dict(
        binlog_dir="/tmp/binlog",
        table_path="/tmp/table",
        dead_letter_path="/tmp/dlq",
        checkpoint_dir="/tmp/ckpt",
    )
    base.update(over)
    return EngineConfig(**base)


def test_property_surface_exact():
    # ≙ GT:169-191 asserting exactly 18 consumer properties
    # (round 5 adds maintenance_every_n_batches / maintenance_keep_last;
    # knobs no engine code read were removed, 34 → 28; the merge has
    # one copy-on-write formulation, so merge_broadcast_threshold went,
    # 28 → 27; telemetry is written unbuffered, so metrics_buffer_secs
    # and metrics_queue_size went, 27 → 25)
    assert len(EngineConfig.property_names()) == 25
    for must in [
        "binlog_dir", "initial_position", "max_files_per_trigger",
        "n_shards", "table_path", "n_buckets",
        "dead_letter_path", "checkpoint_dir", "source_id",
        "metrics_granularity", "merge_strategy",
    ]:
        assert must in EngineConfig.property_names()


def test_valid_config_passes():
    assert valid_cfg().validate() is not None


@pytest.mark.parametrize(
    "over",
    [
        dict(binlog_dir=""),
        dict(table_path=""),
        dict(checkpoint_dir=""),
        dict(initial_position="TRIM_HORIZON"),  # must use spark-style names
        dict(max_files_per_trigger=0),
        dict(n_buckets=0),
        dict(metrics_granularity="nope"),
        dict(merge_strategy="copy-on-read"),  # not a real strategy
        dict(metrics_level="DETAILED"),  # lower-case names only
        dict(n_shards=0),
        dict(binlog_format="avro"),
    ],
)
def test_invalid_configs_raise(over):
    with pytest.raises(ConfigError):
        valid_cfg(**over).validate()


def test_fail_on_dead_letter_relaxes_dlq_path():
    # dead letters commit in the table's manifest: no quarantine path
    # is needed whether invalid rows are dead-lettered or fail the batch
    valid_cfg(dead_letter_path="", fail_on_dead_letter=True).validate()
    valid_cfg(dead_letter_path="", fail_on_dead_letter=False).validate()


def test_merge_on_read_is_a_valid_strategy():
    valid_cfg(merge_strategy="merge-on-read").validate()
