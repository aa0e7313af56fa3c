"""Streaming end-to-end: replay, crash/resume, dead-letter, duplicate
delivery — the FIXTURES.md §3 streaming scenarios."""

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import job_ids
from nifi_processors_spark.config import EngineConfig
from nifi_processors_spark.streaming.pipeline import CdcPipeline
from nifi_processors_spark.synth import SynthSpec, make_fixture

SPEC = SynthSpec(n_conversations=50, turns_per_conv=5, n_shards=3, seed=21,
                 segments_per_shard=4)


_PA_EVENT_SCHEMA = pa.schema(
    [
        ("op", pa.string()), ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us")), ("seq", pa.int64()), ("shard", pa.int32()),
        ("arrival_ts", pa.timestamp("us")),
    ]
)


def write_bad_segment(pdf, path):
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_PA_EVENT_SCHEMA, preserve_index=False),
        path,
    )


def cfg_for(tmp_path, **over):
    base = dict(
        binlog_dir=str(tmp_path / "binlog"),
        table_path=str(tmp_path / "table"),
        dead_letter_path=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
        max_files_per_trigger=3,
    )
    base.update(over)
    return EngineConfig(**base)


def read_final(pipeline):
    return (
        pipeline.table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )


def test_streaming_full_replay_matches_oracle(spark, tmp_path):
    _, expected, paths = make_fixture(str(tmp_path / "binlog"), SPEC)
    p = CdcPipeline(spark, cfg_for(tmp_path))
    p.run_once()
    got = read_final(p)
    pd.testing.assert_frame_equal(got, expected.reset_index(drop=True), check_dtype=False)
    # multiple micro-batches actually ran (admission control worked)
    lineage = p.table.read_lineage().toPandas()
    assert lineage["batch_id"].nunique() >= 3
    # per-shard lineage rows with monotone seq ranges
    assert set(lineage["shard"].dropna()) <= {0, 1, 2}
    assert (lineage["first_seq"] <= lineage["last_seq"]).all()


GRANULARITY_SPEC = SynthSpec(n_conversations=20, turns_per_conv=3, n_shards=3,
                             seed=5, segments_per_shard=2)


def lineage_totals(pipeline):
    """The committed lineage rows, and per batch their event and
    dead-letter sums and seq range over every shard."""
    lin = pipeline.table.read_lineage().toPandas()
    totals = lin.groupby("batch_id").agg(
        n_events=("n_events", "sum"),
        n_dead_letter=("n_dead_letter", "sum"),
        first_seq=("first_seq", "min"),
        last_seq=("last_seq", "max"),
    )
    return lin, totals.to_dict("index")


@pytest.fixture(scope="module")
def shard_run(spark, tmp_path_factory):
    """One replay at the default ``shard`` granularity: its binlog, its
    row count and its per-batch lineage totals."""
    root = tmp_path_factory.mktemp("granularity")
    _, expected, _ = make_fixture(str(root / "binlog"), GRANULARITY_SPEC)
    p = CdcPipeline(spark, cfg_for(root, max_files_per_trigger=2))
    p.run_once()
    lin, totals = lineage_totals(p)
    assert lin["shard"].notna().all() and len(totals) >= 2
    return str(root / "binlog"), len(expected), totals


@pytest.mark.parametrize(
    "over",
    [
        dict(metrics_granularity="stream"),
        dict(metrics_granularity="global"),
        dict(metrics_enabled=False),
    ],
    ids=["stream", "global", "disabled"],
)
def test_metrics_granularity_and_disabled(spark, tmp_path, shard_run, over):
    """``stream`` and ``global`` commit one lineage row per batch with a
    null shard and the ``shard`` run's totals; ``metrics_enabled=False``
    commits no lineage file and builds no emitter."""
    binlog, n_rows, shard_totals = shard_run
    p = CdcPipeline(
        spark, cfg_for(tmp_path, binlog_dir=binlog, max_files_per_trigger=2, **over)
    )
    p.run_once()
    assert p.table.read().count() == n_rows
    if not p.config.metrics_enabled:
        assert p.metrics is None
        assert not p.table.manifest().get("lineage_files")
        return
    assert p.metrics is not None
    lin, totals = lineage_totals(p)
    assert lin["shard"].isna().all()
    assert lin["batch_id"].is_unique
    assert totals == shard_totals


def test_crash_and_resume_from_checkpoint(spark, tmp_path):
    _, expected, paths = make_fixture(str(tmp_path / "binlog"), SPEC)
    cfg = cfg_for(tmp_path, max_files_per_trigger=2)
    p = CdcPipeline(spark, cfg)
    # run phase 1, stop after at least one committed batch ("crash")
    q = p.start(available_now=True)
    deadline = time.time() + 120
    while time.time() < deadline:
        if p.table.watermark(cfg.source_id) is not None:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    mid_version = p.table.current_version()
    assert mid_version >= 1

    # resume with the SAME checkpoint: must finish and converge
    p2 = CdcPipeline(spark, cfg)
    p2.run_once()
    got = read_final(p2)
    pd.testing.assert_frame_equal(got, expected.reset_index(drop=True), check_dtype=False)
    # redelivered boundary batches were skipped or idempotent — no
    # duplicate keys either way
    assert not got.duplicated(["conv_id", "turn_idx"]).any()


def test_replay_after_nuked_checkpoint_reconverges(spark, tmp_path):
    _, expected, _ = make_fixture(str(tmp_path / "binlog"), SPEC)
    cfg = cfg_for(tmp_path)
    p = CdcPipeline(spark, cfg)
    p.run_once()
    # nuke the checkpoint, replay the whole binlog under a new source id
    import shutil

    shutil.rmtree(cfg.checkpoint_dir)
    cfg2 = cfg_for(tmp_path, checkpoint_dir=str(tmp_path / "ckpt2"), source_id="replay2")
    p2 = CdcPipeline(spark, cfg2)
    p2.run_once()
    got = read_final(p2)
    pd.testing.assert_frame_equal(got, expected.reset_index(drop=True), check_dtype=False)


def test_malformed_events_dead_lettered_rest_applied(spark, tmp_path):
    events, expected, paths = make_fixture(str(tmp_path / "binlog"), SPEC)
    # inject a malformed segment mid-stream: null text on an insert,
    # bad op, null conv_id (FIXTURES malformed_mid_batch)
    bad = pd.DataFrame(
        {
            "op": ["I", "X", "I"],
            "conv_id": ["conv-bad", "conv-bad", None],
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user"] * 3,
            "text": [None, "x", "y"],
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2030-01-01"] * 3).astype("datetime64[us]"),
            "seq": pd.array([10_000, 10_001, 10_002], dtype="int64"),
            "shard": pd.array([0, 0, 0], dtype="int32"),
            "arrival_ts": pd.to_datetime(["2030-01-01"] * 3).astype("datetime64[us]"),
        }
    )
    write_bad_segment(
        bad,
        os.path.join(str(tmp_path / "binlog"), "seg-9999999999-shard000-bad.parquet"),
    )
    p = CdcPipeline(spark, cfg_for(tmp_path))
    p.run_once()
    got = read_final(p)
    # the valid rows still match the oracle; none of the bad rows landed
    assert not got["conv_id"].str.startswith("conv-bad").any()
    assert got["conv_id"].notna().all()
    pd.testing.assert_frame_equal(got, expected.reset_index(drop=True), check_dtype=False)
    dlq = p.dead_letter.read().toPandas()
    assert len(dlq) == 3
    assert set(dlq["error_reason"]) == {"null_text", "bad_op", "null_conv_id"}


def test_second_run_once_is_a_noop(spark, tmp_path):
    _, expected, _ = make_fixture(str(tmp_path / "binlog"), SPEC)
    cfg = cfg_for(tmp_path)
    p = CdcPipeline(spark, cfg)
    p.run_once()
    v1 = p.table.current_version()
    p.run_once()  # no new files: empty batches suppressed
    got = read_final(p)
    pd.testing.assert_frame_equal(got, expected.reset_index(drop=True), check_dtype=False)


def test_fail_on_dead_letter_raises(spark, tmp_path):
    make_fixture(str(tmp_path / "binlog"), SPEC)
    bad = pd.DataFrame(
        {
            "op": ["I"], "conv_id": ["c"], "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"], "text": [None], "tool": [None],
            "ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]"),
            "seq": pd.array([1], dtype="int64"), "shard": pd.array([0], dtype="int32"),
            "arrival_ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]"),
        }
    )
    write_bad_segment(
        bad,
        os.path.join(str(tmp_path / "binlog"), "seg-9999999999-shard000-bad.parquet"),
    )
    cfg = cfg_for(tmp_path, dead_letter_path="", fail_on_dead_letter=True)
    p = CdcPipeline(spark, cfg)
    q = p.start(available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)


def _events(spark, rows):
    """(op, conv_id, turn_idx, text, ts, seq) tuples → a batch frame."""
    ts = [pd.Timestamp(r[4]) for r in rows]
    return spark.createDataFrame(pd.DataFrame({
        "op": [r[0] for r in rows],
        "conv_id": [r[1] for r in rows],
        "turn_idx": pd.array([r[2] for r in rows], dtype="int32"),
        "role": ["user"] * len(rows),
        "text": [r[3] for r in rows],
        "tool": [None] * len(rows),
        "ts": pd.Series(ts).astype("datetime64[us]"),
        "seq": pd.array([r[5] for r in rows], dtype="int64"),
        "shard": pd.array([0] * len(rows), dtype="int32"),
        "arrival_ts": pd.Series(ts).astype("datetime64[us]"),
    }))


def test_invalid_row_commits_with_its_batch_in_one_version(spark, tmp_path):
    """One micro-batch is ONE commit: a batch with one invalid row adds
    exactly one version to a populated copy-on-write table, and that
    manifest carries both the batch watermark and the dead-letter file.
    Staging the dead letters costs the one write job the separate
    dead-letter append used to: at most 5 jobs in all."""
    from nifi_processors_spark.synth import generate_events

    ev = generate_events(SynthSpec(n_conversations=50, turns_per_conv=4, seed=3))
    p = CdcPipeline(spark, cfg_for(tmp_path, n_buckets=4))
    p.apply_batch(spark.createDataFrame(ev.drop(columns=["arrival_idx"])), 0)
    v0 = p.table.current_version()
    batch = _events(spark, [
        ("I", "conv-new", 0, "hello", "2030-01-01", 10_000),
        ("I", "conv-new", 1, None, "2030-01-01", 10_001),  # null_text
    ])
    with job_ids(spark, "test-one-commit-per-batch") as jobs:
        stats = p.apply_batch(batch, 1)
    assert stats["n_dead_letter"] == 1 and stats["merge_path"] == "union-agg"
    assert p.table.current_version() == v0 + 1
    m = p.table.manifest()
    assert m["watermarks"][p.config.source_id] == 1
    assert m["dead_letter_files"] and all(
        f.startswith("lineage/commit-") for f in m["dead_letter_files"]
    )
    dlq = p.dead_letter.read().collect()
    assert [(r["conv_id"], r["turn_idx"], r["error_reason"], r["batch_id"])
            for r in dlq] == [("conv-new", 1, "null_text", 1)]
    assert 0 < len(jobs) <= 5, sorted(jobs)


def test_folded_dead_letters_read_back_through_spark(spark, tmp_path, monkeypatch):
    """compact() folds the dead-letter files, a multi-file batch among
    them, into one file with an executor-side Spark job: no dead-letter
    file is read on the driver, and the folded file reads back through
    Spark with the same rows and microsecond timestamps."""
    p = CdcPipeline(spark, cfg_for(tmp_path, n_buckets=2))
    for b in range(3):
        p.apply_batch(_events(spark, [
            ("I", f"c{b}", 0, "ok", f"2030-01-0{b + 1} 12:34:56.{b}23456", 2 * b),
            ("I", f"c{b}", 1, None, f"2031-02-0{b + 1} 01:02:03.{b}54321", 2 * b + 1),
        ]), b)
    p.apply_batch(_events(spark, [
        ("I", "c3", i, None, f"2032-03-04 05:06:07.{i}00001", 10 + i) for i in range(4)
    ]).repartition(3), 3)
    cols = ["conv_id", "turn_idx", "ts", "arrival_ts", "error_reason", "batch_id"]

    def rows():
        return sorted(tuple(r) for r in p.dead_letter.read().select(*cols).collect())

    before = rows()
    dl_files = p.table.manifest()["dead_letter_files"]
    assert len(before) == 7 and len(dl_files) >= 5
    driver_reads = []
    for name in ("read_table", "ParquetFile"):
        orig = getattr(pq, name)
        monkeypatch.setattr(pq, name, lambda src, *a, _o=orig, **k: (
            driver_reads.append(str(src)), _o(src, *a, **k))[1])
    st = p.table.compact()
    monkeypatch.undo()
    assert st["dead_letters_folded"] is True
    assert not [r for r in driver_reads for f in dl_files if r.endswith(f)]
    assert len(p.table.manifest()["dead_letter_files"]) == 1
    assert rows() == before
    assert before[2][2].microsecond == 254321
