"""The fixed cost of one merge: merge-on-read skips the size probe, the
write runs one wave across every core and writes one file per task,
n_upserts and buckets_touched are one latched Observation, and a merge
reads its manifest once."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import job_ids
from nifi_processors_spark.config import EngineConfig
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.streaming.pipeline import CdcPipeline
from nifi_processors_spark.synth import SynthSpec, generate_events
from nifi_processors_spark.table import TransactionalTable, _aligned, _bucket_expr, _span

EVENTS = generate_events(SynthSpec(n_conversations=80, turns_per_conv=4, seed=7)).drop(
    columns=["arrival_idx"]
)


def populated(spark, path, strategy, n_buckets=32):
    t = TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=n_buckets, merge_strategy=strategy,
    )
    t.merge(spark.createDataFrame(EVENTS), "s", 0)
    return t


def updates(n, text="new", dup=False):
    """``n`` updates of existing keys, one day later; ``dup`` repeats
    each key once more with a later seq (duplicate keys in the batch)."""
    upd = EVENTS.drop_duplicates(["conv_id", "turn_idx"]).head(n)
    upd = upd.assign(op="U", text=text, ts=EVENTS["ts"].max() + pd.Timedelta(days=1))
    upd["seq"] += 1_000_000
    if dup:
        again = upd.assign(text=text + "2", seq=upd["seq"] + 1)
        upd = pd.concat([upd, again], ignore_index=True)
    return upd


def test_mor_merge_skips_size_probe_and_counts_every_upsert(spark, tmp_path):
    """A small merge-on-read merge into a populated table is its write
    alone (no size-probe jobs); n_upserts counts every row of the
    batch, duplicate keys included, and only the last version wins."""
    t = populated(spark, str(tmp_path / "t"), "merge-on-read")
    before = {f["path"] for f in t.manifest()["files"]}
    upd = updates(15, dup=True)
    batch = spark.createDataFrame(upd)
    with job_ids(spark, "mor-merge") as jobs:
        r = t.merge(batch, "s", 1)
    assert r["merge_path"] == "delta-append"
    assert 0 < len(jobs) <= 2, sorted(jobs)
    assert r["n_upserts"] == len(upd) == 30
    added = [f for f in t.manifest()["files"] if f["path"] not in before]
    assert r["files_added"] == len(added) <= r["merge_partitions"]
    batch_buckets = {
        row[0] for row in batch.select(_bucket_expr(t.manifest())).distinct().collect()
    }
    assert r["buckets_touched"] == len(batch_buckets)
    assert batch_buckets <= {b for f in added for b in _span(f)}
    out = t.read().filter(F.col("text").startswith("new")).toPandas()
    assert len(out) == 15 and (out["text"] == "new2").all()


def test_mor_apply_batch_with_invalid_row_job_budget(spark, tmp_path):
    """Through the pipeline, a merge-on-read batch with one invalid row
    costs its write plus the dead-letter write: at most 3 jobs."""
    cfg = EngineConfig(
        binlog_dir=str(tmp_path / "binlog"), table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=32,
        merge_strategy="merge-on-read",
    )
    p = CdcPipeline(spark, cfg)
    p.apply_batch(spark.createDataFrame(EVENTS), 0)
    upd = updates(10)
    upd.loc[upd.index[0], "text"] = None  # null_text → dead letter
    with job_ids(spark, "mor-apply-batch") as jobs:
        st = p.apply_batch(spark.createDataFrame(upd), 1)
    assert st["n_dead_letter"] == 1 and st["n_upserts"] == 9
    assert 0 < len(jobs) <= 3, sorted(jobs)


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_all_invalid_batch_commits_zero_upserts(spark, tmp_path, strategy):
    """Every row dead-lettered: the merge's count latches no row of
    upserts, and the batch still commits with n_upserts == 0."""
    cfg = EngineConfig(
        binlog_dir=str(tmp_path / "binlog"), table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=8, merge_strategy=strategy,
    )
    p = CdcPipeline(spark, cfg)
    p.apply_batch(spark.createDataFrame(EVENTS), 0)
    v0 = p.table.current_version()
    st = p.apply_batch(spark.createDataFrame(updates(5).assign(text=None)), 1)
    assert st["n_upserts"] == 0 and st["n_dead_letter"] == 5
    assert p.table.current_version() == v0 + 1
    assert p.table.manifest()["watermarks"][cfg.source_id] == 1


def test_trickle_cow_merge_writes_in_one_wave(spark, tmp_path):
    """A small copy-on-write batch into 32 buckets writes from one
    partition per core (capped by the buckets it touches), not from a
    single task, and each task writes one file, not one per bucket."""
    t = populated(spark, str(tmp_path / "t"), "copy-on-write")
    r = t.merge(spark.createDataFrame(updates(20)), "s", 1)
    cores = spark.sparkContext.defaultParallelism
    assert r["merge_path"] == "union-agg" and r["n_upserts"] == 20
    assert min(r["buckets_touched"], cores) <= r["merge_partitions"] <= cores
    assert 0 < r["files_added"] <= r["merge_partitions"]


@pytest.mark.parametrize("path", ["probed", "bulk", "merge-on-read"])
def test_buckets_touched_is_exact_on_every_path(spark, tmp_path, path):
    """buckets_touched is the number of distinct buckets of the batch on
    the probed and bulk copy-on-write paths and on merge-on-read."""
    strategy = "merge-on-read" if path == "merge-on-read" else "copy-on-write"
    t = populated(spark, str(tmp_path / "t"), strategy)
    batch = spark.createDataFrame(updates(12))
    r = t.merge(batch, "s", 1, upper_rows_hint=10**9 if path == "bulk" else None)
    assert r["buckets_touched"] == batch.select(_bucket_expr(t.manifest())).distinct().count()


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_merge_reads_its_manifest_once(spark, tmp_path, monkeypatch, strategy):
    """One merge plans from one snapshot: the bucket hash and the
    touched-file scan use the manifest the merge read, not a new read."""
    t = populated(spark, str(tmp_path / "t"), strategy, n_buckets=8)
    reads = []
    orig = TransactionalTable.manifest
    monkeypatch.setattr(
        TransactionalTable, "manifest",
        lambda self, *a, **k: (reads.append(a), orig(self, *a, **k))[1],
    )
    r = t.merge(spark.createDataFrame(updates(10)), "s", 1)
    monkeypatch.undo()
    assert not r["skipped"]
    assert len(reads) == 1


def test_aligned_casts_only_differing_types(spark):
    """A column already of its target type is a bare reference (no
    CAST in the plan); a widened column and a missing one are cast."""
    names = TRANSCRIPTS_SCHEMA.names
    df = spark.createDataFrame(EVENTS.head(3)[names], schema=TRANSCRIPTS_SCHEMA)
    plan = lambda cols: df.select(*cols)._jdf.queryExecution().analyzed().toString()
    assert "cast(" not in plan(_aligned(df, TRANSCRIPTS_SCHEMA)).lower()
    wide = T.StructType([
        T.StructField(f.name, T.LongType() if f.name == "turn_idx" else f.dataType)
        for f in TRANSCRIPTS_SCHEMA.fields
    ]).add("extra", T.StringType())
    cols = _aligned(df, wide)
    p = plan(cols).lower()
    assert "cast(turn_idx" in p and "cast(null as string) as extra" in p
    assert p.count("cast(") == 2
    assert df.select(*cols).columns == wide.names
