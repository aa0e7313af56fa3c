"""Round-2 regression tests: contended-commit isolation + attempt
history, manifest-driven LWW ordering, a batch and its dead letters
committing or vanishing together across a crash, and the
footer-estimate gate for filtered batches."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.config import EngineConfig
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.streaming.pipeline import CdcPipeline
from nifi_processors_spark.synth import SynthSpec, generate_events, oracle_apply
from nifi_processors_spark.table import ConcurrentCommitError, TransactionalTable

SPEC = SynthSpec(n_conversations=60, turns_per_conv=6, n_shards=4, seed=17)


def make_table(spark, path, n_buckets=8):
    return TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=n_buckets
    )


def events_df(spark, pdf):
    return spark.createDataFrame(pdf.drop(columns=["arrival_idx"], errors="ignore"))


def test_contended_commit_retries_and_records_attempt_history(
    spark, tmp_table_path
):
    """Two writers race one version: the loser retries against the new
    state, records the attempt in attempt_history, and its cleanup must
    NOT delete the winner's committed files (unique per-attempt dirs)."""
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    t.merge(events_df(spark, ev.iloc[:50]), "s", 0)

    other = TransactionalTable(spark, tmp_table_path)
    orig = t._commit_manifest
    state = {"fired": False}

    def racy(manifest):
        # another writer steals this version just before our link
        if not state["fired"]:
            state["fired"] = True
            other.merge(events_df(spark, ev.iloc[50:60]), "other", 0)
        return orig(manifest)

    t._commit_manifest = racy
    r = t.merge(events_df(spark, ev.iloc[60:120]), "s", 1)
    assert r["commit_attempts"] == 2
    assert len(r["attempt_history"]) == 1
    assert r["attempt_history"][0]["error"] == "ConcurrentCommitError"
    assert r["attempt_history"][0]["backoff_ms"] >= 1

    # all three batches landed; the loser's rmtree touched only its own
    # attempt dir, so every manifest-referenced file is readable
    got = (
        t.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )
    exp = oracle_apply(ev.iloc[:120]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def _unreferenced_files(table):
    """Parquet files under data/ and lineage/ (lineage and dead-letter
    side files) that no manifest names."""
    referenced = set()
    for fn in os.listdir(table._log_dir):
        if fn.startswith("v") and fn.endswith(".json"):
            mv = table.manifest(int(fn[1:-5]))
            referenced.update(f["path"] for f in mv["files"])
            referenced.update(mv.get("lineage_files", []))
            referenced.update(mv.get("dead_letter_files", []))
    found = set()
    for sub in ("data", "lineage"):
        for root, _dirs, files in os.walk(os.path.join(table.path, sub)):
            found.update(
                os.path.relpath(os.path.join(root, fn), table.path)
                for fn in files if fn.endswith(".parquet")
            )
    return found - referenced


def _side_files(batch_id, dead_letters=None):
    """A merge ``lineage_fn`` staging one lineage row and, optionally,
    a dead-letter DataFrame."""
    rows = [{"source_id": "s", "batch_id": batch_id, "shard": 0,
             "first_seq": 0, "last_seq": 0, "n_events": 1,
             "n_dead_letter": 0, "max_lag_ms": 0}]
    return lambda: (rows, dead_letters)


@pytest.mark.parametrize(
    "writer", ["merge", "append", "compact", "migrate_rename_column"]
)
def test_lost_version_race_leaves_no_unreferenced_files(
    spark, tmp_table_path, writer
):
    """Every writer commits through one path. After losing a version
    race, merge and append retry against the new state and succeed;
    compact and migrate (whose rewrite is only valid for the snapshot
    they read) fail with ConcurrentCommitError. No attempt leaves a
    data, lineage or dead-letter file that no manifest references."""
    ev = generate_events(SPEC)
    # merge-on-read deltas give compact and migrate data to rewrite;
    # the lineage rows and dead letters give compact side files to fold
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    def dead(rows):
        return events_df(spark, rows).withColumn("error_reason", F.lit("bad"))

    t.merge(events_df(spark, ev.iloc[:60]), "s", 0,
            lineage_fn=_side_files(0, dead(ev.iloc[:2])))
    t.merge(events_df(spark, ev.iloc[60:120]), "s", 1,
            lineage_fn=_side_files(1, dead(ev.iloc[60:62])))

    other = TransactionalTable(spark, tmp_table_path)
    orig = t._commit_manifest
    fired = []

    def racy(manifest):
        # another writer steals this version just before our link
        if not fired:
            fired.append(True)
            other.merge(events_df(spark, ev.iloc[120:140]), "other", 0)
        return orig(manifest)

    t._commit_manifest = racy
    payload = [f.name for f in TRANSCRIPTS_SCHEMA.fields]
    run = {
        "merge": lambda: t.merge(
            events_df(spark, ev.iloc[140:200]), "s", 2,
            lineage_fn=_side_files(2, dead(ev.iloc[140:142])),
        ),
        "append": lambda: t.append(
            events_df(spark, ev.iloc[140:150]).select(*payload), "s", 2
        ),
        "compact": t.compact,
        "migrate_rename_column": lambda: t.migrate_rename_column(
            "tool", "tool_name"
        ),
    }[writer]
    if writer in ("merge", "append"):
        r = run()
        assert r["commit_attempts"] == 2
        assert [h["error"] for h in r["attempt_history"]] == [
            "ConcurrentCommitError"
        ]
    else:
        with pytest.raises(ConcurrentCommitError):
            run()
    assert fired
    assert _unreferenced_files(t) == set()


def test_custom_lww_cols_order_is_honored(spark, tmp_table_path):
    """A table created with lww_cols=['prio'] must merge by prio (then
    _seq), not by the default ts order."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("prio", T.LongType()),
        ]
    )
    t = TransactionalTable.create(
        spark, tmp_table_path, schema, ["conv_id", "turn_idx"],
        lww_cols=["prio"], n_buckets=4,
    )
    rows = [
        ("I", "c1", 0, "winner-high-prio", 9, 1),
        ("I", "c2", 0, "loser", 1, 2),
    ]
    b0 = spark.createDataFrame(
        rows, "op string, conv_id string, turn_idx int, text string, prio long, seq long"
    )
    t.merge(b0, "s", 0)  # union-agg path (empty table)
    # later-delivered rows with LOWER prio must lose to existing rows
    b1 = spark.createDataFrame(
        [("U", "c1", 0, "stale-low-prio", 3, 3),
         ("U", "c2", 0, "winner", 7, 4)],
        "op string, conv_id string, turn_idx int, text string, prio long, seq long",
    )
    t.merge(b1, "s", 1)  # union-agg against the existing rows
    out = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert out == {"c1": "winner-high-prio", "c2": "winner"}


def test_crash_before_link_hides_batch_and_dead_letters(spark, tmp_path):
    """A micro-batch is ONE commit: a writer dying after its data and
    dead letters are staged but before the manifest link leaves neither
    visible, only unreferenced files the grace-window sweep collects.
    Redelivery makes both visible once; a second redelivery is
    watermark-skipped and dead-letters nothing again."""
    cfg = EngineConfig(
        binlog_dir=str(tmp_path / "binlog"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    p = CdcPipeline(spark, cfg)
    pdf = pd.DataFrame(
        {
            "op": ["I", "I", "I"],
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": pd.array([0, 0, 0], dtype="int32"),
            "role": ["user"] * 3,
            "text": ["ok", None, "ok2"],  # middle row → null_text
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2024-01-01"] * 3).astype("datetime64[us]"),
            "seq": pd.array([1, 2, 3], dtype="int64"),
            "shard": pd.array([0, 0, 0], dtype="int32"),
            "arrival_ts": pd.to_datetime(["2024-01-01"] * 3).astype("datetime64[us]"),
        }
    )
    batch = spark.createDataFrame(pdf)
    t = p.table
    v0 = t.current_version()

    orig = t._commit_manifest

    def crash(manifest):
        assert manifest["dead_letter_files"], "dead letters staged before the link"
        raise RuntimeError("simulated crash before manifest link")

    t._commit_manifest = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.apply_batch(batch, 7)
    t._commit_manifest = orig

    assert t.current_version() == v0
    assert t.read().count() == 0 and p.dead_letter.read().count() == 0
    assert t.watermark(cfg.source_id) is None
    orphans = _unreferenced_files(t)
    assert any(f.startswith("lineage/") for f in orphans), orphans

    # redelivery commits the batch and its dead letters in one version
    stats = p.apply_batch(batch, 7)
    assert not stats["skipped"] and stats["n_dead_letter"] == 1
    assert t.current_version() == v0 + 1
    assert t.read().count() == 2
    dlq = p.dead_letter.read().toPandas()
    assert len(dlq) == 1 and dlq["error_reason"][0] == "null_text"
    assert dlq["conv_id"][0] == "c2" and dlq["batch_id"][0] == 7
    # past the grace window the crash's orphans (dead letters too) go
    assert orphans <= _unreferenced_files(t)
    t.expire_snapshots(keep_last=1, grace_secs=0.0)
    assert _unreferenced_files(t) == set()

    # a second redelivery is skipped and duplicates nothing
    assert p.apply_batch(batch, 7)["skipped"] is True
    assert t.read().count() == 2 and p.dead_letter.read().count() == 1


def test_expire_sweeps_crash_orphans_with_no_manifest_to_expire(spark, tmp_path):
    """A writer dying after staging its data and dead letters, on a log
    of ≤ keep_last versions: expire_snapshots still sweeps every orphan
    past the grace window, expires no manifest, and the table reads."""
    cfg = EngineConfig(
        binlog_dir=str(tmp_path / "binlog"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    p = CdcPipeline(spark, cfg)
    t = p.table
    batch = spark.createDataFrame(generate_events(SynthSpec(
        n_conversations=5, turns_per_conv=2, seed=9
    )).drop(columns=["arrival_idx"]).assign(text=lambda d: d["text"].where(d.index != 0)))
    p.apply_batch(batch, 0)

    def crash(manifest):
        raise RuntimeError("simulated crash before manifest link")

    t._commit_manifest = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.apply_batch(batch, 1)
    del t._commit_manifest
    orphans = _unreferenced_files(t)
    assert any("dead_letter" in f for f in orphans), orphans
    versions = sorted(os.listdir(t._log_dir))

    st = t.expire_snapshots(keep_last=10, grace_secs=0.0)
    assert st["expired_manifests"] == 0 and st["removed_files"] >= len(orphans)
    assert _unreferenced_files(t) == set()
    assert sorted(os.listdir(t._log_dir)) == versions
    assert t.read().count() > 0 and t.read_dead_letters().count() == 1


def test_min_max_key_stats_prune_files_within_bucket(spark, tmp_table_path):
    """Manifest min/max key stats: a small merge whose key range is
    disjoint from a file's range skips that file even when they share
    a bucket — strictly fewer files read/rewritten than the bucket
    holds, and the final state stays correct."""

    import datetime

    def batch(conv, text, seq, ts="2024-01-01"):
        return spark.createDataFrame(
            [("I", conv, 0, "user", text, None,
              datetime.datetime.fromisoformat(ts), seq, 0)],
            "op string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp, seq long, shard int",
        )

    t = make_table(spark, tmp_table_path, n_buckets=1)  # one bucket: all
    t.merge(batch("conv-aaa", "first", 1), "s", 0)
    m1 = t.manifest()
    assert all("min_key" in f for f in m1["files"])  # stats recorded

    # disjoint key range: the aaa file must be pruned, not rewritten
    r2 = t.merge(batch("conv-zzz", "second", 2), "s", 1)
    assert r2["files_rewritten"] == 0
    m2 = t.manifest()
    assert {f["path"] for f in m1["files"]} <= {f["path"] for f in m2["files"]}
    assert len(m2["files"]) > len(m1["files"])  # bucket now has 2+ files

    # overlapping range: only the matching file is rewritten
    r3 = t.merge(batch("conv-aaa", "updated", 3, ts="2024-02-01"), "s", 2)
    assert r3["files_rewritten"] < len(m2["files"])
    out = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert out == {"conv-aaa": "updated", "conv-zzz": "second"}


def test_merge_on_read_replay_matches_oracle(spark, tmp_table_path):
    """merge-on-read: delta-append merges never read or rewrite
    existing files; read-time LWW resolution and post-compaction state
    both equal the sequential oracle (incl. out-of-order + deletes)."""
    ev = generate_events(SPEC)
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=8, merge_strategy="merge-on-read",
    )
    n = len(ev)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        r = t.merge(events_df(spark, ev.iloc[lo:hi]), "s", i)
        assert r["merge_path"] == "delta-append"
        assert r["files_rewritten"] == 0  # zero reads of existing data

    exp = oracle_apply(ev).reset_index(drop=True)

    def state():
        return (
            t.read()
            .orderBy("conv_id", "turn_idx")
            .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(state(), exp, check_dtype=False)  # read-time LWW

    r = t.compact(drop_tombstones=True)  # major compaction
    assert not r.get("skipped")
    m = t.manifest()
    assert not any(f.get("delta") for f in m["files"])  # all base now
    pd.testing.assert_frame_equal(state(), exp, check_dtype=False)
    # post-compaction reads are scan-only again (no read-side aggregate)
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan


def test_put_rate_limit_paces_batches(spark, tmp_path):
    """put_rate_limit_events_per_sec ≙ the producer RateLimit
    property: the sustained apply rate stays at or below the limit."""
    import time

    from nifi_processors_spark.synth import make_fixture

    binlog = str(tmp_path / "binlog")
    ev, _expected, _ = make_fixture(
        binlog,
        SynthSpec(n_conversations=40, turns_per_conv=4, n_shards=2, seed=3,
                  segments_per_shard=1),
    )
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "t"),
        dead_letter_path=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ck"),
        n_buckets=4,
        put_rate_limit_events_per_sec=max(len(ev) // 2, 1),  # force pacing
    )
    p = CdcPipeline(spark, cfg)
    t0 = time.monotonic()
    p.run_once()
    elapsed = time.monotonic() - t0
    n = p.table.read(include_deleted=True, include_internal=True).count()
    assert elapsed >= len(ev) / cfg.put_rate_limit_events_per_sec * 0.8
    assert n > 0  # limit paces, it does not drop


def _write_segment(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("op", pa.string()), ("conv_id", pa.string()),
            ("turn_idx", pa.int32()), ("role", pa.string()),
            ("text", pa.string()), ("tool", pa.string()),
            ("ts", pa.timestamp("us")), ("seq", pa.int64()),
            ("shard", pa.int32()), ("arrival_ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path
    )


def test_latest_initial_position_skips_preexisting(spark, tmp_path):
    """initial_position='latest' ≙ Kinesis LATEST (ACP:85-92): events
    already in the binlog when the stream first starts are skipped;
    events appended afterwards flow. The snapshot persists with the
    checkpoint, so a later run does NOT re-snapshot (no event loss)."""
    from nifi_processors_spark.synth import make_fixture

    binlog = str(tmp_path / "binlog")
    ev, _expected, _ = make_fixture(
        binlog,
        SynthSpec(n_conversations=30, turns_per_conv=4, n_shards=3, seed=9,
                  segments_per_shard=2),
    )
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "t"),
        dead_letter_path=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ck"),
        n_buckets=4,
        initial_position="latest",
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    assert p.table.read().count() == 0  # everything pre-existing skipped

    # events appended AFTER stream start must flow on the same checkpoint
    max_seq = int(ev["seq"].max())
    import os

    new = pd.DataFrame(
        {
            "op": ["I", "I"],
            "conv_id": ["conv-new", "conv-new"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "assistant"],
            "text": ["hello", "world"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2031-01-01", "2031-01-02"]).astype("datetime64[us]"),
            "seq": pd.array([max_seq + 1, max_seq + 2], dtype="int64"),
            "shard": pd.array([0, 0], dtype="int32"),
            "arrival_ts": pd.to_datetime(["2031-01-02"] * 2).astype("datetime64[us]"),
        }
    )
    _write_segment(new, os.path.join(binlog, "seg-9999999999-shard000-new.parquet"))
    p.run_once()
    out = p.table.read().toPandas()
    assert set(out["conv_id"]) == {"conv-new"} and len(out) == 2


def test_footer_estimate_gated_to_bare_scans(spark, tmp_path, tmp_table_path):
    """A filtered view of a big file must NOT inherit the file's footer
    row count: n_upserts reflects actual rows (the size probe ran) and
    the merge stays bucket-pruned instead of taking the all-buckets
    bulk path."""
    ev = generate_events(SPEC)
    big = events_df(spark, ev)
    pq_path = str(tmp_path / "events_pq")
    big.write.parquet(pq_path)

    t = make_table(spark, tmp_table_path, n_buckets=8)
    t.merge(spark.read.parquet(pq_path), "s", 0)

    small = spark.read.parquet(pq_path).filter(F.col("seq") % 101 == 0)
    n_small = small.count()
    assert 0 < n_small < len(ev) // 10
    r = t.merge(small, "s", 1)
    assert r["n_upserts"] == n_small
    assert r["merge_path"] == "union-agg"

    # bare file-backed batches still use the no-job footer shortcut
    assert TransactionalTable._is_bare_scan(spark.read.parquet(pq_path))
    assert TransactionalTable._is_bare_scan(
        spark.read.parquet(pq_path).select("conv_id", "seq")
    )
    assert not TransactionalTable._is_bare_scan(small)


def test_merge_on_read_schema_evolution(spark, tmp_table_path):
    """Delta files carrying an evolved schema read back correctly
    through the MOR LWW resolution (old deltas yield nulls for
    later-added columns)."""
    from pyspark.sql import types as T

    v0 = T.StructType([f for f in TRANSCRIPTS_SCHEMA.fields if f.name != "tool"])
    t = TransactionalTable.create(
        spark, tmp_table_path, v0, KEY_COLS, LWW_COLS, n_buckets=2,
        merge_strategy="merge-on-read",
    )
    b1 = spark.createDataFrame(
        [("I", "c1", 0, "user", "pre", __import__("datetime").datetime(2024, 1, 1), 1, 0)],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, seq long, shard int",
    )
    t.merge(b1, "s", 0)
    b2 = spark.createDataFrame(
        [("I", "c1", 1, "user", "post", "search",
          __import__("datetime").datetime(2024, 1, 2), 2, 0)],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, shard int",
    )
    t.merge(b2, "s", 1)
    out = t.read().orderBy("turn_idx").toPandas()
    assert out["tool"].tolist() == [None, "search"]
    # compaction rewrites both generations under the evolved schema
    t.compact()
    out2 = t.read().orderBy("turn_idx").toPandas()
    assert out2["tool"].tolist() == [None, "search"]


def test_max_bytes_per_trigger_limits_admission(spark, tmp_path):
    from nifi_processors_spark.synth import make_fixture

    binlog = str(tmp_path / "binlog")
    make_fixture(
        binlog,
        SynthSpec(n_conversations=40, turns_per_conv=4, n_shards=2, seed=8,
                  segments_per_shard=3),
    )
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "t"),
        dead_letter_path=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ck"),
        n_buckets=2,
        max_files_per_trigger=100,
        max_bytes_per_trigger=1,  # 1 byte → one file per micro-batch
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    lin = p.table.read_lineage().toPandas()
    assert lin["batch_id"].nunique() >= 6  # byte cap split the drain


def test_crashed_commit_leaves_table_consistent(spark, tmp_table_path):
    """A writer that dies between data write and manifest link leaves
    only an orphan attempt dir: the committed snapshot is untouched,
    reads stay correct, and a retried merge converges."""
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    t.merge(events_df(spark, ev.iloc[:80]), "s", 0)
    v1 = t.current_version()
    before = t.read().count()

    # crash injection: the manifest link itself fails
    orig = t._commit_manifest
    def boom(manifest):
        raise RuntimeError("simulated crash before manifest link")
    t._commit_manifest = boom
    with pytest.raises(RuntimeError):
        t.merge(events_df(spark, ev.iloc[80:160]), "s", 1)
    t._commit_manifest = orig

    assert t.current_version() == v1  # nothing became visible
    assert t.read().count() == before

    # the retried merge (fresh delivery) commits and converges
    t.merge(events_df(spark, ev.iloc[80:]), "s", 1)
    got = (
        t.read().orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, oracle_apply(ev).reset_index(drop=True), check_dtype=False
    )


def test_crashed_compaction_is_invisible(spark, tmp_table_path):
    """compact() dying before its manifest link must not change what
    readers see; a later compact succeeds."""
    ev = generate_events(SPEC)
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    n = len(ev)
    t.merge(events_df(spark, ev.iloc[: n // 2]), "s", 0)
    t.merge(events_df(spark, ev.iloc[n // 2 :]), "s", 1)
    before = t.read().count()
    orig = t._commit_manifest
    t._commit_manifest = lambda m: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        t.compact()
    t._commit_manifest = orig
    assert t.read().count() == before
    assert any(f.get("delta") for f in t.manifest()["files"])  # still MOR
    r = t.compact(drop_tombstones=True)
    assert not r.get("skipped")
    assert t.read().count() == before
