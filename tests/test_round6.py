"""Round-6 optimization-round regression tests.

1. Tombstone-aware major compaction (round-5 VERDICT #1): manifests
   record a per-file ``tombstones`` flag at write time, and
   ``compact(drop_tombstones=True)`` rewrites only buckets whose files
   have deltas OR may hold tombstones — an untouched base-only bucket's
   file survives byte-identical.
2. Merge-on-read schema migration (round-5 ADVICE high): migrating a
   MOR table with un-compacted deltas LWW-resolves winners during the
   rewrite (keeping tombstones), so subsequent reads neither duplicate
   key versions nor resurrect tombstoned rows.
"""

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nifi_processors_spark.config import EngineConfig
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.streaming.pipeline import CdcPipeline
from nifi_processors_spark.table import TransactionalTable, _span


def _ev(conv, turn, op, text, ts, seq):
    return {
        "op": op,
        "conv_id": conv,
        "turn_idx": turn,
        "role": "user",
        "text": text,
        "tool": None,
        "ts": pd.Timestamp(ts),
        "seq": seq,
        "shard": 0,
        "arrival_ts": pd.Timestamp(ts),
    }


def _batch(spark, rows):
    pdf = pd.DataFrame(rows)
    for c in ("ts", "arrival_ts"):
        pdf[c] = pdf[c].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


def _file_md5(path):
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def test_merge_records_tombstone_flags(spark, tmp_table_path):
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=4
    )
    rows = [_ev(f"c{i}", 0, "I", f"v{i}", "2024-01-01 00:00:00", i) for i in range(8)]
    rows.append(_ev("c0", 0, "D", None, "2024-01-01 00:01:00", 100))
    t.merge(_batch(spark, rows), "s", 0)
    files = t.manifest()["files"]
    assert files, "merge wrote no files"
    # every entry carries the flag (footer stats exist for _deleted)
    assert all("tombstones" in f for f in files)
    flagged = [f for f in files if f["tombstones"]]
    assert len(flagged) >= 1
    # the tombstone lives only in the file holding c0's bucket
    assert len(flagged) < len(files)


def test_compact_drop_tombstones_skips_clean_buckets(spark, tmp_table_path):
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=4
    )
    rows = [_ev(f"c{i}", 0, "I", f"v{i}", "2024-01-01 00:00:00", i) for i in range(8)]
    rows.append(_ev("c0", 0, "D", None, "2024-01-01 00:01:00", 100))
    t.merge(_batch(spark, rows), "s", 0)
    m = t.manifest()
    clean = [f for f in m["files"] if not f["tombstones"]]
    dirty = [f for f in m["files"] if f["tombstones"]]
    assert clean and dirty
    clean_paths = {f["path"] for f in clean}
    before_md5 = {
        f["path"]: _file_md5(os.path.join(tmp_table_path, f["path"]))
        for f in clean
    }

    st = t.compact(drop_tombstones=True)
    assert not st.get("skipped")
    # only the buckets of tombstone-bearing files were rewritten
    assert st["compacted_buckets"] == len({b for f in dirty for b in _span(f)})
    after = t.manifest()["files"]
    surviving = {f["path"] for f in after}
    # clean base files survive with identical bytes (not rewritten)
    assert clean_paths <= surviving
    for p in clean_paths:
        assert _file_md5(os.path.join(tmp_table_path, p)) == before_md5[p]
    # dirty files are gone from the manifest
    assert not ({f["path"] for f in dirty} & surviving)
    # tombstone expired; live rows intact
    got = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert "c0" not in got
    assert got == {f"c{i}": f"v{i}" for i in range(1, 8)}
    # a second pass has nothing left to do — pruning converges
    st2 = t.compact(drop_tombstones=True)
    assert st2.get("skipped"), st2


def test_compact_still_folds_deltas_without_tombstones(spark, tmp_table_path):
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    t.merge(_batch(spark, [_ev("a", 0, "I", "v1", "2024-01-01", 1)]), "s", 0)
    t.merge(_batch(spark, [_ev("a", 0, "U", "v2", "2024-01-02", 2)]), "s", 1)
    st = t.compact(drop_tombstones=True)
    assert not st.get("skipped")
    m = t.manifest()
    assert not any(f.get("delta") for f in m["files"])
    got = t.read().collect()
    assert len(got) == 1 and got[0]["text"] == "v2"


_PA_EVENT_SCHEMA = pa.schema(
    [
        ("op", pa.string()), ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us")), ("seq", pa.int64()), ("shard", pa.int32()),
        ("arrival_ts", pa.timestamp("us")),
    ]
)


def test_dlq_maintenance_follows_configured_cadence(spark, tmp_path):
    """Round-5 VERDICT #5 (dead-letter maintenance): dead letters ride
    each batch's manifest, and the table's own maintenance pass folds
    them on the configured cadence — a poison-heavy stream keeps every
    dead letter while its manifest lists at most one maintenance
    period of dead-letter files, and its manifest count stays within
    one period of keep_last."""
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    n_seg = 14
    for i in range(n_seg):
        pdf = pd.DataFrame(
            {
                "op": ["I"],
                "conv_id": [f"conv-{i}"],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": [None],  # null text on insert → DLQ
                "tool": [None],
                "ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]"),
                "seq": pd.array([i], dtype="int64"),
                "shard": pd.array([0], dtype="int32"),
                "arrival_ts": pd.to_datetime(["2030-01-01"]).astype(
                    "datetime64[us]"
                ),
            }
        )
        pq.write_table(
            pa.Table.from_pandas(
                pdf, schema=_PA_EVENT_SCHEMA, preserve_index=False
            ),
            os.path.join(binlog, f"seg-{1000000000 + i}-shard000.parquet"),
        )
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,  # one poison segment per micro-batch
        maintenance_every_n_batches=4,
        maintenance_keep_last=4,
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    dlq = p.dead_letter.read().toPandas()
    assert len(dlq) == n_seg
    assert sorted(dlq["conv_id"]) == sorted(f"conv-{i}" for i in range(n_seg))
    assert set(dlq["error_reason"]) == {"null_text"}
    # folded on every pass: never more than one period's worth
    dl_files = p.table.manifest()["dead_letter_files"]
    assert 1 <= len(dl_files) <= cfg.maintenance_every_n_batches, dl_files
    manifests = len(
        [
            f
            for f in os.listdir(os.path.join(str(tmp_path / "table"), "_log"))
            if f.startswith("v") and f.endswith(".json")
        ]
    )
    # steady state ∈ [keep_last, keep_last + cadence] (+compaction
    # commits between passes); without maintenance it would be n_seg + 1
    assert manifests <= cfg.maintenance_keep_last + cfg.maintenance_every_n_batches + 2, (
        manifests
    )


def test_migrate_mor_with_uncompacted_deltas_lww_resolves(spark, tmp_table_path):
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    t.merge(
        _batch(spark, [
            _ev("a", 0, "I", "v1", "2024-01-01 00:00:00", 1),
            _ev("b", 0, "I", "w1", "2024-01-01 00:00:00", 2),
        ]),
        "s", 0,
    )
    t.merge(
        _batch(spark, [
            _ev("a", 0, "U", "v2", "2024-01-02 00:00:00", 3),
            _ev("b", 0, "D", None, "2024-01-02 00:00:00", 4),
        ]),
        "s", 1,
    )
    assert any(f.get("delta") for f in t.manifest()["files"])

    st = t.migrate_rename_column("role", "speaker")
    assert not st.get("skipped")
    # the migration folded deltas: rewritten files are base files
    m = t.manifest()
    assert not any(f.get("delta") for f in m["files"])

    rows = t.read().collect()
    # exactly one live row: key a at its LWW winner; b stays tombstoned
    assert len(rows) == 1, rows
    assert rows[0]["conv_id"] == "a" and rows[0]["text"] == "v2"
    assert rows[0]["speaker"] == "user"
    # the tombstone survived the migration (expiry is compact's job):
    # include_deleted still shows b as a delete winner
    dead = {
        r["conv_id"]
        for r in t.read(include_deleted=True, include_internal=True)
        .filter("_deleted")
        .collect()
    }
    assert dead == {"b"}
