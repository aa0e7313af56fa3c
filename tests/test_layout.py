"""The data-file layout: a file holds the rows of one write task, a
contiguous bucket range recorded as ``min_bucket``/``max_bucket``
(``_span``). Compaction rewrites closed groups of overlapping spans, and
entries of the older one-file-per-bucket form (``{"bucket": b}``) keep
working beside span entries."""

import ast
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nifi_processors_spark.plans.explain import count_exchanges
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.synth import SynthSpec, generate_events, oracle_apply
from nifi_processors_spark.table import TransactionalTable, _bucket_expr, _span

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVENTS = generate_events(SynthSpec(n_conversations=40, turns_per_conv=4, seed=5)).drop(
    columns=["arrival_idx"]
)


def fixed_parts(monkeypatch, parts):
    monkeypatch.setattr(TransactionalTable, "_write_parts", lambda self, rows, buckets: parts)


def updates_in(spark, t, buckets):
    """Updates, one day later, of every held key hashing into
    ``buckets`` (pandas)."""
    upd = EVENTS.drop_duplicates(["conv_id", "turn_idx"]).assign(
        op="U", text="updated", ts=EVENTS["ts"].max() + pd.Timedelta(days=1)
    )
    upd["seq"] += 1_000_000
    df = spark.createDataFrame(upd).withColumn("_b", _bucket_expr(t.manifest()))
    out = df.filter(F.col("_b").isin(*buckets)).drop("_b").toPandas()
    assert len(out) > 0
    return out


def assert_state(t, events):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = t.read().orderBy("conv_id", "turn_idx").toPandas()[cols]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), oracle_apply(events).reset_index(drop=True),
        check_dtype=False,
    )


def test_compaction_rewrites_every_base_file_a_delta_straddles(spark, tmp_path, monkeypatch):
    """A delta spanning buckets 1-2 overlaps the base files [0, 1] and
    [2, 3]: compaction rewrites both (and leaves [4, 5], [6, 7]), and the
    base-only read holds one row per key, equal to the oracle."""
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=8, merge_strategy="merge-on-read",
    )
    fixed_parts(monkeypatch, 4)
    t.merge(spark.createDataFrame(EVENTS), "s", 0)
    t.compact()
    base = {tuple(_span(f)): f["path"] for f in t.manifest()["files"]}
    assert sorted(base) == [(0, 1), (2, 3), (4, 5), (6, 7)]

    fixed_parts(monkeypatch, 1)
    upd = updates_in(spark, t, [1, 2])
    before = {f["path"] for f in t.manifest()["files"]}
    t.merge(spark.createDataFrame(upd), "s", 1)
    (delta,) = [f for f in t.manifest()["files"] if f["path"] not in before]
    assert delta["delta"] and tuple(_span(delta)) == (1, 2)

    monkeypatch.undo()
    st = t.compact()
    files = t.manifest()["files"]
    paths = {f["path"] for f in files}
    assert base[(0, 1)] not in paths and base[(2, 3)] not in paths
    assert {base[(4, 5)], base[(6, 7)]} <= paths
    assert st["compacted_buckets"] == 4 and st["files_before"] == 3
    assert not any(f.get("delta") for f in files)
    per_key = t.read(include_deleted=True).groupBy(*KEY_COLS).count()
    assert per_key.filter("count > 1").count() == 0
    assert_state(t, pd.concat([EVENTS, upd], ignore_index=True))


def to_legacy(t):
    """Rewrite the current version's entries in the one-file-per-bucket
    form: ``{"bucket": b}``, the file under a ``_bucket=<b>`` dir and
    without a stored ``_bucket`` column."""
    m = t.manifest()
    for f in m["files"]:
        (b,) = _span(f)
        src = os.path.join(t.path, f["path"])
        rel = os.path.join(os.path.dirname(f["path"]), f"_bucket={b}", os.path.basename(src))
        os.makedirs(os.path.dirname(os.path.join(t.path, rel)))
        pq.write_table(
            pq.read_table(src).drop_columns(["_bucket"]), os.path.join(t.path, rel),
            coerce_timestamps="us",
        )
        os.remove(src)
        del f["min_bucket"], f["max_bucket"]
        f.update(path=rel, bucket=b)
    with open(t._manifest_path(m["version"]), "w") as out:
        json.dump(m, out)


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_legacy_one_bucket_entries_keep_working(spark, tmp_path, monkeypatch, strategy):
    """merge, read_raw(buckets=), compact and expire_snapshots work on a
    table whose entries mix the legacy form and spans."""
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy=strategy,
    )
    with monkeypatch.context() as mp:
        fixed_parts(mp, 4)  # one bucket per file
        t.merge(spark.createDataFrame(EVENTS), "s", 0)
    to_legacy(t)
    assert all("bucket" in f for f in t.manifest()["files"])
    assert_state(t, EVENTS)

    upd = updates_in(spark, t, [1])
    t.merge(spark.createDataFrame(upd), "s", 1)
    files = t.manifest()["files"]
    assert any("bucket" in f for f in files) and any("min_bucket" in f for f in files)
    events = pd.concat([EVENTS, upd], ignore_index=True)
    assert_state(t, events)

    want = {os.path.basename(f["path"]) for f in files if 2 in _span(f)}
    got = {os.path.basename(p) for p in t.read_raw(buckets=[2]).inputFiles()}
    assert want and got == want

    assert not t.compact(drop_tombstones=strategy == "copy-on-write").get("skipped")
    assert_state(t, events)
    assert t.expire_snapshots(keep_last=1, grace_secs=0)["removed_files"] > 0
    assert_state(t, events)


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_every_rewrite_moves_rows_over_one_exchange(spark, tmp_path, monkeypatch, strategy):
    """The frame each write receives — a merge's over touched files (or
    its delta-append), a compaction's and a migration's — plans one
    shuffle exchange, and the table still equals the oracle."""
    exchanges = {}  # version -> shuffle exchanges of its write
    write = TransactionalTable._write_bucketed

    def counted(self, df, version, *args, **kwargs):
        exchanges[version] = count_exchanges(df)
        return write(self, df, version, *args, **kwargs)

    monkeypatch.setattr(TransactionalTable, "_write_bucketed", counted)
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=8, merge_strategy=strategy,
    )
    t.merge(spark.createDataFrame(EVENTS), "s", 0)
    upd = updates_in(spark, t, [1, 2])
    rewritten = t.merge(spark.createDataFrame(upd), "s", 1)["files_rewritten"]
    assert (rewritten > 0) == (strategy == "copy-on-write")
    assert t.compact(drop_tombstones=True)["files_after"] > 0
    t.migrate_rename_column("text", "body")
    assert exchanges == {1: 1, 2: 1, 3: 1, 4: 1}
    got = t.read().withColumnRenamed("body", "text")
    pd.testing.assert_frame_equal(
        got.orderBy(*KEY_COLS).toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        oracle_apply(pd.concat([EVENTS, upd], ignore_index=True)).reset_index(drop=True),
        check_dtype=False,
    )


def test_one_rewrite_path_and_one_footer_reader():
    """Merge, compact and migrate resolve through ``_resolved``: it
    alone clusters rows into write tasks and picks ``_part``-keyed LWW
    winners. Only ``_write_bucketed`` reads footer statistics."""
    tree = ast.parse(open(os.path.join(REPO, "nifi_processors_spark/table.py")).read())
    calls = {}  # callee -> names of the functions holding its calls
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                    name = node.func.id
                    if name != "lww_winners" or "'_part'" in ast.unparse(node):
                        calls.setdefault(name, set()).add(fn.name)
    assert calls["_clustered"] == {"_resolved"}
    assert calls["lww_winners"] == {"_resolved"}
    assert calls["_column_stats"] == {"_write_bucketed"}
