"""Round-3 regression tests: bounded query caches, discriminating
oracles (nonzero rows), and ADVICE fixes."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_processors_spark.plans import sql_queries  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _n_cached(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_staged_query_caches_are_bounded_and_releasable(spark):
    """Round-2 VERDICT "What's wrong" #1: the MinHash/IVF staged
    queries persisted intermediates and never released them, so a
    long-lived session accumulated cached blocks per invocation. Now
    each staged query releases the previous pins, and release_caches()
    drains to zero."""
    sql_queries.release_caches()
    spark.catalog.clearCache()
    base = _n_cached(spark)

    mh = sql_queries.QUERIES["doc_dedup_minhash_lsh"][0]
    ivf = sql_queries.QUERIES["emb_ivf_ann_topk"][0]
    high = base
    for fn in (mh, ivf, mh, ivf):
        fn(spark, SF_DIR).collect()
        high = max(high, _n_cached(spark))
    # at most ONE query's intermediates pinned at any time (MinHash
    # pins 2: shingles + signatures) — not 2 per invocation forever
    assert high <= base + 2

    sql_queries.release_caches()
    assert _n_cached(spark) == base


def test_null_key_upsert_converges_despite_file_pruning(spark, tmp_table_path):
    """ADVICE r2 (medium): min/max key-stat pruning excluded nulls on
    both sides while the merge join is null-safe — a file holding a
    null-key row whose non-null range was disjoint from the batch
    range got pruned, so a null-key upsert inserted a SECOND live row
    for the same key. Fixed two ways: footer stats with null_count>0
    are refused, and a bucket whose batch slice has null keys records
    no range."""
    import pandas as pd

    from nifi_processors_spark.schema import (
        KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.table import TransactionalTable

    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=1,
    )

    def batch(rows):
        pdf = pd.DataFrame(
            rows,
            columns=["op", "conv_id", "turn_idx", "role", "text", "tool",
                     "ts", "seq", "shard", "arrival_ts"],
        )
        for c in ("ts", "arrival_ts"):
            pdf[c] = pd.to_datetime(pdf[c])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["shard"] = pdf["shard"].astype("int32")
        return spark.createDataFrame(pdf)

    # batch 1: a null-key row co-located with keys in the c* range
    t.merge(batch([
        ("I", "c500", 0, "user", "old-c500", None,
         "2024-01-01 00:00:01", 1, 0, "2024-01-01 00:00:01"),
        ("I", None, 0, "user", "old-null", None,
         "2024-01-01 00:00:02", 2, 0, "2024-01-01 00:00:02"),
    ]), "s", 0)
    # batch 2: null-key upsert + keys DISJOINT from the c* range (the
    # old bucket range [a000, a999] pruned batch-1's file)
    t.merge(batch([
        ("U", "a000", 0, "user", "new-a000", None,
         "2024-01-01 00:01:00", 3, 0, "2024-01-01 00:01:00"),
        ("U", None, 0, "user", "new-null", None,
         "2024-01-01 00:01:01", 4, 0, "2024-01-01 00:01:01"),
    ]), "s", 1)

    final = t.read().filter("conv_id IS NULL").collect()
    assert len(final) == 1, f"expected 1 live null-key row, got {final}"
    assert final[0]["text"] == "new-null"


def test_progress_fold_is_timestamp_resolution_independent():
    """ADVICE r2 (low): the stateful operator assumed Arrow hands
    datetime64[ns]; under pandas 2.x us-resolution frames the epoch
    conversion was off by 1000×. The fold must yield identical µs for
    ns- and µs-resolution inputs."""
    import pandas as pd

    from nifi_processors_spark.streaming.stateful import _fold_progress

    ts = pd.Timestamp("2024-03-01 12:00:00.123456")
    for unit in ("ns", "us"):
        pdf = pd.DataFrame(
            {"seq": [7], "ts": pd.Series([ts]).astype(f"datetime64[{unit}]")}
        )
        n, mx, ts_us = _fold_progress(0, None, None, pdf)
        assert (n, mx) == (1, 7)
        assert ts_us == ts.value // 1000, unit


def test_latest_refuses_fresh_snapshot_on_existing_checkpoint(
    spark, tmp_path
):
    """ADVICE r2 (low): flipping earliest→latest on a checkpoint that
    already committed offsets (or restoring one without the snapshot
    sidecar) silently skipped events delivered while the stream was
    down. The source must refuse loudly instead."""
    import pytest

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.sources.binlog import read_binlog_stream

    binlog = tmp_path / "binlog"
    ckpt = tmp_path / "ckpt"
    binlog.mkdir()
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text("{}")
    cfg = EngineConfig(
        binlog_dir=str(binlog),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(ckpt),
        source_id="s",
        initial_position="latest",
    )
    with pytest.raises(RuntimeError, match="refusing"):
        read_binlog_stream(spark, cfg)


def test_hint_picks_bulk_path_and_upserts_stay_exact(spark, tmp_table_path):
    """upper_rows_hint (raw pre-validation rows) picks the bulk path —
    every bucket's files are rewritten, no size probe prunes them — but
    n_upserts is always the exact count of the batch's upsert rows,
    never the hint's upper bound."""
    from nifi_processors_spark.schema import (
        KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.synth import SynthSpec, generate_events
    from nifi_processors_spark.table import TransactionalTable

    ev = generate_events(
        SynthSpec(n_conversations=40, turns_per_conv=4, n_shards=2, seed=3)
    ).drop(columns=["arrival_idx"])
    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4,
    )
    st = t.merge(spark.createDataFrame(ev), "s", 0, upper_rows_hint=1_000_000)
    assert st["n_upserts"] == len(ev)
    n_files = len(t.manifest()["files"])
    one = spark.createDataFrame(ev.tail(1))
    st1 = t.merge(one, "s", 1, upper_rows_hint=1_000_000)
    assert st1["files_rewritten"] == n_files > 1  # bulk: no pruning
    assert st1["n_upserts"] == 1
    st2 = t.merge(one, "s", 2)
    assert st2["files_rewritten"] == 1  # probed: one bucket's file
    assert st2["n_upserts"] == 1


def test_media_codecs_roundtrip_and_detect_layout():
    """Real (library-free) codecs: PPM/BMP/WAV roundtrip exactly, and
    the BMP decoder undoes BGR + bottom-up + row padding (an image
    asymmetric in both axes distinguishes every layout mistake)."""
    import numpy as np

    from nifi_processors_spark.operators.multimodal import (
        _synth_audio, _synth_image, decode_bmp, decode_ppm, decode_wav,
        encode_bmp, encode_ppm, encode_wav,
    )

    for d in (0, 2, 6, 10, 98, 498):
        img = _synth_image(d)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    for d in (1, 3, 63, 499):
        s = _synth_audio(d)
        out, rate = decode_wav(encode_wav(s, 8000))
        assert rate == 8000 and np.array_equal(out, s)

    # an odd-width image forces nonzero BMP row padding; asymmetric
    # content means flipped rows / kept-BGR would differ at [0,0]
    img = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
    assert (5 * 3) % 4 != 0
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def _mk_events_df(spark, rows, turn_type="int"):
    import pandas as pd
    from pyspark.sql import types as T

    from nifi_processors_spark.schema import CHANGE_EVENTS_SCHEMA

    fields = []
    for f in CHANGE_EVENTS_SCHEMA.fields:
        if f.name == "turn_idx":
            dt = {"int": T.IntegerType(), "long": T.LongType(),
                  "string": T.StringType()}[turn_type]
            fields.append(T.StructField("turn_idx", dt, True))
        else:
            fields.append(f)
    pdf = pd.DataFrame(
        rows,
        columns=["op", "conv_id", "turn_idx", "role", "text", "tool",
                 "ts", "seq", "shard", "arrival_ts"],
    )
    for c in ("ts", "arrival_ts"):
        pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    return spark.createDataFrame(pdf, T.StructType(fields))


def test_type_widening_schema_evolution(spark, tmp_table_path):
    """Round-2 VERDICT "What's wrong" #4: a batch that WIDENED a type
    (int→long) kept the base type and was silently down-cast. Now the
    table widens (turn_idx int→long, values beyond int32 survive
    exactly), keys keep their bucket placement (pre-widen rows stay
    updatable), and narrowing/incompatible changes raise loudly."""
    import pytest

    from nifi_processors_spark.schema import (
        KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA, SchemaEvolutionError,
    )
    from nifi_processors_spark.table import TransactionalTable

    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=8,
    )
    t.merge(_mk_events_df(spark, [
        ("I", "c1", 0, "user", "v1", None,
         "2024-01-01 00:00:01", 1, 0, "2024-01-01 00:00:01"),
    ]), "s", 0)

    # mid-stream widening: turn_idx arrives as long, one value > 2^31
    big = 2**40
    t.merge(_mk_events_df(spark, [
        ("I", "c2", big, "user", "wide", None,
         "2024-01-01 00:01:00", 2, 0, "2024-01-01 00:01:00"),
        ("U", "c1", 0, "user", "v2", None,
         "2024-01-01 00:01:01", 3, 0, "2024-01-01 00:01:01"),
    ], turn_type="long"), "s", 1)

    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().collect()
    }
    assert got == {("c1", 0): "v2", ("c2", big): "wide"}
    fields = {f.name: f.dataType.typeName() for f in t.table_schema().fields}
    assert fields["turn_idx"] == "long"

    # post-widen upsert of the ORIGINAL key still converges (bucket
    # placement unchanged by the widening)
    t.merge(_mk_events_df(spark, [
        ("U", "c1", 0, "user", "v3", None,
         "2024-01-01 00:02:00", 4, 0, "2024-01-01 00:02:00"),
    ], turn_type="long"), "s", 2)
    rows = t.read().filter("conv_id = 'c1'").collect()
    assert len(rows) == 1 and rows[0]["text"] == "v3"

    # incompatible change rejects loudly instead of silently casting
    with pytest.raises(SchemaEvolutionError):
        t.merge(_mk_events_df(spark, [
            ("I", "c3", "oops", "user", "bad", None,
             "2024-01-01 00:03:00", 5, 0, "2024-01-01 00:03:00"),
        ], turn_type="string"), "s", 3)


def test_lineage_folding_and_snapshot_expiry(spark, tmp_table_path):
    """Round-2 VERDICT "What's wrong" #5: every commit carried the
    full lineage_files list forward and manifests never expired —
    linear growth under fine-grained streaming. compact() now folds
    lineage into one file and expire_snapshots() bounds manifests +
    on-disk files while preserving reads in the retained window."""
    import os

    from nifi_processors_spark.schema import (
        KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.table import TransactionalTable

    t = TransactionalTable.create(
        spark, tmp_table_path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    n_batches = 8
    for i in range(n_batches):
        t.merge(
            _mk_events_df(spark, [
                ("I", f"c{i}", 0, "user", f"t{i}", None,
                 "2024-01-01 00:00:01", i, 0, "2024-01-01 00:00:01"),
            ]),
            "s", i,
            lineage_fn=lambda i=i: ([{
                "source_id": "s", "batch_id": i, "shard": 0,
                "first_seq": i, "last_seq": i, "n_events": 1,
                "n_dead_letter": 0, "max_lag_ms": 0,
            }], None),
        )
    assert len(t.manifest()["lineage_files"]) == n_batches

    st = t.compact()
    assert st["lineage_folded"] is True
    assert len(t.manifest()["lineage_files"]) == 1
    assert t.read_lineage().count() == n_batches  # rows survive folding

    # grace_secs=0: single-writer test wants immediate collection (the
    # production default keeps young unreferenced files to protect
    # concurrently staged commits — covered in test_round4)
    st = t.expire_snapshots(keep_last=2, grace_secs=0.0)
    # v0 create + 8 merges + 1 compact = 10 manifests → keep 2, drop 8
    assert st["expired_manifests"] == n_batches
    # only retained manifests remain on disk
    logs = [f for f in os.listdir(os.path.join(tmp_table_path, "_log"))]
    assert len(logs) == 2
    # every on-disk parquet is referenced by SOME retained manifest
    # (the older retained snapshot keeps its pre-compaction files for
    # time travel within the window)
    referenced = set()
    for v in st["retained_versions"]:
        mv = t.manifest(v)
        referenced |= {f["path"] for f in mv["files"]}
        referenced |= set(mv["lineage_files"])
    on_disk = set()
    for sub in ("data", "lineage"):
        base = os.path.join(tmp_table_path, sub)
        for root, _d, files in os.walk(base):
            for fn in files:
                if fn.endswith(".parquet"):
                    on_disk.add(
                        os.path.relpath(os.path.join(root, fn), tmp_table_path)
                    )
    assert referenced == on_disk
    # the table still reads correctly after expiry
    got = sorted((r["conv_id"], r["text"]) for r in t.read().collect())
    assert got == [(f"c{i}", f"t{i}") for i in range(n_batches)]
    assert t.read_lineage().count() == n_batches


def test_continuous_trigger_processing_time(spark, tmp_path):
    """Round-2 VERDICT #8: start(available_now=False) — the
    processing-time trigger path — was untested. Drive two triggers:
    the first drains the initial binlog, then new segments land and a
    later trigger applies them; the source watermark advances between
    them. Stop gracefully."""
    import time

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import SynthSpec, make_fixture, write_binlog
    from nifi_processors_spark.table import TransactionalTable

    binlog = str(tmp_path / "binlog")
    spec = SynthSpec(n_conversations=12, turns_per_conv=3, n_shards=2, seed=5)
    events, expected, _paths = make_fixture(binlog, spec)
    half = len(events) // 2
    # rewrite the binlog with only the FIRST half; the rest lands mid-stream
    import shutil as _sh

    _sh.rmtree(binlog)
    write_binlog(events.iloc[:half], binlog, spec)

    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
        source_id="ct",
        trigger_interval_ms=200,
        max_files_per_trigger=64,
    )
    p = CdcPipeline(spark, cfg)
    q = p.start(available_now=False)
    try:
        deadline = time.monotonic() + 60
        t = None
        while time.monotonic() < deadline:
            if TransactionalTable.exists(spark, cfg.table_path):
                t = TransactionalTable(spark, cfg.table_path)
                wm1 = t.watermark("ct")
                if wm1 is not None:
                    break
            time.sleep(0.3)
        assert t is not None and wm1 is not None, "first trigger never committed"

        # mid-stream arrival: a second tranche of segments — staged
        # then os.replace'd in, because Spark's file source expects
        # files to APPEAR atomically (writing in place races the
        # directory listing with a half-written parquet)
        import os

        stage = str(tmp_path / "stage")
        write_binlog(events.iloc[half:], stage, spec)
        for fn in os.listdir(stage):
            os.replace(os.path.join(stage, fn), os.path.join(binlog, fn))
        wm2 = wm1
        while time.monotonic() < deadline:
            wm2 = t.watermark("ct")
            if wm2 is not None and wm2 > wm1 and t.read().count() == len(expected):
                break
            time.sleep(0.3)
        assert wm2 > wm1, "watermark did not advance on the second trigger"
    finally:
        q.stop()
    got = (
        t.read().orderBy("conv_id", "turn_idx").toPandas()
        [["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        got,
        expected[["conv_id", "turn_idx", "text"]].reset_index(drop=True),
        check_dtype=False,
    )


def test_file_backed_batch_recovery(spark, tmp_path):
    """Spark 4's foreachBatch hands micro-batches as row-based
    ExistingRDD wrappers (inputFiles() empty → footer hints dead, a
    redundant decode per batch). The pipeline rebuilds each batch from
    the file source's own commit log; the rebuilt frame must be
    file-backed and hold exactly the batch's rows."""
    import os

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import SynthSpec, make_fixture

    binlog = str(tmp_path / "binlog")
    events, expected, _ = make_fixture(
        binlog, SynthSpec(n_conversations=20, turns_per_conv=3, n_shards=2, seed=8)
    )
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "t"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
        source_id="fb",
        max_files_per_trigger=5,
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    n_batches = len(os.listdir(os.path.join(str(tmp_path / "ckpt"), "sources", "0")))
    recovered_total = 0
    for bid in range(n_batches):
        df = p._file_backed_batch(bid)
        if df is None:
            continue
        assert df.inputFiles(), "recovered batch must be file-backed"
        recovered_total += df.count()
    assert recovered_total == len(events)
    # unknown batch id → clean fallback
    assert p._file_backed_batch(10_000) is None


def test_zero_row_oracles_now_discriminate(spark):
    """Round-2 VERDICT "What's wrong" #3: doc_ngram_jaccard and
    q22_no_order_customers returned zero rows at every scale, passing
    vacuously. Both must produce rows at sf0.001 (test_entry verifies
    the values still match the oracle)."""
    for name in ("doc_ngram_jaccard", "q22_no_order_customers"):
        fn = sql_queries.QUERIES[name][0]
        assert fn(spark, SF_DIR).count() > 0, name


# ----------------------------------------------------- telemetry metrics


def test_metrics_emitter_levels(tmp_path):
    """≙ ReportCloudWatchMetricsLevel NONE/SUMMARY/DETAILED
    (ACP:196-205): none emits nothing, summary one record per batch,
    detailed adds one per shard slice — on disk as soon as
    record_batch returns."""
    import json
    import os

    from nifi_processors_spark.streaming.metrics import MetricsEmitter

    shard_rows = [
        {"shard": 0, "n_events": 5, "n_dead_letter": 0, "max_lag_ms": 10},
        {"shard": 1, "n_events": 3, "n_dead_letter": 1, "max_lag_ms": 20},
    ]
    stats = {"n_upserts": 8, "n_dead_letter": 1, "seconds": 0.5}
    out = {}
    for level in ("none", "summary", "detailed"):
        path = str(tmp_path / f"{level}.jsonl")
        MetricsEmitter(level=level, path=path).record_batch(7, stats, shard_rows)
        recs = []
        if os.path.exists(path):
            recs = [json.loads(l) for l in open(path)]
        out[level] = recs
    assert out["none"] == []
    assert [r["kind"] for r in out["summary"]] == ["batch"]
    assert out["summary"][0]["n_upserts"] == 8
    assert [r["kind"] for r in out["detailed"]] == ["batch", "shard", "shard"]
    assert out["detailed"][2]["max_lag_ms"] == 20


def test_metrics_emitter_buffers_by_time_and_bounds_queue(tmp_path):
    """≙ metric buffering time + bounded publisher queue
    (ACP:207-224), with a zero buffer time and a queue bound of no
    records: a healthy sink has every record on disk, in call order,
    when record_batch returns; a failing sink never raises and keeps
    no record in memory, only one count of the records it dropped."""
    import json

    from nifi_processors_spark.streaming.metrics import MetricsEmitter

    path = tmp_path / "m.jsonl"
    em = MetricsEmitter(level="summary", path=str(path))
    for b in range(5):
        em.record_batch(b, {"n_upserts": b})
        recs = [json.loads(l) for l in open(path)]
        assert [r["batch_id"] for r in recs] == list(range(b + 1))
    assert em._dropped == 0

    blocker = tmp_path / "blocker"
    blocker.write_text("")  # a file where the sink's directory should be
    em2 = MetricsEmitter(level="detailed", path=str(blocker / "m.jsonl"))
    shard_rows = [{"shard": 0, "n_events": 1}, {"shard": 1, "n_events": 2}]
    for b in range(3):
        em2.record_batch(b, {"n_upserts": b}, shard_rows)
    assert vars(em2) == {
        "level": "detailed", "path": em2.path, "namespace": "cdc", "_dropped": 9,
    }


def test_pipeline_emits_buffered_metrics(spark, tmp_path):
    """End-to-end: a replayed binlog produces detailed shard records
    whose totals equal the committed batch stats, on disk when run_once
    returns — each batch writes its records after its commit, with no
    shutdown flush."""
    import json

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import SynthSpec, make_fixture

    binlog = str(tmp_path / "binlog")
    events, expected, _ = make_fixture(
        binlog, SynthSpec(n_conversations=15, turns_per_conv=3, n_shards=2, seed=9)
    )
    mpath = str(tmp_path / "metrics.jsonl")
    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=str(tmp_path / "t"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
        source_id="em",
        max_files_per_trigger=64,
        metrics_level="detailed",
        metrics_path=mpath,
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    recs = [json.loads(l) for l in open(mpath)]
    batches = [r for r in recs if r["kind"] == "batch"]
    shards = [r for r in recs if r["kind"] == "shard"]
    assert batches and shards
    assert sum(r["n_events"] for r in shards) == sum(
        r["n_upserts"] for r in batches
    )
    assert {r["shard"] for r in shards} <= {0, 1}
    assert all(r["ns"] == "cdc" for r in recs)


def test_generator_conv_ids_unique_above_1m_conversations():
    """np.char.zfill's output dtype is capped at the requested width
    and silently truncates longer values: at >1M conversations the
    7-digit indices folded onto 6-digit ones, collapsing distinct keys
    (caught by a 2M-conv scaling run whose final table was half the
    expected size). %06d formatting pads identically and never
    truncates."""
    from nifi_processors_spark.synth import SynthSpec, generate_events

    ev = generate_events(
        SynthSpec(n_conversations=1_100_000, turns_per_conv=1, n_shards=4, seed=1)
    )
    inserts = ev[ev["op"] == "I"]
    assert inserts["conv_id"].nunique() == 1_100_000
    # short ids keep the historical fixed-width format
    assert (ev["conv_id"].str.len() >= len("conv-000000")).all()


def test_file_backed_batch_recovery_json_format(spark, tmp_path):
    """The commit-log batch rebuild must also engage for JSON-lines
    binlogs (reader.json branch) — not silently fall back to the
    engine-provided row frame."""
    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import SynthSpec, generate_events
    from tests.test_json_binlog import write_json_binlog

    ev = generate_events(
        SynthSpec(n_conversations=12, turns_per_conv=3, n_shards=2, seed=21)
    )
    write_json_binlog(ev, str(tmp_path / "binlog"), n_segments=4)
    cfg = EngineConfig(
        binlog_dir=str(tmp_path / "binlog"),
        binlog_format="json",
        table_path=str(tmp_path / "t"),
        dead_letter_path=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ck"),
        source_id="fbj",
        max_files_per_trigger=2,
    )
    p = CdcPipeline(spark, cfg)
    p.run_once()
    df = p._file_backed_batch(0)
    assert df is not None and df.inputFiles(), "json rebuild must engage"
    assert df.count() > 0


def test_cli_entrypoint_drains_compacts_and_expires(spark, tmp_path, capsys):
    """The spark-submit entrypoint (main.py) end-to-end: drain a small
    binlog, compact, expire to the last 2 snapshots — the ops surface a
    production deployment drives."""
    import json as _json

    import main as cli
    from nifi_processors_spark.synth import SynthSpec, make_fixture
    from nifi_processors_spark.table import TransactionalTable

    binlog = str(tmp_path / "binlog")
    events, expected, _ = make_fixture(
        binlog, SynthSpec(n_conversations=10, turns_per_conv=3, n_shards=2, seed=23)
    )
    cli.main([
        "--binlog-dir", binlog,
        "--table-path", str(tmp_path / "t"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--max-files-per-trigger", "4",
        "--metrics-level", "summary",
        "--compact",
        "--expire-keep-last", "2",
    ])
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    keys = set()
    for line in out:
        keys |= set(_json.loads(line))
    assert {"compact", "expire", "last_batch"} <= keys
    t = TransactionalTable(spark, str(tmp_path / "t"))
    assert t.read().count() == len(expected)
