"""Round-5 gates: per-record error isolation in the media operators
(the round-4 VERDICT weak item), the ADVICE fixes (JPEG
per-component-scan boundary, expire's empty-dir grace window), and the
media pushdown plan assertion (VERDICT #8)."""

import os
import time

import numpy as np
import pytest

from nifi_processors_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _synth_audio,
    _synth_image,
    _synth_video,
    encode_png,
    encode_ppm,
    encode_wav,
    encode_y4m,
    extract_image_features,
    media_stats,
    sample_video_frames,
    split_media_errors,
)


def _media_rows():
    """Mixed corpus: valid PPM/PNG/WAV/y4m rows interleaved with
    corrupt payloads of every kind (truncated, garbage, empty)."""
    img = _synth_image(3)
    y, u, v = _synth_video(5)
    wav = encode_wav(_synth_audio(7))
    png = encode_png(img)
    return [
        # --- valid ---
        (1, "image", encode_ppm(img), "image/x-portable-pixmap",
         img.shape[1], img.shape[0], None),
        (2, "image", png, "image/png", img.shape[1], img.shape[0], None),
        (3, "audio", wav, "audio/wav", None, None, 2000),
        (4, "video", encode_y4m(y, u, v, fps=4), "video/x-yuv4mpeg",
         int(y.shape[2]), int(y.shape[1]), int(y.shape[0] * 250)),
        # --- corrupt ---
        (101, "image", png[: len(png) // 2], "image/png", 8, 8, None),
        (102, "image", b"\x00\x01garbage-not-an-image", "image/raw",
         8, 8, None),
        (103, "audio", b"RIFFnope", "audio/wav", None, None, 100),
        (104, "video", b"YUV4MPEG2 W16 H16 F4:1 C444\nFRAME\nxx",
         "video/x-yuv4mpeg", 16, 16, 250),
        (105, "image", b"", "image/raw", 8, 8, None),
    ]


def test_media_stats_quarantines_corrupt_blobs(spark):
    """One corrupt blob quarantines ONE row — valid rows still decode
    (the R2 semantic the CDC path already had, now on media)."""
    media = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    out = media_stats(media).toPandas().set_index("media_id")
    assert len(out) == 9
    ok, bad = out[out["error_reason"].isna()], out[out["error_reason"].notna()]
    assert set(ok.index) == {1, 2, 3, 4}
    assert set(bad.index) == {101, 102, 103, 104, 105}
    # valid rows decoded for real (PPM and PNG of the same image agree)
    assert ok.loc[1, "sum_val"] == ok.loc[2, "sum_val"] > 0
    # corrupt rows carry a reason and null stats
    assert bad["n_units"].isna().all()
    assert all(isinstance(r, str) and r for r in bad["error_reason"])


def test_image_features_quarantine_and_dlq_append(spark, tmp_path):
    """The failure side of split_media_errors commits to a quarantine
    table keyed by media_id through ``append`` — quarantined rows are
    durable, valid rows flow on, nothing aborts."""
    from pyspark.sql import types as T

    from nifi_processors_spark.table import TransactionalTable

    media = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    feats = extract_image_features(media, resize=(8, 8))
    ok, bad = split_media_errors(feats)
    ok_ids = {r["media_id"] for r in ok.select("media_id").collect()}
    assert ok_ids == {1, 2}
    assert "error_reason" not in ok.columns
    bad_pdf = bad.toPandas()
    assert set(bad_pdf["media_id"]) == {101, 102, 105}
    # truncated PNG → decode error; garbage → NotImplementedError
    reasons = dict(zip(bad_pdf["media_id"], bad_pdf["error_reason"]))
    assert "NotImplementedError" in reasons[102]
    dlq = TransactionalTable.create(
        spark,
        str(tmp_path / "media_dlq"),
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("error_reason", T.StringType(), True),
            ]
        ),
        key_cols=["media_id"],
        lww_cols=["seq"],
    )
    dlq.append(bad.select("media_id", "error_reason"),
               source_id="media::dlq", batch_id=0)
    assert dlq.read().count() == 3
    # redelivery of the same batch is a watermark no-op (exactly-once)
    res = dlq.append(bad.select("media_id", "error_reason"),
                     source_id="media::dlq", batch_id=0)
    assert res.get("skipped")
    assert dlq.read().count() == 3


def test_frame_sampler_quarantines_corrupt_y4m(spark):
    media = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    out = sample_video_frames(media, every_ms=500, max_frames=4).toPandas()
    ok, bad = (
        out[out["error_reason"].isna()],
        out[out["error_reason"].notna()],
    )
    # valid y4m row yields real frames; corrupt y4m yields ONE
    # quarantined row (no frames, no abort)
    assert set(ok["media_id"]) == {4}
    assert len(ok) >= 1 and ok["frame"].notna().all()
    assert set(bad["media_id"]) == {104}
    assert bad["frame_idx"].isna().all()


def test_media_scan_prunes_kind_and_columns(spark, tmp_path):
    """100 TB argument, measured not asserted (VERDICT #8): the image
    feature extractor's parquet scan pushes the kind filter down and
    prunes to the two needed columns, so non-image payload bytes are
    never read."""
    p = str(tmp_path / "media_parquet")
    spark.createDataFrame(_media_rows(), MEDIA_SCHEMA).write.parquet(p)
    plan = extract_image_features(
        spark.read.parquet(p), fake=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(kind,image)" in plan, plan
    # ReadSchema prunes to the operator's two input columns
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert readschema and "mime" not in readschema[0]
    assert "duration_ms" not in readschema[0]


def test_jpeg_per_component_scan_is_clean_boundary():
    """ADVICE r5 #2: a baseline stream with per-component scans
    (Ns != frame component count) raises NotImplementedError — a
    documented boundary, not a KeyError mid-decode."""
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    buf = bytearray(encode_jpeg(np.full((16, 16, 3), 100, np.uint8)))
    i = buf.find(b"\xff\xda")
    assert i > 0
    ns = buf[i + 4]
    assert ns == 3
    # rebuild the SOS header for a single-component scan (spec-legal
    # per-component layout): len 8, Ns=1, first component only
    sos = bytes([0x00, 0x08, 0x01]) + bytes(buf[i + 5 : i + 7]) + bytes(
        buf[i + 11 : i + 14]
    )
    patched = bytes(buf[: i + 2]) + sos + bytes(buf[i + 14 :])
    with pytest.raises(NotImplementedError, match="per-component"):
        decode_jpeg(patched)


def test_jpeg_single_component_scan_noninterleaved():
    """ADVICE r5 #2 (second half): a grayscale frame whose single
    component declares 2x2 sampling must be walked one-block-per-MCU
    (non-interleaved raster), not with the interleaved hi*vi loop."""
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((16, 16), np.uint8)
    img[:8] = 60
    img[8:] = 200
    payload = bytearray(encode_jpeg(img))
    ref = decode_jpeg(bytes(payload))
    i = payload.find(b"\xff\xc0")
    assert payload[i + 9] == 1  # single-component frame
    assert payload[i + 11] == 0x11
    # declare 2x2 sampling — spec-legal; ignored in a non-interleaved
    # (Ns=1) scan, which always walks one block per MCU
    payload[i + 11] = 0x22
    out = decode_jpeg(bytes(payload))
    assert np.array_equal(out, ref)


def test_two_pipelines_one_table_with_maintenance(spark, tmp_path):
    """Round-5 VERDICT #4 — multi-writer end-to-end soak: two full
    CdcPipeline instances (distinct sources/checkpoints, ONE table)
    replay concurrently while the main thread interleaves compact()
    and expire_snapshots() through a third table handle. Both replays
    must land (optimistic CC + retries), the final state must equal
    the single-threaded oracle over the union of both event streams,
    and no staged files may be lost (state equality IS that check)."""
    import pandas as pd

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import (
        SynthSpec, generate_events, oracle_apply, write_binlog,
    )
    from nifi_processors_spark.table import TransactionalTable

    spec1 = SynthSpec(n_conversations=40, turns_per_conv=4, n_shards=2,
                      seed=51, segments_per_shard=3)
    spec2 = SynthSpec(n_conversations=40, turns_per_conv=4, n_shards=2,
                      seed=52, segments_per_shard=3)
    e1 = generate_events(spec1)
    e2 = generate_events(spec2)
    e2 = e2.assign(conv_id="w2-" + e2["conv_id"])  # disjoint key space
    write_binlog(e1, str(tmp_path / "bl1"), spec1)
    write_binlog(e2, str(tmp_path / "bl2"), spec2)

    table_path = str(tmp_path / "table")

    def cfg(n, bl):
        return EngineConfig(
            binlog_dir=str(tmp_path / bl),
            table_path=table_path,
            dead_letter_path=str(tmp_path / f"dlq{n}"),
            checkpoint_dir=str(tmp_path / f"ckpt{n}"),
            source_id=f"w{n}",
            n_buckets=8,
            max_files_per_trigger=2,
            commit_retries=10,
        )

    p1 = CdcPipeline(spark, cfg(1, "bl1"))
    p2 = CdcPipeline(spark, cfg(2, "bl2"))
    q1 = p1.start(available_now=True)
    q2 = p2.start(available_now=True)
    maint = TransactionalTable(spark, table_path)
    maint_runs = maint_errors = 0
    deadline = time.time() + 300
    while (q1.isActive or q2.isActive) and time.time() < deadline:
        time.sleep(1.0)
        try:
            maint.compact()
            maint.expire_snapshots(keep_last=4, grace_secs=600)
            maint_runs += 1
        except Exception:
            maint_errors += 1  # contended maintenance may lose a race
    q1.awaitTermination(60)
    q2.awaitTermination(60)
    assert not q1.isActive and not q2.isActive
    assert maint_runs >= 1

    expected = (
        oracle_apply(pd.concat([e1, e2], ignore_index=True))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = (
        p1.table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[list(expected.columns)]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)
    # both writers committed their watermarks on the shared table
    assert p1.table.watermark("w1") is not None
    assert p1.table.watermark("w2") is not None
    # maintenance actually bounded the manifest count
    m = p1.table.manifest()
    versions = [
        f for f in os.listdir(os.path.join(table_path, "_log"))
        if f.startswith("v")
    ]
    assert len(versions) <= 4 + 2 * 10  # keep_last + commits since last pass
    assert m["version"] >= 6  # several interleaved commits happened


def test_schema_rename_migration_replay_across_cutover(spark, tmp_path):
    """Round-5 VERDICT #6: column rename mid-stream. ADD evolves
    in-flight; rename goes through an explicit transactional rewrite
    (migrate_rename_column), a producer still emitting the OLD name is
    rejected LOUDLY (not silently re-added as a null column), and a
    remapped producer replays to the oracle state under the new
    schema. Time travel before the cutover still serves the old
    schema."""
    import pandas as pd

    from nifi_processors_spark.schema import (
        CHANGE_EVENTS_SCHEMA,
        KEY_COLS,
        LWW_COLS,
        SchemaEvolutionError,
        TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.synth import (
        SynthSpec, generate_events, oracle_apply, write_binlog,
    )
    from nifi_processors_spark.table import TransactionalTable

    import glob as _glob

    spec = SynthSpec(n_conversations=30, turns_per_conv=4, n_shards=2,
                     seed=61, segments_per_shard=4)
    events = generate_events(spec)
    write_binlog(events, str(tmp_path / "bl"), spec)
    segs = sorted(_glob.glob(str(tmp_path / "bl" / "seg-*.parquet")))
    half = len(segs) // 2
    tbl = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4,
    )
    rd = spark.read.schema(CHANGE_EVENTS_SCHEMA)
    tbl.merge(rd.parquet(*segs[:half]), "s", 0)
    pre_version = tbl.current_version()

    res = tbl.migrate_rename_column("tool", "tool_name")
    assert res["migration"] == "rename" and res["renamed_to"] == "tool_name"
    assert "tool_name" in tbl.read().columns
    assert "tool" not in tbl.read().columns

    # a producer still emitting the OLD name fails loudly
    with pytest.raises(SchemaEvolutionError, match="retired"):
        tbl.merge(rd.parquet(*segs[half:]), "s", 1)

    # the remapped producer replays; final state equals the oracle
    # modulo the rename
    part2 = rd.parquet(*segs[half:]).withColumnRenamed("tool", "tool_name")
    tbl.merge(part2, "s", 1)
    # the guard outlives a clean merge: a stale batch arriving after it
    # is still rejected (every commit carries retired_cols forward)
    with pytest.raises(SchemaEvolutionError, match="retired"):
        tbl.merge(rd.parquet(*segs[half:]), "s", 2)
    expected = (
        oracle_apply(events)
        .rename(columns={"tool": "tool_name"})
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = (
        tbl.read().orderBy("conv_id", "turn_idx")
        .toPandas()[list(expected.columns)].reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)

    # time travel before the cutover serves the OLD schema
    assert "tool" in tbl.read(version=pre_version).columns

    # drops: structural columns rejected; payload column drops work
    with pytest.raises(SchemaEvolutionError, match="structural"):
        tbl.migrate_drop_column("conv_id")
    tbl.migrate_drop_column("role")
    assert "role" not in tbl.read().columns
    assert tbl.read().count() == len(expected)

    # reserved stream-envelope names rejected as rename targets (a
    # payload column named 'seq' would silently absorb the CDC seq)
    with pytest.raises(SchemaEvolutionError, match="reserved"):
        tbl.migrate_rename_column("tool_name", "seq")

    # rename BACK un-retires the live name: tool was retired by the
    # first rename; tool_name -> tool must leave 'tool' mergeable
    # again or every future batch is rejected (review fix)
    tbl.migrate_rename_column("tool_name", "tool")
    replay = rd.parquet(*segs[:half]).drop("role")  # role stays retired
    st = tbl.merge(replay, "s", 2)  # LWW-idempotent re-apply
    assert not st.get("skipped")
    assert tbl.read().count() == len(expected)


def test_endurance_bounded_metadata(spark, tmp_path):
    """Round-5 VERDICT #5 (small-N gate; BENCH/endurance.py runs the
    500-batch campaign): after 60 poison-laced micro-batches with the
    new maintenance cadence, manifest / data-file / lineage-file /
    dead-letter-file counts are all bounded and per-batch wall is
    flat."""
    import sys as _sys

    _sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCH")
    )
    from endurance import run_endurance, wall_windows

    rep = run_endurance(
        spark, str(tmp_path / "endur"), n_batches=60,
        maintenance_every=16, keep_last=4,
    )
    assert rep["n_batches"] == 60
    assert rep["final_rows"] > 0
    # manifests: ≤ keep_last + one maintenance period + slack
    assert rep["main_manifests_on_disk"] <= 4 + 16 + 4
    assert rep["main_data_files"] <= 8  # ≤ one file per bucket
    # side files are folded on each cadence pass: at most one period
    assert rep["main_lineage_files"] <= 17
    assert 1 <= rep["main_dead_letter_files"] <= 17
    assert rep["metrics_dropped"] == 0

    # flat per-batch wall (generous noise bound — the real flatness
    # evidence is the 500-batch BENCH campaign): the median of the last
    # 10 batches against the median of a warmed window (batches 11-20;
    # a warm session's first batches run faster than its steady state)
    def flat(warm, last):
        return last <= 2 * warm + 0.5

    assert flat(rep["batch_sec_warm"], rep["batch_sec_last"]), rep
    # the bound still rejects linear growth of 0.1 s per batch, and
    # accepts a fast start followed by a flat steady state
    assert not flat(*wall_windows([1.0 + 0.1 * i for i in range(60)]))
    assert flat(*wall_windows([1.0] * 10 + [2.2] * 50))


def test_expire_keeps_young_empty_commit_dir(spark, tmp_path):
    """ADVICE r5 #3: a concurrent writer's just-created, still-empty
    commit directory survives expire's empty-dir sweep inside the
    grace window; an aged-out empty dir is collected."""
    from pyspark.sql import types as T

    from nifi_processors_spark.table import TransactionalTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    tbl = TransactionalTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], lww_cols=["seq"],
        n_buckets=2,
    )
    for b in range(4):
        tbl.append(spark.createDataFrame([(b, "x")], schema),
                   source_id="s", batch_id=b)
    young = os.path.join(tbl.path, "data", "commit-young-empty")
    old = os.path.join(tbl.path, "data", "commit-old-empty")
    os.makedirs(young)
    os.makedirs(old)
    past = time.time() - 3600
    os.utime(old, (past, past))
    res = tbl.expire_snapshots(keep_last=1, grace_secs=600)
    assert not res.get("skipped")
    assert os.path.isdir(young), "young empty commit dir must survive"
    assert not os.path.exists(old), "aged-out empty dir is collected"


# ---------------------------------------------------------------------------
# Full-spec PNG coverage: Adam7 interlace, 16-bit, sub-8-bit depths.
# The encoder below is an INDEPENDENT spec-driven path (pass
# extraction, big-endian bit packing, 16-bit widening) so decoder bugs
# cannot cancel against product-encoder bugs.
# ---------------------------------------------------------------------------

_ADAM7_REF = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _ref_png(samples, depth, color, interlace=0, palette=None):
    """Spec-driven PNG writer for tests: samples (h, w, channels) int
    arrays of RAW sample values (< 2**depth), filter type 0 rows,
    Adam7 pass extraction per PNG spec §8.2."""
    import zlib

    from nifi_processors_spark.operators.multimodal import (
        _PNG_SIG, _png_chunk,
    )

    h, w, _ch = samples.shape

    def pack(px):
        rows = []
        for r in range(px.shape[0]):
            flat = px[r].reshape(-1)
            if depth == 8:
                data = flat.astype(np.uint8).tobytes()
            elif depth == 16:
                # widen 8-bit sample s to the 16-bit value s*257
                # (0xSS SS) so the decoder's MSB reduction recovers s
                data = (flat.astype(np.uint16) * 257).astype(">u2").tobytes()
            else:
                bits = np.unpackbits(
                    flat.astype(np.uint8).reshape(-1, 1), axis=1
                )[:, 8 - depth:]
                data = np.packbits(bits.reshape(-1)).tobytes()
            rows.append(b"\x00" + data)
        return b"".join(rows)

    if interlace:
        raw = b"".join(
            pack(samples[y0::ys, x0::xs])
            for x0, y0, xs, ys in _ADAM7_REF
            if samples[y0::ys, x0::xs].size
        )
    else:
        raw = pack(samples)
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, color, 0, 0, 1 if interlace else 0])
    )
    chunks = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        chunks += _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return chunks + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(
        b"IEND", b""
    )


def test_png_16bit_rgb_and_gray():
    from nifi_processors_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    out = decode_png(_ref_png(rgb, 16, 2))
    assert np.array_equal(out, rgb)
    gray = rng.integers(0, 256, (5, 6, 1), dtype=np.uint8)
    out = decode_png(_ref_png(gray, 16, 0))
    assert np.array_equal(out, np.repeat(gray, 3, axis=2))


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub8_grayscale_rescaled(depth):
    """Sub-8-bit gray samples come back rescaled to full range by the
    exact integer factor 255/(2^d-1); odd widths exercise the row-end
    bit padding."""
    from nifi_processors_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(depth)
    g = rng.integers(0, 1 << depth, (6, 5, 1), dtype=np.uint8)
    out = decode_png(_ref_png(g, depth, 0))
    scale = 255 // ((1 << depth) - 1)
    assert np.array_equal(out, np.repeat(g * scale, 3, axis=2))


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub8_palette(depth):
    from nifi_processors_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(10 + depth)
    ncol = 1 << depth
    palette = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, (7, 3, 1), dtype=np.uint8)
    out = decode_png(_ref_png(idx, depth, 3, palette=palette))
    assert np.array_equal(out, palette[idx[:, :, 0]])


@pytest.mark.parametrize("hw", [(1, 1), (3, 3), (5, 7), (8, 8), (13, 11)])
def test_png_adam7_matches_sequential(hw):
    """Interlaced and non-interlaced encodings of the same pixels must
    decode identically — including tiny sizes where whole Adam7 passes
    are empty and contribute zero bytes."""
    from nifi_processors_spark.operators.multimodal import decode_png

    h, w = hw
    rng = np.random.default_rng(h * 100 + w)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    seq = decode_png(_ref_png(rgb, 8, 2, interlace=0))
    lace = decode_png(_ref_png(rgb, 8, 2, interlace=1))
    assert np.array_equal(seq, rgb)
    assert np.array_equal(lace, rgb)


def test_png_adam7_16bit_gray_alpha():
    """Interlace composed with 16-bit and alpha-bearing color types."""
    from nifi_processors_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(77)
    ga = rng.integers(0, 256, (10, 9, 2), dtype=np.uint8)
    out = decode_png(_ref_png(ga, 16, 4, interlace=1))
    assert np.array_equal(out, np.repeat(ga[:, :, :1], 3, axis=2))
    rgba = rng.integers(0, 256, (6, 11, 4), dtype=np.uint8)
    out = decode_png(_ref_png(rgba, 8, 6, interlace=1))
    assert np.array_equal(out, rgba[:, :, :3])


def test_png_adam7_real_image_roundtrip():
    """Decode a real-world RGB8 PNG, re-encode it Adam7-interlaced via
    the independent spec encoder, and require pixel-identical decode."""
    from nifi_processors_spark.operators.multimodal import decode_png

    path = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "tk8.6/demos/images/ouster.png")
    if not os.path.exists(path):
        pytest.skip("real-world PNG not present")
    px = decode_png(open(path, "rb").read())
    lace = decode_png(_ref_png(px, 8, 2, interlace=1))
    assert np.array_equal(lace, px)


def test_png_rejects_illegal_combo():
    from nifi_processors_spark.operators.multimodal import decode_png

    sig = b"\x89PNG\r\n\x1a\n"
    bad = (
        (13).to_bytes(4, "big") + b"IHDR"
        + (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
        + bytes([2, 2, 0, 0, 0]) + b"\x00" * 4  # depth 2 truecolor
    )
    with pytest.raises(ValueError):
        decode_png(sig + bad)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, T.81 Annex G)
# ---------------------------------------------------------------------------

def _textured(h, w, seed):
    """Smooth gradient + noise so AC coefficients span magnitudes and
    successive-approximation refinement bits actually fire."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 128 + 100 * np.sin(yy / 5) * np.cos(xx / 7)
    img = base[..., None] + rng.integers(-40, 40, (h, w, 1))
    return np.clip(img, 0, 255).astype(np.uint8).repeat(3, axis=2)


@pytest.mark.parametrize(
    "hw,sub", [((16, 16), False), ((24, 40), False), ((33, 47), True),
               ((64, 64), True)]
)
def test_progressive_equals_baseline_decode(hw, sub):
    """The progressive encoder carries the same quantized coefficients
    as the baseline encoder, so after full successive approximation
    the two streams must decode PIXEL-IDENTICALLY — this gates the
    spectral-selection bands, EOB-run coding, and the two-level
    Al=2→1→0 refinement chain on luma in one equality."""
    from nifi_processors_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg, encode_progressive_jpeg,
    )

    img = _textured(*hw, seed=hw[0])
    for q in (50, 90):
        b = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub))
        p = decode_jpeg(encode_progressive_jpeg(img, quality=q, subsample=sub))
        assert np.array_equal(b, p), (hw, sub, q)


def test_progressive_grayscale_noninterleaved_dc():
    """Single-component frames make every scan non-interleaved,
    including DC — the per-component raster walk the stripe fixtures
    also exercise."""
    from nifi_processors_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg, encode_progressive_jpeg,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    b = decode_jpeg(encode_jpeg(img, quality=85))
    p = decode_jpeg(encode_progressive_jpeg(img, quality=85))
    assert np.array_equal(b, p)


def test_progressive_real_world_files_when_present():
    """Real progressive streams from independent encoders: f3.jpg
    (2x1-sampled photo, 10-scan script with an Al=2→1 AC chain) and
    the nodejs stripes (per-component DC scans, spectral bands).
    Decoded stats are asserted against their known content."""
    from nifi_processors_spark.operators.jpeg import decode_jpeg

    f3 = ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
          "share/doc/rust/html/embedded-book/assets/f3.jpg")
    stripe = "/usr/share/doc/nodejs/full-white-stripe.jpg"
    checked = 0
    if os.path.exists(f3):
        img = decode_jpeg(open(f3, "rb").read())
        assert img.shape == (477, 720, 3)
        assert 40 < img.mean() < 160  # a photo, neither black nor blown out
        checked += 1
    if os.path.exists(stripe):
        img = decode_jpeg(open(stripe, "rb").read())
        assert img.shape == (312, 493, 3)
        assert img.mean() > 235  # mostly-white asset
        checked += 1
    if not checked:
        pytest.skip("no real-world progressive JPEG on this host")


# ---------------------------------------------------------------------------
# MP4 / AVI container demux (Motion-JPEG)
# ---------------------------------------------------------------------------

def _mjpeg_frames(n=5, h=24, w=32, seed=3):
    rng = np.random.default_rng(seed)
    yy = np.mgrid[0:h, 0:w][0]
    return [
        np.clip(
            128 + 60 * np.sin(yy / 3 + i)[..., None]
            + rng.integers(-20, 20, (h, w, 1)),
            0, 255,
        ).astype(np.uint8).repeat(3, axis=2)
        for i in range(n)
    ]


def test_mp4_demux_is_byte_exact():
    """The container layer is lossless bookkeeping: demuxed sample
    bytes must EQUAL the muxed-in JPEG bytes, and the stts/stsc/stsz/
    stco chain must yield the right timestamps."""
    from nifi_processors_spark.operators.containers import (
        demux_mp4, mux_mp4_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import encode_jpeg

    jpegs = [encode_jpeg(f, quality=90) for f in _mjpeg_frames()]
    track = demux_mp4(mux_mp4_mjpeg(jpegs, fps=4, width=32, height=24))
    assert track["fourcc"] == "jpeg"
    assert [s for _ts, s in track["samples"]] == jpegs
    assert [ts for ts, _s in track["samples"]] == [0, 250, 500, 750, 1000]


def test_avi_demux_is_byte_exact():
    from nifi_processors_spark.operators.containers import (
        demux_avi, mux_avi_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import encode_jpeg

    # odd-length JPEGs exercise RIFF word-alignment padding
    jpegs = [encode_jpeg(f, quality=85) for f in _mjpeg_frames(4)]
    track = demux_avi(mux_avi_mjpeg(jpegs, fps=8, width=32, height=24))
    assert track["fps"] == 8.0
    assert track["samples"] == jpegs


def test_container_frames_decode_identically():
    """Frames pulled through either container must decode EXACTLY as
    the bare JPEG bytes do — no container-induced drift."""
    from nifi_processors_spark.operators.containers import (
        decode_avi_frames, decode_mp4_frames, mux_avi_mjpeg, mux_mp4_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    jpegs = [encode_jpeg(f, quality=90, subsample=True)
             for f in _mjpeg_frames()]
    ref = np.stack([decode_jpeg(j) for j in jpegs])
    fr, _ = decode_mp4_frames(mux_mp4_mjpeg(jpegs, 4, 32, 24))
    assert np.array_equal(fr, ref)
    fr, _ = decode_avi_frames(mux_avi_mjpeg(jpegs, 4, 32, 24))
    assert np.array_equal(fr, ref)


def test_container_codec_boundary_is_loud():
    from nifi_processors_spark.operators.containers import (
        decode_mp4_frames, mux_mp4_mjpeg,
    )

    mp4 = bytearray(mux_mp4_mjpeg([b"\xff\xd8fake\xff\xd9"], 4, 8, 8))
    idx = mp4.find(b"jpeg", mp4.find(b"stsd"))
    mp4[idx : idx + 4] = b"avc1"  # pretend it's H.264
    with pytest.raises(NotImplementedError):
        decode_mp4_frames(bytes(mp4))


def test_sample_video_frames_reads_mjpeg_containers(spark):
    """Spark-side: container payloads flow through sample_video_frames
    next to y4m, emitting per-frame luma rows; an entropy-coded track
    quarantines via error_reason instead of aborting the batch."""
    from nifi_processors_spark.operators.containers import (
        mux_avi_mjpeg, mux_mp4_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    frames = _mjpeg_frames(5)
    jpegs = [encode_jpeg(f, quality=90) for f in frames]
    mp4 = mux_mp4_mjpeg(jpegs, fps=4, width=32, height=24)
    avi = mux_avi_mjpeg(jpegs, fps=4, width=32, height=24)
    bad = bytearray(mp4)
    i = bad.find(b"jpeg", bad.find(b"stsd"))
    bad[i : i + 4] = b"avc1"
    media = spark.createDataFrame(
        [
            (1, "video", mp4, "video/mp4", 32, 24, 1250),
            (2, "video", avi, "video/x-msvideo", 32, 24, 1250),
            (3, "video", bytes(bad), "video/mp4", 32, 24, 1250),
        ],
        MEDIA_SCHEMA,
    )
    out = sample_video_frames(media, every_ms=500, max_frames=8).toPandas()
    ok = out[out.error_reason.isna()]
    bad_rows = out[out.error_reason.notna()]
    assert set(bad_rows.media_id) == {3}
    assert "avc1" in bad_rows.error_reason.iloc[0]
    # 1250 ms of 4 fps video sampled at 500 ms → ts 0/500/1000 each
    for mid in (1, 2):
        sub = ok[ok.media_id == mid]
        assert list(sub.frame_ts_ms) == [0, 500, 1000]
        assert list(sub.frame_idx) == [0, 2, 4]
        # frame payload is the decoded frame's luma plane, exactly
        want = decode_jpeg(jpegs[2])
        luma = np.clip(
            np.round(
                0.299 * want[..., 0] + 0.587 * want[..., 1]
                + 0.114 * want[..., 2]
            ),
            0, 255,
        ).astype(np.uint8)
        got = np.frombuffer(
            sub[sub.frame_idx == 2].frame.iloc[0], dtype=np.uint8
        ).reshape(24, 32)
        assert np.array_equal(got, luma)


def test_media_stats_covers_mjpeg_containers(spark):
    from nifi_processors_spark.operators.containers import mux_mp4_mjpeg
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    jpegs = [encode_jpeg(f, quality=90) for f in _mjpeg_frames(3)]
    mp4 = mux_mp4_mjpeg(jpegs, fps=4, width=32, height=24)
    media = spark.createDataFrame(
        [(1, "video", mp4, "video/mp4", 32, 24, 750)], MEDIA_SCHEMA
    )
    row = media_stats(media).toPandas().iloc[0]
    assert row.error_reason is None
    assert (row.width, row.height) == (32, 24)
    dec = np.stack([decode_jpeg(j) for j in jpegs])
    luma = np.clip(
        np.round(0.299 * dec[..., 0] + 0.587 * dec[..., 1]
                 + 0.114 * dec[..., 2]),
        0, 255,
    ).astype(np.int64)
    assert row.n_units == luma.size
    assert row.sum_val == luma.sum()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_adam7_sub8_depths(depth):
    """Interlace composed with sub-8-bit packing: every Adam7 pass has
    its own row-end bit padding (odd pass widths), which straight-line
    decode never exercises."""
    from nifi_processors_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(40 + depth)
    ncol = 1 << depth
    palette = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, (11, 9, 1), dtype=np.uint8)
    out = decode_png(_ref_png(idx, depth, 3, interlace=1, palette=palette))
    assert np.array_equal(out, palette[idx[:, :, 0]])
    g = rng.integers(0, ncol, (9, 13, 1), dtype=np.uint8)
    out = decode_png(_ref_png(g, depth, 0, interlace=1))
    scale = 255 // (ncol - 1)
    assert np.array_equal(out, np.repeat(g * scale, 3, axis=2))


# ---------------------------------------------------------------------------
# Container edge cases (round-5 review findings)
# ---------------------------------------------------------------------------

def test_avi_zero_scale_is_clean_boundary():
    """A vids strh with dwScale=0 must be a descriptive ValueError,
    not a ZeroDivisionError downstream."""
    from nifi_processors_spark.operators.containers import (
        decode_avi_frames, demux_avi, mux_avi_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import encode_jpeg

    avi = bytearray(
        mux_avi_mjpeg([encode_jpeg(f) for f in _mjpeg_frames(2)], 4, 32, 24)
    )
    b = avi.find(b"strh") + 8  # strh body: fccType fccHandler flags...
    # dwScale sits 20 bytes into the body (after type/handler/flags/
    # priority+language/initialframes)
    avi[b + 20 : b + 24] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="zero timing"):
        demux_avi(bytes(avi))
    with pytest.raises(ValueError, match="zero timing"):
        decode_avi_frames(bytes(avi))


def test_avi_two_video_streams_first_wins():
    """Chunks are filtered by stream number: a second vids stream's
    frames must not interleave into the first stream's samples, and
    its codec must not trip the boundary check."""
    from nifi_processors_spark.operators.containers import (
        _riff_chunk, _riff_list, demux_avi, mux_avi_mjpeg,
    )
    from nifi_processors_spark.operators.jpeg import encode_jpeg
    import struct as _s

    jpegs0 = [encode_jpeg(f, quality=90) for f in _mjpeg_frames(3, seed=1)]
    jpegs1 = [encode_jpeg(f, quality=90) for f in _mjpeg_frames(3, seed=2)]

    def strh(handler, fps):
        return _riff_chunk(
            b"strh",
            b"vids" + handler
            + _s.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, 3, 0,
                      0xFFFFFFFF, 0)
            + _s.pack("<4H", 0, 0, 32, 24),
        )

    avih = _riff_chunk(b"avih", b"\x00" * 56)
    hdrl = _riff_list(
        b"hdrl",
        avih
        + _riff_list(b"strl", strh(b"MJPG", 4))
        + _riff_list(b"strl", strh(b"H264", 30)),  # 2nd stream ignored
    )
    movi_chunks = b"".join(
        _riff_chunk(b"00dc", a) + _riff_chunk(b"01dc", b_)
        for a, b_ in zip(jpegs0, jpegs1)
    )
    body = b"AVI " + hdrl + _riff_list(b"movi", movi_chunks)
    avi = b"RIFF" + _s.pack("<I", len(body)) + body

    track = demux_avi(avi)
    assert track["fps"] == 4.0
    assert track["samples"] == jpegs0  # stream 0 only, in order

    # single-stream mux still round-trips (regression guard)
    t = demux_avi(mux_avi_mjpeg(jpegs0, 4, 32, 24))
    assert t["samples"] == jpegs0


def test_empty_containers_are_clean_boundaries():
    from nifi_processors_spark.operators.containers import (
        decode_avi_frames, decode_mp4_frames, mux_avi_mjpeg, mux_mp4_mjpeg,
    )

    with pytest.raises(ValueError, match="no samples"):
        decode_mp4_frames(mux_mp4_mjpeg([], 4, 8, 8))
    with pytest.raises(ValueError, match="no samples"):
        decode_avi_frames(mux_avi_mjpeg([], 4, 8, 8))


def test_mp4_missing_mdhd_is_clean_boundary():
    from nifi_processors_spark.operators.containers import demux_mp4, mux_mp4_mjpeg
    from nifi_processors_spark.operators.jpeg import encode_jpeg

    mp4 = bytearray(mux_mp4_mjpeg([encode_jpeg(_mjpeg_frames(1)[0])], 4, 32, 24))
    i = mp4.find(b"mdhd")
    mp4[i : i + 4] = b"free"  # hide the box
    with pytest.raises(ValueError, match="missing mdhd"):
        demux_mp4(bytes(mp4))


def test_sampler_respects_true_container_duration(spark):
    """A 1-frame 4 fps MP4 is 250 ms of video: sampling at 500 ms must
    emit exactly ONE row (ts=0), like the equivalent y4m does — not a
    phantom second row at ts=500."""
    from nifi_processors_spark.operators.containers import mux_mp4_mjpeg
    from nifi_processors_spark.operators.jpeg import encode_jpeg

    mp4 = mux_mp4_mjpeg([encode_jpeg(_mjpeg_frames(1)[0], quality=90)], 4, 32, 24)
    media = spark.createDataFrame(
        [(1, "video", mp4, "video/mp4", 32, 24, 250)], MEDIA_SCHEMA
    )
    out = sample_video_frames(media, every_ms=500, max_frames=8).toPandas()
    assert out.error_reason.isna().all()
    assert list(out.frame_ts_ms) == [0]
    assert list(out.frame_idx) == [0]
