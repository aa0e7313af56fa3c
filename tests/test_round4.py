"""Round-4 regression tests: PNG + y4m real codecs, vectorized BMP,
metrics recovery after a sink outage, staged-pin drain via the driver registry, and maintenance-op safety."""

from __future__ import annotations

import json

import numpy as np
import pytest


# --------------------------------------------------------------------------
# codecs
# --------------------------------------------------------------------------

def test_png_roundtrip_all_filters():
    """encode_png assigns filter type row % 5, so any image with ≥5
    rows exercises None/Sub/Up/Average/Paeth; random bytes make a
    mis-unfilter certain to differ."""
    from nifi_processors_spark.operators.multimodal import (
        decode_png, encode_png,
    )

    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (4, 12), (7, 3), (17, 23), (64, 40)]:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        payload = encode_png(img)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        assert np.array_equal(decode_png(payload), img), (h, w)


def test_png_decoder_rejects_unsupported():
    from nifi_processors_spark.operators.multimodal import decode_png

    with pytest.raises(ValueError):
        decode_png(b"notapng")
    # 16-bit/interlaced became supported in round 5; spec-illegal
    # depth/color combinations are the remaining hard boundary
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_bad = (
        (13).to_bytes(4, "big") + b"IHDR"
        + (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
        + bytes([16, 3, 0, 0, 0]) + b"\x00" * 4  # 16-bit palette: illegal
    )
    with pytest.raises(ValueError):
        decode_png(sig + ihdr_bad)


def test_bmp_decode_is_vectorized_and_padded_rows_exact():
    """Odd widths force nonzero row padding; the single-frombuffer
    decode must slice the pad and undo bottom-up + BGR exactly."""
    from nifi_processors_spark.operators.multimodal import (
        decode_bmp, encode_bmp,
    )

    rng = np.random.RandomState(5)
    for w in (1, 2, 3, 5, 31):
        img = rng.randint(0, 256, (6, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img), w


def test_y4m_roundtrip_and_frame_markers():
    from nifi_processors_spark.operators.multimodal import (
        decode_y4m, encode_y4m,
    )

    rng = np.random.RandomState(3)
    y, u, v = (rng.randint(0, 256, (3, 4, 6), dtype=np.uint8) for _ in range(3))
    payload = encode_y4m(y, u, v, fps=4)
    assert payload.startswith(b"YUV4MPEG2 W6 H4 F4:1")
    y2, u2, v2, fps = decode_y4m(payload)
    assert fps == 4
    assert np.array_equal(y, y2) and np.array_equal(u, u2) and np.array_equal(v, v2)
    # corrupt a FRAME marker → hard failure, not silent garbage
    bad = payload.replace(b"FRAME\n", b"FRAMX\n", 1)
    with pytest.raises(ValueError):
        decode_y4m(bad)


def test_sample_video_frames_real_y4m(spark):
    """The frame sampler decodes y4m FOR REAL: sampled frames are the
    exact Y planes at the stream's own frame rate (fps=4 → 250 ms per
    frame; every_ms=500 picks frames 0, 2)."""
    from nifi_processors_spark.operators.multimodal import (
        MEDIA_SCHEMA, _synth_video, encode_y4m, sample_video_frames,
    )

    d = 6
    y, u, v = _synth_video(d)
    assert y.shape[0] >= 2
    rows = [
        {
            "media_id": d,
            "kind": "video",
            "payload": encode_y4m(y, u, v, fps=4),
            "mime": "video/x-yuv4mpeg",
            "width": int(y.shape[2]),
            "height": int(y.shape[1]),
            "duration_ms": int(y.shape[0] * 250),
        }
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_video_frames(media, every_ms=500, max_frames=8).collect()
    got = {r["frame_idx"]: bytes(r["frame"]) for r in out}
    assert set(got) == ({0, 2} if y.shape[0] > 2 else {0})
    for idx, frame in got.items():
        assert frame == y[idx].tobytes()
    ts = {r["frame_idx"]: r["frame_ts_ms"] for r in out}
    assert ts[0] == 0


def test_synth_media_covers_four_kinds_and_real_decode(spark):
    """The corpus now spans audio/image(BMP,PPM,PNG)/video and
    media_stats decodes every payload for real (no fake flag)."""
    from nifi_processors_spark.operators.multimodal import (
        media_stats, synth_media,
    )

    docs = spark.range(0, 32).withColumnRenamed("id", "doc_id")
    media = synth_media(docs)
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"audio", "image", "video"}
    mimes = {r["mime"] for r in media.select("mime").distinct().collect()}
    assert {"image/bmp", "image/x-portable-pixmap", "image/png",
            "audio/wav", "video/x-yuv4mpeg"} <= mimes
    stats = media_stats(media).collect()
    assert len(stats) == 32
    vids = [r for r in stats if r["kind"] == "video"]
    assert vids and all(r["n_units"] == r["width"] * r["height"] * (
        2 + r["media_id"] % 3
    ) for r in vids)


# --------------------------------------------------------------------------
# metrics emitter
# --------------------------------------------------------------------------

def test_metrics_flush_recovers_in_order(tmp_path):
    """Records written across a sink outage: the first good write
    leads with the count of the records the outage dropped, then the
    new records in call order."""
    from nifi_processors_spark.streaming.metrics import MetricsEmitter

    blocker = tmp_path / "blocker"
    blocker.write_text("")  # a file where the sink's directory should be
    em = MetricsEmitter(level="detailed", path=str(blocker / "m.jsonl"))
    shard_rows = [{"shard": 0, "n_events": 1}, {"shard": 1, "n_events": 2}]
    for b in range(3):
        em.record_batch(b, {"n_upserts": b}, shard_rows)
    assert em._dropped == 9

    good = tmp_path / "sub" / "m.jsonl"
    em.path = str(good)  # the sink recovers
    for b in (3, 4):
        em.record_batch(b, {"n_upserts": b}, shard_rows)
    recs = [json.loads(line) for line in open(good)]
    assert recs[0] == {"ns": "cdc", "kind": "dropped", "count": 9}
    assert [(r["kind"], r["batch_id"]) for r in recs[1:]] == [
        (k, b) for b in (3, 4) for k in ("batch", "shard", "shard")
    ]
    assert em._dropped == 0


# --------------------------------------------------------------------------
# maintenance-op concurrency + DLQ retention (round-3 VERDICT #2, #8)
# --------------------------------------------------------------------------

def test_expire_grace_protects_staged_commit(spark, tmp_path):
    """expire_snapshots must never sweep a concurrent writer's STAGED
    commit (data written, manifest not yet linked — the exact window
    between the write job and the atomic os.link). The grace window is
    the guard: young unreferenced files are kept; an old orphan (a
    loser attempt whose cleanup died) is collected."""
    import os
    import time

    from nifi_processors_spark.schema import (
        KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.synth import SynthSpec, generate_events
    from nifi_processors_spark.table import TransactionalTable

    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4,
    )
    ev = generate_events(SynthSpec(n_conversations=10, turns_per_conv=3,
                                   n_shards=2, seed=41))
    df = spark.createDataFrame(ev.drop(columns=["arrival_idx"], errors="ignore"))
    n = len(ev)
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        t.merge(
            spark.createDataFrame(
                ev.iloc[lo:hi].drop(columns=["arrival_idx"], errors="ignore")
            ),
            "s", i,
        )
    # simulate the in-flight writer: staged data file, no manifest yet
    staged_dir = os.path.join(str(tmp_path / "t"), "data",
                              "commit-000000000099-deadbeef", "_bucket=0")
    os.makedirs(staged_dir)
    staged_file = os.path.join(staged_dir, "part-00000.parquet")
    with open(staged_file, "wb") as f:
        f.write(b"PAR1stub")
    # and an old orphan from a crashed loser attempt
    orphan_dir = os.path.join(str(tmp_path / "t"), "data",
                              "commit-000000000001-0badf00d", "_bucket=0")
    os.makedirs(orphan_dir)
    orphan_file = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan_file, "wb") as f:
        f.write(b"PAR1old")
    old = time.time() - 7200
    os.utime(orphan_file, (old, old))

    st = t.expire_snapshots(keep_last=1, grace_secs=600)
    assert os.path.exists(staged_file), "staged commit survived expiry"
    assert not os.path.exists(orphan_file), "aged orphan collected"
    assert st["skipped_in_grace"] >= 1
    # the staged writer can still finish: nothing it references is gone
    assert t.read().count() > 0


def test_dlq_compaction_preserves_appends_and_bounds_files(spark, tmp_path):
    """A keyed quarantine table written by ``append`` (an insert-only
    merge): redelivered bad events of one key keep ONE live row, the
    null-key row survives as its own key, and compact() folds the
    per-append delta slivers without changing either; expire then
    bounds manifests."""
    import os

    from pyspark.sql import types as T
    from nifi_processors_spark.table import TransactionalTable

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("error_reason", T.StringType(), True),
    ])
    t = TransactionalTable.create(
        spark, str(tmp_path / "dlq"), schema, ["conv_id", "turn_idx"],
        lww_cols=["seq"], n_buckets=1, merge_strategy="merge-on-read",
    )
    rows = [("c1", 0, "bad"), ("c1", 0, "bad"), (None, None, "null-key")]
    for b in range(8):
        t.append(spark.createDataFrame(rows, schema), "dlq", b)

    def live():  # (live rows, null-key rows): one row per key
        return t.read().count(), t.read().filter("conv_id IS NULL").count()

    assert live() == (2, 1)
    files_before = len(t.manifest()["files"])
    assert files_before >= 8

    st = t.compact()
    assert st["files_after"] < files_before
    assert live() == (2, 1)

    t.expire_snapshots(keep_last=2, grace_secs=0.0)
    logs = os.listdir(os.path.join(str(tmp_path / "dlq"), "_log"))
    assert len([f for f in logs if f.endswith(".json")]) == 2
    assert live() == (2, 1)


# --------------------------------------------------------------------------
# staged-pin drain through the driver registry
# --------------------------------------------------------------------------

def test_registry_wrapper_drains_previous_pins(spark):
    """Round-3 VERDICT "What's wrong" #1: running a staged query (which
    persists intermediates) followed by any other registry query leaves
    no pinned RDDs behind — the wrapper drains before each build, and
    the registry's tail is non-staged, so a full driver pass ends
    clean."""
    import __spark_entry__ as E
    from nifi_processors_spark.plans.sql_queries import _PINNED

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    staged = qs["doc_dedup_minhash_lsh"](spark, sf)
    staged.count()  # materialize like the driver harness does
    assert _PINNED, "staged query pins intermediates while live"
    out = qs["doc_token_stats"](spark, sf)
    out.count()
    assert not _PINNED
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    assert jrdds.size() == 0, "no cached RDDs after a staged→plain pass"


# --------------------------------------------------------------------------
# round-4 self-review regressions
# --------------------------------------------------------------------------

def test_bmp_tolerates_missing_final_row_padding():
    """Some BMP writers omit the final row's pad bytes; the vectorized
    decoder must accept that (as the old per-row loop did) but reject
    true pixel truncation."""
    from nifi_processors_spark.operators.multimodal import (
        decode_bmp, encode_bmp,
    )

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (6, 3, 3), dtype=np.uint8)  # 3 pad bytes/row
    payload = encode_bmp(img)
    clipped = payload[:-3]  # drop final row's padding only
    assert np.array_equal(decode_bmp(clipped), img)
    with pytest.raises(ValueError):
        decode_bmp(payload[:-5])  # cuts into the last row's pixels


def test_y4m_c420_roundtrip_and_default_colorspace():
    """C420 (the y4m default and the common real-world layout):
    half-size chroma planes round-trip exactly, a header WITHOUT a C
    tag decodes as C420 per spec, and the C420jpeg/mpeg2 suffixes are
    accepted (identical plane layout, different chroma siting)."""
    from nifi_processors_spark.operators.multimodal import (
        decode_y4m, encode_y4m,
    )

    rng = np.random.RandomState(29)
    y = rng.randint(0, 256, (3, 8, 12), dtype=np.uint8)
    u = rng.randint(0, 256, (3, 4, 6), dtype=np.uint8)
    v = rng.randint(0, 256, (3, 4, 6), dtype=np.uint8)
    payload = encode_y4m(y, u, v, fps=25)
    assert b" C420\n" in payload
    y2, u2, v2, fps = decode_y4m(payload)
    assert fps == 25
    assert np.array_equal(y, y2) and np.array_equal(u, u2) and np.array_equal(v, v2)
    # no C tag → C420 by spec default
    no_tag = payload.replace(b" C420", b"", 1)
    y3, u3, _v3, _ = decode_y4m(no_tag)
    assert np.array_equal(y, y3) and np.array_equal(u, u3)
    # siting-suffix variants parse identically
    for suffix in (b"C420jpeg", b"C420mpeg2", b"C420paldv"):
        y4, _, _, _ = decode_y4m(payload.replace(b"C420", suffix, 1))
        assert np.array_equal(y, y4)
    # odd dimensions cannot be C420
    with pytest.raises(ValueError):
        encode_y4m(y[:, :7, :], u, v)


# --------------------------------------------------------------------------
# baseline JPEG codec (pure numpy + stdlib — closes the compressed-image
# boundary; lossy, so pytest-gated on bounded error, never in the
# integer-exact media oracle)
# --------------------------------------------------------------------------

def test_jpeg_roundtrip_bounded_error_444_and_420():
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    r = np.arange(40).reshape(40, 1)
    c = np.arange(56).reshape(1, 56)
    img = np.stack([
        np.clip(2 * r + c, 0, 255),
        np.clip(r + 2 * c, 0, 255),
        np.clip(120 + r - c // 2, 0, 255),
    ], axis=-1).astype(np.uint8)
    for subsample in (False, True):
        out = decode_jpeg(encode_jpeg(img, quality=92, subsample=subsample))
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 8, ("444", subsample, err.max())
    # odd dimensions force MCU padding + crop on the 4:2:0 path
    odd = img[:37, :51]
    out = decode_jpeg(encode_jpeg(odd, quality=92, subsample=True))
    assert out.shape == odd.shape
    assert np.abs(out.astype(int) - odd.astype(int)).max() <= 8


def test_jpeg_grayscale_near_exact_and_noise_q100():
    from nifi_processors_spark.operators.jpeg import decode_jpeg, encode_jpeg

    r = np.arange(24).reshape(24, 1)
    c = np.arange(33).reshape(1, 33)
    g = np.clip(3 * r + 2 * c, 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=95))
    assert out.shape == (24, 33, 3)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 2
    # q100 quantizes by ~1: even noise survives almost exactly — any
    # zigzag/huffman/DCT mis-plumbing would blow this bound up
    noise = np.random.RandomState(1).randint(0, 256, (16, 16, 3), dtype=np.uint8)
    outn = decode_jpeg(encode_jpeg(noise, quality=100))
    assert np.abs(outn.astype(int) - noise.astype(int)).max() <= 4


def test_jpeg_decoder_honest_boundaries():
    from nifi_processors_spark.operators.jpeg import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"nope")
    # progressive (SOF2) became supported in round 5; arithmetic-coded
    # (SOF9) remains the honest boundary and must say so
    sof9 = (b"\xff\xd8" + b"\xff\xc9" + (11).to_bytes(2, "big")
            + bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
            + bytes([1, 1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        decode_jpeg(sof9)


def test_jpeg_decodes_real_world_files_when_present():
    """Independent-encoder validation: baseline JPEGs produced by real
    encoders (4:2:0 logos, a DRI/RSTn photo) must decode. Skipped when
    the host fixtures are absent."""
    import os

    from nifi_processors_spark.operators.jpeg import decode_jpeg

    candidates = [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
        "python3.11/test/imghdrdata/python.jpg",
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
        "share/doc/rust/html/embedded-book/assets/verify.jpeg",
    ]
    found = [p for p in candidates if os.path.exists(p)]
    if not found:
        pytest.skip("no real-world JPEG fixtures on this host")
    for p in found:
        out = decode_jpeg(open(p, "rb").read())
        assert out.ndim == 3 and out.shape[2] == 3 and out.size > 0
        assert out.std() > 0  # decoded actual content, not a flat fill


def test_image_features_accept_jpeg_payloads(spark):
    """Spark plumbing: JPEG payloads ride the same mapInPandas
    feature-extract path as the lossless codecs."""
    from nifi_processors_spark.operators.jpeg import encode_jpeg
    from nifi_processors_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_image_features,
    )

    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    rows = [{
        "media_id": 1, "kind": "image", "payload": encode_jpeg(img),
        "mime": "image/jpeg", "width": 16, "height": 16, "duration_ms": None,
    }]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_image_features(media, resize=(8, 8)).collect()
    assert len(out) == 1
    feats = out[0]["feat"]
    assert len(feats) == 64
    assert all(abs(f - 128 / 255.0) < 0.05 for f in feats)


def test_png_color_types_gray_palette_rgba():
    """Hand-built PNGs for color types 0/3/4/6 decode to the expected
    RGB (grayscale replicated, palette resolved, alpha dropped)."""
    import zlib

    from nifi_processors_spark.operators.multimodal import (
        _png_chunk, decode_png,
    )

    sig = b"\x89PNG\r\n\x1a\n"

    def build(color, bpp, rows, extra=b""):
        ihdr = (
            (2).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, color, 0, 0, 0])
        )
        raw = b"".join(b"\x00" + r for r in rows)  # filter 0 per row
        return (
            sig + _png_chunk(b"IHDR", ihdr) + extra
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    # type 0 grayscale
    g = build(0, 1, [bytes([10, 20]), bytes([30, 40])])
    out = decode_png(g)
    assert out[0, 0].tolist() == [10, 10, 10] and out[1, 1].tolist() == [40, 40, 40]
    # type 3 paletted
    plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255]))
    p = build(3, 1, [bytes([0, 1]), bytes([2, 0])], extra=plte)
    out = decode_png(p)
    assert out[0, 1].tolist() == [0, 255, 0] and out[1, 0].tolist() == [0, 0, 255]
    # type 6 RGBA (alpha dropped)
    rgba_rows = [bytes([1, 2, 3, 255, 4, 5, 6, 0]),
                 bytes([7, 8, 9, 128, 10, 11, 12, 64])]
    out = decode_png(build(6, 4, rgba_rows))
    assert out[0, 1].tolist() == [4, 5, 6] and out[1, 1].tolist() == [10, 11, 12]
    # type 4 gray+alpha
    out = decode_png(build(4, 2, [bytes([50, 255, 60, 0]),
                                  bytes([70, 1, 80, 2])]))
    assert out[0, 1].tolist() == [60, 60, 60]


def test_png_decoder_cross_validates_against_ppm_when_present():
    """Independent-encoder validation: the same source image decoded
    through two unrelated paths (real-world paletted PNG vs binary
    PPM) must be pixel-identical."""
    import os

    from nifi_processors_spark.operators.multimodal import (
        decode_png, decode_ppm,
    )

    base = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "python3.11/test/imghdrdata/")
    if not os.path.exists(base + "python.png"):
        pytest.skip("no real-world PNG fixture on this host")
    pn = decode_png(open(base + "python.png", "rb").read())
    pp = decode_ppm(open(base + "python.ppm", "rb").read())
    assert np.array_equal(pn, pp)
