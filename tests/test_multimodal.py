"""Multimodal binary-column tests: the pure-Python decoders, and the
Spark schema/batching/pruning around them."""

import hashlib

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
    metadata_stats,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG-fake-payload-1", 640, 480, None),
        (2, "image", "image/png", b"\x89PNG-fake-payload-22", 800, 600, None),
        (3, "audio", "audio/wav", b"RIFF-fake-wav", None, None, 2000),
        (4, "video", "video/mp4", None, 1920, 1080, 60000),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_real_decode_wav_ppm_end_to_end(spark):
    """Pure-Python WAV/PPM parsers recover the exact encoded content
    (n_elements + checksum); payload bytes and sha ride along, and
    junk rows survive with null features."""
    from yandex_tracker_exporter_spark.multimodal import encode_ppm, encode_wav

    samples = [100, -200, 300, -400, 32767, -32768]
    pix = bytes(range(48))
    rows = [
        (1, "audio", "audio/wav", encode_wav(samples, 8000), None, None, None),
        (2, "image", "image/ppm", encode_ppm(4, 4, pix), 4, 4, None),
        (3, "image", "image/png", b"\x89PNG-not-parseable", None, None, None),
        (4, "video", "video/mp4", None, None, None, 1000),
    ]
    feats = {
        r["media_id"]: r
        for r in extract_media_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert set(feats) == {1, 2, 3, 4}
    assert feats[1]["payload_sha256"] == hashlib.sha256(rows[0][3]).hexdigest()
    assert feats[1]["payload_bytes"] == len(rows[0][3])
    assert feats[1]["feature_dim"] == len(samples)
    assert feats[1]["feature_checksum"] == sum(samples)
    assert feats[2]["feature_dim"] == 48
    assert feats[2]["feature_checksum"] == sum(pix)
    # unparseable / null payloads are quarantined (null features), not errors
    assert feats[3]["feature_checksum"] is None
    assert feats[3]["payload_bytes"] == len(b"\x89PNG-not-parseable")
    assert feats[4]["feature_checksum"] is None
    assert feats[4]["payload_sha256"] is None  # null payload survives
    assert feats[4]["payload_bytes"] == 0


def test_decode_media_full_surface(spark):
    """decode_media emits format-specific header fields from real parses."""
    from yandex_tracker_exporter_spark.multimodal import (
        decode_media,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    frames = [bytes([i] * 27) for i in range(10)]
    rows = [
        (1, "audio", None, encode_wav([5, 6, 7, 8] * 2000, 16000), None, None, None),
        (2, "image", None, encode_ppm(3, 3, bytes(27)), None, None, None),
        (3, "video", None, encode_y4m(3, 3, frames, (25, 1)), None, None, None),
    ]
    got = {
        r["media_id"]: r
        for r in decode_media(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    }
    assert got[1]["format"] == "wav" and got[1]["sample_rate"] == 16000
    assert got[1]["n_elements"] == 8000 and got[1]["duration_ms"] == 500
    assert got[1]["content_checksum"] == (5 + 6 + 7 + 8) * 2000
    assert got[2]["format"] == "ppm" and got[2]["width"] == 3
    assert got[2]["content_checksum"] == 0 and got[2]["sample_rate"] is None
    assert got[3]["format"] == "y4m" and got[3]["n_frames"] == 10
    assert got[3]["duration_ms"] == 400  # 10 frames at 25 fps
    assert got[3]["content_checksum"] == sum(sum(f) for f in frames)


def test_sample_frames_real_y4m(spark):
    """Real frame sampling: Y4M parse → every-Nth-frame → hash of the
    actual raw frame bytes."""
    import hashlib as _hl

    from yandex_tracker_exporter_spark.multimodal import encode_y4m, sample_frames

    frames = [bytes([i] * 12) for i in range(50)]  # 2x2 C444, 50 frames @ 25fps
    rows = [
        (1, "video", "video/y4m", encode_y4m(2, 2, frames, (25, 1)), None, None, 2000),
        (2, "video", "video/mp4", b"not-a-y4m", None, None, 1000),
    ]
    got = sample_frames(spark.createDataFrame(rows, MEDIA_SCHEMA), every_ms=1000).collect()
    # 1000ms at 25fps → every 25th frame: indices 0 and 25; id 2 quarantined
    assert {r["media_id"] for r in got} == {1}
    by_idx = sorted(got, key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in by_idx] == [0, 25]
    assert [r["frame_ts_ms"] for r in by_idx] == [0, 1000]
    assert by_idx[1]["frame_sha256"] == _hl.sha256(frames[25]).hexdigest()


def test_codec_roundtrips():
    """Pure-Python codec invariants, no Spark involved."""
    from yandex_tracker_exporter_spark.multimodal import (
        decode_ppm,
        decode_wav,
        decode_y4m,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    d = decode_wav(encode_wav([1, -1, 1000], 8000, n_channels=1))
    assert (d["n_elements"], d["sample_rate"], d["bits_per_sample"]) == (3, 8000, 16)
    # stereo: n_frames halves the duration relative to sample count
    d2 = decode_wav(encode_wav([0] * 16000, 8000, n_channels=2))
    assert d2["duration_ms"] == 1000
    # comment-tolerant PPM header
    pix = bytes(range(48))
    assert decode_ppm(b"P6\n# comment\n4 4\n255\n" + pix)["content_checksum"] == sum(pix)
    with pytest.raises(ValueError):
        decode_ppm(b"P5\nnot-p6")
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVE")  # no fmt/data chunks
    y = decode_y4m(encode_y4m(2, 2, [bytes(12)] * 4, (30, 1)))
    assert y["n_frames"] == 4 and y["duration_ms"] == 133


def test_metadata_stats_prunes_payload(spark, media, tmp_path):
    # column pruning must reach the scan: a metadata aggregate over the
    # parquet table must not read the payload column
    path = str(tmp_path / "media")
    media.write.parquet(path)
    stats = metadata_stats(spark.read.parquet(path))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan
    got = {r["kind"]: r["n_media"] for r in stats.collect()}
    assert got == {"image": 2, "audio": 1, "video": 1}


def test_frame_sampling_explodes_rows(spark, media):
    import hashlib as _hl

    from yandex_tracker_exporter_spark.multimodal import encode_y4m, sample_frames

    # add a video WITH payload (fixture video 4 has null payload): 7
    # frames at 2 fps = 3500 ms
    frames = [bytes([i] * 12) for i in range(7)]
    extra = spark.createDataFrame(
        [(5, "video", "video/y4m", encode_y4m(2, 2, frames, (2, 1)), None, None, 3500)],
        media.schema,
    )
    got = sample_frames(media.union(extra), every_ms=1000).collect()
    # 1000ms sampling at 2 fps → every 2nd frame: 0,1000,2000,3000 ms
    assert {f["media_id"] for f in got} == {5}
    by_idx = sorted(got, key=lambda r: r["frame_idx"])
    assert [f["frame_idx"] for f in by_idx] == [0, 2, 4, 6]
    assert [f["frame_ts_ms"] for f in by_idx] == [0, 1000, 2000, 3000]
    assert by_idx[1]["frame_sha256"] == _hl.sha256(frames[2]).hexdigest()


def test_frame_sampling_negative_duration_is_skipped(spark, media):
    """Frames come from the decoded payload, never from the
    ``duration_ms`` metadata: a negative duration neither crashes the
    task nor suppresses a decodable video, and payloads that do not
    decode to frames (zero frame rate, no FRAME, not Y4M) are skipped
    instead of failing the task."""
    from yandex_tracker_exporter_spark.multimodal import encode_y4m, sample_frames

    hdr = b"YUV4MPEG2 W2 H2 F0:1 C444\n"
    extra = spark.createDataFrame(
        [
            (6, "video", "video/y4m", hdr + b"FRAME\n" + bytes(12), None, None, -1500),
            (7, "video", "video/y4m", encode_y4m(2, 2, [bytes(12)] * 3, (2, 1)),
             None, None, -1500),
            (8, "video", "video/y4m", encode_y4m(2, 2, [], (2, 1)), None, None, 0),
            (9, "video", "video/mp4", b"negative-duration", None, None, -1500),
        ],
        media.schema,
    )
    frames = sample_frames(media.union(extra), every_ms=1000).collect()
    assert {f["media_id"] for f in frames} == {7}
    assert len(frames) == 2  # 3 frames at 2 fps: 0ms and 1000ms


def test_codec_properties():
    """Property-based codec invariants (hypothesis): encode→decode is
    the identity on (params, content checksum) for arbitrary content."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from yandex_tracker_exporter_spark.multimodal import (
        decode_ppm,
        decode_wav,
        decode_y4m,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767), max_size=300),
        st.sampled_from([8000, 16000, 44100]),
    )
    def wav_roundtrip(samples, rate):
        d = decode_wav(encode_wav(samples, rate))
        assert d["n_elements"] == len(samples)
        assert d["sample_rate"] == rate
        assert d["content_checksum"] == sum(samples)
        assert d["duration_ms"] == len(samples) * 1000 // rate

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 8), st.integers(1, 8), st.binary(min_size=0, max_size=192))
    def ppm_roundtrip(w, h, extra):
        pix = (extra * (w * h * 3 // max(len(extra), 1) + 1))[: w * h * 3]
        if len(pix) < w * h * 3:
            pix = pix + bytes(w * h * 3 - len(pix))
        d = decode_ppm(encode_ppm(w, h, pix))
        assert (d["width"], d["height"]) == (w, h)
        assert d["content_checksum"] == sum(pix)

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 4), st.integers(1, 4), st.integers(0, 6), st.integers(1, 60))
    def y4m_roundtrip(w, h, n_frames, fps):
        frames = [bytes([(i * 7) % 256] * (w * h * 3)) for i in range(n_frames)]
        d = decode_y4m(encode_y4m(w, h, frames, (fps, 1)))
        assert d["n_frames"] == n_frames
        assert d["duration_ms"] == n_frames * 1000 // fps
        assert d["content_checksum"] == sum(sum(f) for f in frames)

    from yandex_tracker_exporter_spark.multimodal import _png_raster, encode_png

    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 8), st.integers(1, 12), st.binary(min_size=0, max_size=288))
    def png_roundtrip(w, h, extra):
        # heights up to 12 exercise every filter (row % 5) at least twice
        pix = (extra * (w * h * 3 // max(len(extra), 1) + 1))[: w * h * 3]
        if len(pix) < w * h * 3:
            pix = pix + bytes(w * h * 3 - len(pix))
        assert _png_raster(encode_png(w, h, pix)).tobytes() == pix

    wav_roundtrip()
    ppm_roundtrip()
    y4m_roundtrip()
    png_roundtrip()


def test_audio_frame_energy_exact(spark):
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from yandex_tracker_exporter_spark.multimodal import (
        audio_frame_energy,
        encode_wav,
    )

    # 5 samples with frame_size=4: frame 0 = [3,-4,5,-6] -> 86, frame 1 = [7] -> 49
    wav = encode_wav([3, -4, 5, -6, 7])
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("payload", BinaryType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not-a-wav")), (3, None)], schema
    )
    out = sorted(
        (r.media_id, r.frame_idx, r.n_samples, r.energy)
        for r in audio_frame_energy(df, frame_size=4).collect()
    )
    assert out == [(1, 0, 4, 86), (1, 1, 1, 49)]


def test_image_histogram_counts_all_pixels(spark):
    """Every decoded image contributes exactly 48 pixels (4×4×3), split
    16 per channel — the conservation check for the histogram kernel."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from yandex_tracker_exporter_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n_images = docs.where(F.col("doc_id") % 2 == 1).count()
    rows = entry_mod.queries()["media_image_histogram"](spark, sf).collect()
    per_channel = {}
    for r in rows:
        per_channel[r["channel"]] = per_channel.get(r["channel"], 0) + r["n_pixels"]
    assert per_channel == {0: 16 * n_images, 1: 16 * n_images, 2: 16 * n_images}


def test_png_codec_roundtrip_all_filters():
    """encode_png uses filter row % 5, so a 4×5 image exercises every
    PNG scanline filter; the decoder must invert each exactly. Also
    covers CRC rejection and the non-RGB guard."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _decode_payload_real,
        _png_raster,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for w, h in [(4, 5), (1, 7), (9, 6)]:
        pix = rng.randint(0, 256, size=w * h * 3).astype(np.uint8).tobytes()
        payload = encode_png(w, h, pix)
        assert _png_raster(payload).tobytes() == pix
        d = decode_png(payload)
        assert (d["format"], d["width"], d["height"]) == ("png", w, h)
        assert d["n_elements"] == w * h * 3
        assert d["content_checksum"] == sum(pix)
    # a flipped byte breaks the chunk CRC → quarantine (None), not raise
    corrupt = bytearray(encode_png(4, 5, bytes(range(60))))
    corrupt[40] ^= 0xFF
    assert _decode_payload_real(bytes(corrupt)) is None
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"garbage")


def test_resize_images_nearest_neighbor_exact(spark):
    """Resize picks exact source pixels (dst*in//out index math): a 4×4
    image with distinct per-pixel values resized to 2×2 must contain
    pixels (0,0), (0,2), (2,0), (2,2) — and a PNG carrying the SAME
    raster must resize to the SAME bytes (codec-independent). Corrupt
    payloads are skipped."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        encode_png,
        encode_ppm,
        resize_images,
    )

    raster = np.arange(48, dtype=np.uint8)  # 4x4x3, all distinct
    rows = [
        (1, bytearray(encode_ppm(4, 4, raster.tobytes()))),
        (2, bytearray(encode_png(4, 4, raster.tobytes()))),
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in resize_images(df, 2, 2).collect()}
    assert set(out) == {1, 2}, "corrupt payload must be skipped"
    img = raster.reshape(4, 4, 3)
    expected = img[[0, 2]][:, [0, 2], :].tobytes()
    for mid in (1, 2):
        r = out[mid]
        assert (r["width"], r["height"]) == (2, 2)
        assert bytes(r["payload"]).endswith(expected)
        assert r["content_checksum"] == sum(expected)
    assert bytes(out[1]["payload"]) == bytes(out[2]["payload"])


def test_png_histogram_conserves_pixels(spark):
    """Every non-empty doc contributes exactly 60 raster bytes (4×5×3),
    20 per channel, through the COMPRESSED decode path — the same
    conservation law as the PPM histogram."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from yandex_tracker_exporter_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n_images = docs.where(F.length("text") > 0).count()
    rows = entry_mod.queries()["media_png_histogram"](spark, sf).collect()
    per_channel = {}
    for r in rows:
        per_channel[r["channel"]] = per_channel.get(r["channel"], 0) + r["n_pixels"]
    assert per_channel == {0: 20 * n_images, 1: 20 * n_images, 2: 20 * n_images}


def test_ppm_trailing_bytes_quarantined(spark):
    """A P6 payload with trailing bytes (e.g. a trailing newline some
    writers emit) must be REJECTED by the raster slicer, not silently
    decoded with every pixel shifted (driver ADVICE r5: the old slicer
    took width*height*3 bytes from the END of the payload)."""
    import numpy as np

    import pytest

    from yandex_tracker_exporter_spark.multimodal import (
        _ppm_pixels,
        decode_ppm,
        encode_ppm,
        resize_images,
    )

    raster = bytes(range(48))
    good = encode_ppm(4, 4, raster)
    trailing = good + b"\n"
    assert _ppm_pixels(good).tobytes() == raster
    assert _ppm_pixels(trailing).size == 0, "trailing byte must quarantine"
    # short payloads quarantine too (never a partial raster)
    assert _ppm_pixels(good[:-1]).size == 0
    # decode_ppm applies the SAME rule — an image must never be counted
    # by the metadata/checksum scan yet dropped by histogram/resize
    assert decode_ppm(good)["content_checksum"] == sum(raster)
    with pytest.raises(ValueError):
        decode_ppm(trailing)
    with pytest.raises(ValueError):
        decode_ppm(good[:-1])
    # and resize skips the trailing-byte image instead of shifting pixels
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(trailing))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in resize_images(df, 2, 2).collect()}
    assert set(out) == {1}
    img = np.frombuffer(raster, dtype=np.uint8).reshape(4, 4, 3)
    assert bytes(out[1]["payload"]).endswith(img[[0, 2]][:, [0, 2], :].tobytes())


def test_jpeg_constant_block_roundtrip_exact():
    """Block-constant grayscale input round-trips the REAL baseline JPEG
    pipeline (DCT → quantize → Huffman → decode) bit-exactly: only the
    DC coefficient is nonzero and the DC quantizer divides it — the
    regime that makes the lossy codec oracle-checkable."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _jpeg_decode_planes,
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = np.zeros((16, 16), dtype=np.uint8)
    for b, v in enumerate([0, 255, 128, 37]):
        by, bx = divmod(b, 2)
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
    payload = encode_jpeg_gray(16, 16, img.tobytes())
    planes, w, h = _jpeg_decode_planes(payload)
    assert (w, h) == (16, 16) and len(planes) == 1
    assert np.array_equal(planes[0], img)
    d = decode_jpeg(payload)
    assert d["n_elements"] == 256
    assert d["content_checksum"] == int(img.astype(np.int64).sum())


def test_jpeg_ac_path_vs_independent_idct():
    """The AC decode path (run lengths, ZRL, EOB, amplitude categories,
    dequant, full IDCT) against a NAIVE triple-loop math.cos IDCT —
    an implementation deliberately not shaped like the decoder's
    matrix-multiply."""
    import math
    import random

    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _encode_jpeg_gray_coeffs,
        _jpeg_decode_planes,
        _JPEG_QT_NAT,
    )

    rng = random.Random(42)
    blocks = []
    for _ in range(4):
        blk = np.zeros(64, dtype=np.int32)
        blk[0] = rng.randint(-64, 64)
        for _ in range(10):
            blk[rng.randint(1, 63)] = rng.randint(-30, 30)
        # force a long zero run so ZRL (16-zero escape) is exercised
        blk[1:40] = 0
        blk[49] = rng.randint(1, 20)
        blocks.append(blk)
    payload = _encode_jpeg_gray_coeffs(16, 16, blocks)
    planes, _, _ = _jpeg_decode_planes(payload)

    def naive_idct(coef_nat):
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = math.sqrt(0.125) if u == 0 else 0.5
                        cv = math.sqrt(0.125) if v == 0 else 0.5
                        s += (
                            cu * cv
                            * coef_nat[u * 8 + v] * _JPEG_QT_NAT[u * 8 + v]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                out[x, y] = s
        return np.clip(np.rint(out + 128), 0, 255).astype(np.uint8)

    ref = np.zeros((16, 16), dtype=np.uint8)
    for b, blk in enumerate(blocks):
        by, bx = divmod(b, 2)
        ref[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = naive_idct(blk)
    diff = np.abs(planes[0].astype(int) - ref.astype(int))
    assert diff.max() <= 1  # float summation order can differ at .5 ties


def test_jpeg_420_subsampling_and_restart_markers():
    """3-component 4:2:0 decode (chroma upsampled to full resolution)
    and DRI/RSTn restart chains with DC-predictor resets."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _encode_jpeg_coeffs,
        _jpeg_decode_planes,
    )

    def const_block(v):
        blk = np.zeros(64, dtype=np.int32)
        blk[0] = v - 128  # DC quantizer 8 divides 8*(v-128)
        return blk

    y_vals = [40, 90, 160, 220]
    payload = _encode_jpeg_coeffs(
        16, 16,
        [
            (1, 2, 2, [const_block(v) for v in y_vals]),
            (2, 1, 1, [const_block(77)]),
            (3, 1, 1, [const_block(200)]),
        ],
    )
    planes, w, h = _jpeg_decode_planes(payload)
    assert len(planes) == 3 and (w, h) == (16, 16)
    yexp = np.zeros((16, 16), dtype=np.uint8)
    for b, v in enumerate(y_vals):
        by, bx = divmod(b, 2)
        yexp[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
    assert np.array_equal(planes[0], yexp)
    assert planes[1].shape == (16, 16) and (planes[1] == 77).all()
    assert (planes[2] == 200).all()

    blocks = [const_block(v) for v in [10, 20, 250, 130]]
    restart = _encode_jpeg_coeffs(16, 16, [(1, 1, 1, blocks)], restart_interval=1)
    assert b"\xff\xd0" in restart
    planes, _, _ = _jpeg_decode_planes(restart)
    exp = np.zeros((16, 16), dtype=np.uint8)
    for b, v in enumerate([10, 20, 250, 130]):
        by, bx = divmod(b, 2)
        exp[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
    assert np.array_equal(planes[0], exp)


def test_jpeg_corrupt_payloads_quarantined(spark):
    """Truncated / non-JPEG payloads must yield null or be skipped —
    never crash the scan (the F8 quarantine posture). Progressive and
    12-bit inputs DECODE since round 11; their own corruption shapes
    live in tests/test_jpeg_progressive.py and the wave-4 artifact."""
    import numpy as np
    import pytest as _pt

    from yandex_tracker_exporter_spark.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        jpeg_gray_histogram,
    )

    img = np.full((8, 8), 55, dtype=np.uint8)
    good = encode_jpeg_gray(8, 8, img.tobytes())
    for bad in (good[:20], b"\xff\xd8\xff\xd9", b"not a jpeg"):
        with _pt.raises(ValueError):
            decode_jpeg(bad)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:20])), (3, None)],
        "media_id long, payload binary",
    )
    rows = jpeg_gray_histogram(df).collect()
    assert {r["media_id"] for r in rows} == {1}
    assert sum(r["n_pixels"] for r in rows) == 64


def test_jpeg_histogram_conserves_pixels(spark):
    """Every non-empty doc contributes exactly 256 decoded pixels (four
    constant 8x8 blocks) through the COMPRESSED entropy-coded path."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from yandex_tracker_exporter_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n_images = docs.where(F.length("text") > 0).count()
    rows = entry_mod.queries()["media_jpeg_histogram"](spark, sf).collect()
    assert sum(r["n_pixels"] for r in rows) == 256 * n_images


def test_mp4_box_metadata_roundtrip(spark):
    """encode → box-walk decode recovers duration (timescale-normalized)
    and 16.16 dims exactly; corrupt boxes quarantine."""
    import pytest as _pt

    from yandex_tracker_exporter_spark.multimodal import (
        decode_mp4_meta,
        encode_mp4_meta,
        mp4_metadata_scan,
    )

    m = decode_mp4_meta(encode_mp4_meta(640, 480, 123456))
    assert m == {
        "format": "mp4", "width": 640, "height": 480, "duration_ms": 123456,
    }
    # 90 kHz timescale: duration numerically exact via integer div
    m = decode_mp4_meta(encode_mp4_meta(17, 19, 599999, timescale=90000))
    assert (m["width"], m["height"]) == (17, 19)
    assert abs(m["duration_ms"] - 599999) <= 1
    with _pt.raises(ValueError):
        decode_mp4_meta(b"\x00\x00\x00\x08mdat")  # no moov
    good = encode_mp4_meta(320, 240, 60000)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:30])), (3, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in mp4_metadata_scan(df).collect()}
    assert set(rows) == {1}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["duration_ms"]) == (
        320, 240, 60000,
    )


def test_jpeg_mp4_decoders_never_crash_on_fuzz():
    """Quarantine hardening: arbitrary byte soup, truncations of valid
    files, and bit flips must raise ValueError/struct.error (→ null in
    the scan kernels), never hang or raise anything else."""
    import random
    import struct as _struct

    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        decode_jpeg,
        decode_mp4_meta,
        encode_jpeg_gray,
        encode_mp4_meta,
    )

    rng = random.Random(7)
    img = np.full((16, 16), 99, dtype=np.uint8)
    good_jpeg = encode_jpeg_gray(16, 16, img.tobytes())
    good_mp4 = encode_mp4_meta(320, 240, 5000)
    ok = (ValueError, _struct.error, IndexError)
    for payload in (
        [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
         for _ in range(50)]
        + [good_jpeg[:k] for k in range(0, len(good_jpeg), 7)]
        + [good_mp4[:k] for k in range(0, len(good_mp4), 7)]
    ):
        for decoder in (decode_jpeg, decode_mp4_meta):
            try:
                decoder(payload)
            except ok:
                pass  # quarantine path
    # single-bit flips over the whole valid JPEG: decode either succeeds
    # (flip in padding/amplitude) or quarantines — no other outcome
    for pos in range(0, len(good_jpeg), 3):
        flipped = bytearray(good_jpeg)
        flipped[pos] ^= 0x10
        try:
            decode_jpeg(bytes(flipped))
        except ok:
            pass


def test_jpeg_422_subsampling():
    """4:2:2 (h=2, v=1 luma): two Y blocks + one Cb + one Cr per MCU,
    chroma replicated horizontally only."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _encode_jpeg_coeffs,
        _jpeg_decode_planes,
    )

    def const_block(v):
        blk = np.zeros(64, dtype=np.int32)
        blk[0] = v - 128
        return blk

    payload = _encode_jpeg_coeffs(
        16, 8,
        [
            (1, 2, 1, [const_block(50), const_block(180)]),
            (2, 1, 1, [const_block(60)]),
            (3, 1, 1, [const_block(210)]),
        ],
    )
    planes, w, h = _jpeg_decode_planes(payload)
    assert (w, h) == (16, 8) and len(planes) == 3
    assert (planes[0][:, :8] == 50).all() and (planes[0][:, 8:] == 180).all()
    assert planes[1].shape == (8, 16) and (planes[1] == 60).all()
    assert (planes[2] == 210).all()


def test_jpeg_hostile_header_guards():
    """A hostile SOF claiming 65500x65500 must quarantine BEFORE the
    plane allocation (memory-bomb guard), and a corrupt DC category
    above 15 bits must not overflow the predictor chain."""
    import struct as _struct

    import numpy as np
    import pytest as _pt

    from yandex_tracker_exporter_spark.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = bytearray(
        encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8)))
    )
    i = good.find(b"\xff\xc0")
    _struct.pack_into(">HH", good, i + 5, 65500, 65500)
    with _pt.raises(ValueError):
        decode_jpeg(bytes(good))

    # CPU-bomb guard: dimensions UNDER the sample cap but with far too
    # little entropy data to encode that many blocks (each block needs
    # >= 2 bits) must quarantine before the MCU loop starts — a crafted
    # small file must not buy minutes of pure-Python decode.
    bomb = bytearray(
        encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8)))
    )
    j = bomb.find(b"\xff\xc0")
    _struct.pack_into(">HH", bomb, j + 5, 1024, 1024)  # 16k blocks, ~tens of entropy bytes
    with _pt.raises(ValueError, match="entropy data budget"):
        decode_jpeg(bytes(bomb))


def test_all_decoders_fuzz_via_dispatch():
    """_decode_payload_real over corruptions of EVERY supported format
    (WAV, PPM, Y4M, PNG, JPEG, MP4): returns a dict or None, never
    raises — the whole-scan quarantine contract."""
    import random

    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        _decode_payload_real,
        _encode_wav_pcm,
        encode_jpeg_gray,
        encode_mp4_meta,
        encode_png,
        encode_ppm,
        encode_y4m,
    )

    rng = random.Random(99)
    goods = [
        _encode_wav_pcm(bytes(range(200)), 8000, 1),
        encode_ppm(4, 4, bytes(range(48))),
        encode_y4m(2, 2, [bytes(12), bytes(range(12))]),
        encode_png(4, 5, bytes(range(60))),
        encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8))),
        encode_mp4_meta(64, 48, 7000),
    ]
    for g in goods:
        assert _decode_payload_real(g) is not None, "valid payload must decode"
    n = 0
    for g in goods:
        for _ in range(200):
            b = bytearray(g)
            op = rng.randrange(3)
            if op == 0:  # bit flips
                for _ in range(rng.randrange(1, 5)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                p = bytes(b)
            elif op == 1:  # truncation
                p = bytes(b[: rng.randrange(len(b))])
            else:  # truncation + junk tail
                p = bytes(b[: rng.randrange(len(b))]) + bytes(
                    rng.randrange(256) for _ in range(rng.randrange(0, 20))
                )
            _decode_payload_real(p)  # dict or None — never an exception
            n += 1
    assert n == 1200


def test_jpeg_app_segment_roundtrip_and_decoder_compat():
    """JFIF APP0 + EXIF APP1 (both endiannesses) spliced after SOI must
    (a) parse back to the planted values and (b) leave the pixel decode
    untouched — the decoder walk skips APPn segments."""
    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        decode_jpeg,
        encode_exif_app1,
        encode_jfif_app0,
        encode_jpeg_gray,
        jpeg_app_metadata,
    )

    bare = encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8)))
    for big in (False, True):
        tagged = (
            bare[:2]
            + encode_jfif_app0(xdensity=300, ydensity=150, units=2)
            + encode_exif_app1(orientation=6, big_endian=big)
            + bare[2:]
        )
        meta = jpeg_app_metadata(tagged)
        assert meta == {
            "jfif_version": "1.02",
            "density_units": 2,
            "xdensity": 300,
            "ydensity": 150,
            "orientation": 6,
        }
        assert decode_jpeg(tagged) == decode_jpeg(bare)
    # a bare fixture has no APP segments: every field None, no raise
    assert set(jpeg_app_metadata(bare).values()) == {None}


def test_jpeg_app_segment_hostile_quarantine():
    """Each spec violation must quarantine (ValueError), never return
    garbage metadata: short JFIF body, zero density, unit > 2, bad TIFF
    byte order/magic, IFD offset or entry table escaping the segment,
    orientation outside 1..8."""
    import struct as _struct

    import numpy as np
    import pytest as _pt

    from yandex_tracker_exporter_spark.multimodal import (
        encode_exif_app1,
        encode_jfif_app0,
        encode_jpeg_gray,
        jpeg_app_metadata,
    )

    bare = encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8)))

    def splice(seg: bytes) -> bytes:
        return bare[:2] + seg + bare[2:]

    # JFIF body below the 14-byte spec floor
    short = b"\xff\xe0" + _struct.pack(">H", 9) + b"JFIF\x00\x01\x02"
    # zero X density
    zerod = bytearray(encode_jfif_app0())
    _struct.pack_into(">H", zerod, 12, 0)
    # density unit 3
    badunit = bytearray(encode_jfif_app0())
    badunit[11] = 3
    # EXIF with bad byte order / magic / IFD offset / truncated table
    badorder = bytearray(encode_exif_app1())
    badorder[10:12] = b"XX"
    badmagic = bytearray(encode_exif_app1())
    _struct.pack_into("<H", badmagic, 12, 41)
    badifd = bytearray(encode_exif_app1())
    _struct.pack_into("<I", badifd, 14, 10_000)
    badcount = bytearray(encode_exif_app1())
    _struct.pack_into("<H", badcount, 18, 400)
    for orient in (0, 9):
        with _pt.raises(ValueError, match="orientation"):
            jpeg_app_metadata(splice(encode_exif_app1(orientation=orient)))
    for seg in (short, zerod, badunit, badorder, badmagic, badifd, badcount):
        with _pt.raises(ValueError):
            jpeg_app_metadata(splice(bytes(seg)))


def test_jpeg_app_metadata_fuzz_never_crashes():
    """Random single-byte corruptions of an APP-bearing JPEG: the
    metadata walk returns a dict or raises ValueError — never any other
    exception (the whole-scan quarantine contract, applied to the new
    parser exactly like the box walker's fuzz family)."""
    import random

    import numpy as np

    from yandex_tracker_exporter_spark.multimodal import (
        encode_exif_app1,
        encode_jfif_app0,
        encode_jpeg_gray,
        jpeg_app_metadata,
    )

    bare = encode_jpeg_gray(16, 16, bytes(np.arange(256, dtype=np.uint8)))
    good = bare[:2] + encode_jfif_app0() + encode_exif_app1() + bare[2:]
    rng = random.Random(1234)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            out = jpeg_app_metadata(bytes(b))
            assert isinstance(out, dict)
        except ValueError:
            pass


def test_decoder_hostile_headers_quarantine_not_crash():
    """Round-7 review family: attacker-controlled header fields that
    used to escape the quarantine handlers (ZeroDivisionError,
    struct.error, negative-dim reshape, truncated final frame, PNG
    inflate bomb) must all raise ValueError from the parser — so every
    downstream handler (which catches ValueError) quarantines the row
    instead of killing the task."""
    import struct as _struct
    import zlib as _zlib

    import pytest as _pt

    from yandex_tracker_exporter_spark.multimodal import (
        _decode_payload_real,
        decode_ppm,
        decode_wav,
        decode_y4m,
        encode_png,
        encode_wav,
        encode_y4m,
        decode_png,
    )

    # WAV: sample_rate=0 in the fmt chunk (used to ZeroDivisionError)
    wav = bytearray(encode_wav([1, 2, 3], 8000))
    i = wav.find(b"fmt ")
    _struct.pack_into("<I", wav, i + 12, 0)
    with _pt.raises(ValueError, match="sample rate"):
        decode_wav(bytes(wav))
    assert _decode_payload_real(bytes(wav)) is None

    # WAV: fmt chunk declaring size 8 (used to struct.error past
    # audio_frame_energy's ValueError-only handler)
    short_fmt = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"fmt " + _struct.pack("<I", 8) + b"\x00" * 8
    with _pt.raises(ValueError):
        decode_wav(short_fmt)

    # Y4M: F0:1 (duration div-by-zero) and F25:0 (sample_frames step
    # div-by-zero) and a truncated final FRAME body (checksum covered
    # fewer bytes than n_elements claimed)
    with _pt.raises(ValueError, match="frame rate"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F0:1 C444\n" + b"FRAME\n" + bytes(12))
    with _pt.raises(ValueError, match="frame rate"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:0 C444\n" + b"FRAME\n" + bytes(12))
    good = encode_y4m(2, 2, [bytes(12), bytes(12)])
    with _pt.raises(ValueError, match="truncated FRAME"):
        decode_y4m(good[:-7])

    # PPM: negative dims whose product passes the length checks
    with _pt.raises(ValueError, match="non-positive"):
        decode_ppm(b"P6\n-3 -1\n255\n" + bytes(9))
    assert _decode_payload_real(b"P6\n-3 -1\n255\n" + bytes(9)) is None

    # PNG: a small IDAT of compressed zeros under an IHDR claiming huge
    # dimensions must quarantine BEFORE inflating gigabytes
    bomb = bytearray(encode_png(4, 5, bytes(60)))
    _struct.pack_into(">II", bomb, 16, 20000, 20000)
    # fix the IHDR CRC so the walk reaches the dimension guard
    ihdr_body = bytes(bomb[16:29])
    _struct.pack_into(">I", bomb, 29, _zlib.crc32(b"IHDR" + ihdr_body) & 0xFFFFFFFF)
    with _pt.raises(ValueError, match="decode cap"):
        decode_png(bytes(bomb))
    # and an IDAT that inflates PAST the declared raster quarantines too
    over = bytearray(encode_png(2, 2, bytes(12)))
    # replace IDAT with a stream holding one extra byte
    raw = b"\x00" + bytes(6) + b"\x00" + bytes(6) + b"\x00"  # 2 rows + 1 extra
    from yandex_tracker_exporter_spark.multimodal import PNG_SIG, _png_chunk

    over = (
        PNG_SIG
        + bytes(bytearray(encode_png(2, 2, bytes(12)))[8:33])  # IHDR chunk
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="past the declared raster"):
        decode_png(over)


# ------------------------------------------------- round-8 ADVICE items


def test_quarantine_report_distinguishes_cap_from_malformed(spark):
    """ADVICE r7: a valid-but-large image dropped by DECODE_SAMPLE_CAP
    used to vanish exactly like malformed bytes. The quarantine report
    classes them distinctly, and clean rows emit nothing."""
    import struct as _struct
    import zlib as _zlib

    from yandex_tracker_exporter_spark.multimodal import (
        PNG_SIG,
        encode_ppm,
        media_quarantine_report,
    )

    def _chunk(tag, body):
        return (
            _struct.pack(">I", len(body))
            + tag + body
            + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # valid PNG structure CLAIMING 4000x4000 RGB (48M samples > cap)
    ihdr = _struct.pack(">IIBBBBB", 4000, 4000, 8, 2, 0, 0, 0)
    big_png = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(b"\x00" * 100))
        + _chunk(b"IEND", b"")
    )
    rows = [
        (1, bytearray(encode_ppm(2, 2, bytes(12)))),   # decodes fine
        (2, bytearray(big_png)),                        # cap
        (3, bytearray(PNG_SIG + b"\x00garbage")),       # malformed
        (4, None),                                      # null payload
        (5, bytearray(b"\x00\x01\x02\x03nonsense")),    # unknown magic
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r["reason_class"]
        for r in media_quarantine_report(df).collect()
    }
    assert got == {
        2: "cap_exceeded",
        3: "malformed",
        4: "null_payload",
        5: "unknown_format",
    }


def test_decode_cap_is_one_module_constant():
    """Raising DECODE_SAMPLE_CAP must open BOTH raster decoders (PNG and
    JPEG read the same constant — no second hard-coded copy)."""
    import yandex_tracker_exporter_spark.multimodal as mm

    ihdr_dims = (1300, 1100)  # 1300*1100*3 = 4.29M > 2^22, < 2^23
    import struct as _struct
    import zlib as _zlib

    def _chunk(tag, body):
        return (
            _struct.pack(">I", len(body))
            + tag + body
            + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    w, h = ihdr_dims
    raw = b"".join(b"\x00" + b"\x10" * (w * 3) for _ in range(h))
    png = (
        mm.PNG_SIG
        + _chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="decode cap"):
        mm.decode_png(png)
    old = mm.DECODE_SAMPLE_CAP
    try:
        mm.DECODE_SAMPLE_CAP = 1 << 23
        out = mm.decode_png(png)
        assert (out["width"], out["height"]) == (w, h)
    finally:
        mm.DECODE_SAMPLE_CAP = old


def test_app_metadata_skips_fill_bytes_and_standalone_markers():
    """T.81 allows 0xFF fill bytes before any marker and length-less
    standalone markers (TEM 0x01, RSTn) in the stream; the APP walk
    used to read their next bytes as a segment length and quarantine
    valid files (ADVICE r7)."""
    from yandex_tracker_exporter_spark.multimodal import (
        encode_exif_app1,
        encode_jfif_app0,
        jpeg_app_metadata,
    )

    app0 = encode_jfif_app0(xdensity=300, ydensity=150, units=1)
    app1 = encode_exif_app1(orientation=6)
    # SOI + fill bytes + APP0 + TEM + RST3 + fill + APP1 + EOI
    payload = (
        b"\xff\xd8"
        + b"\xff\xff" + app0[1:]
        + b"\xff\x01"
        + b"\xff\xd3"
        + b"\xff" + app1[1:]
        + b"\xff\xd9"
    )
    out = jpeg_app_metadata(payload)
    assert out["xdensity"] == 300 and out["ydensity"] == 150
    assert out["orientation"] == 6


def test_cap_classification_is_type_based_not_message_based():
    """ADVICE r8: cap_exceeded used to be inferred from the substring
    "decode cap" in the ValueError message, so rewording a decoder's
    message would silently reclassify cap-quarantined rows as
    malformed. The classifier must key on DecodeCapExceeded's TYPE."""
    from unittest import mock

    import yandex_tracker_exporter_spark.multimodal as mm

    def reworded(payload):
        raise mm.DecodeCapExceeded("raster too large for sampling budget")

    with mock.patch.object(mm, "_dispatch_decoder", return_value=reworded):
        _, cls, msg = mm._decode_payload_verbose(b"anything")
    assert cls == "cap_exceeded"
    assert "sampling budget" in msg
    # and a plain ValueError that HAPPENS to mention "decode cap" in
    # prose is malformed, not cap_exceeded
    def misleading(payload):
        raise ValueError("expected marker before decode cap section")

    with mock.patch.object(mm, "_dispatch_decoder", return_value=misleading):
        _, cls, _ = mm._decode_payload_verbose(b"anything")
    assert cls == "malformed"
