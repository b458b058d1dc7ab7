"""WAV bit-width + Y4M colorspace widening (round 12).

WAV: 8/16/24/32-bit integer PCM, plain or WAVE_FORMAT_EXTENSIBLE-
wrapped (the 0xFFFE header multichannel/24-bit encoders actually
emit). 8-bit is unsigned on disk and decodes CENTERED so silence is 0
at every width; 24-bit is sign-extended 3-byte LE. IEEE-float stays a
typed quarantine: audio_frame_energy's contract is the EXACT int64
sum of squares, which has no float form — and 32-bit PCM rows are
skipped by the energy op (not decode) because a full-scale frame's
exact energy (~2^70) cannot fit the int64 output column at all.

Y4M: C444/C422/C420(+jpeg/paldv/mpeg2 siting)/C411/Cmono frame-size
laws, the mjpegtools C-less default (C420 — the old C444-only parser
rejected spec-default streams), and typed quarantines for odd
dimensions and unknown tags.
"""

import struct

import pytest

from yandex_tracker_exporter_spark import multimodal as mm


@pytest.mark.parametrize("bits,lo,hi", [
    (8, -128, 127),
    (16, -(1 << 15), (1 << 15) - 1),
    (24, -(1 << 23), (1 << 23) - 1),
    (32, -(1 << 31), (1 << 31) - 1),
])
@pytest.mark.parametrize("extensible", [False, True])
def test_wav_pcm_widths_round_trip(bits, lo, hi, extensible):
    """Full-scale extremes + zero at every width, plain and
    extensible-wrapped: exact integer checksum, centered 8-bit."""
    import random

    rng = random.Random(bits)
    s = [rng.randint(lo, hi) for _ in range(301)] + [lo, hi, 0]
    p = mm.encode_wav_ex(s, 8000, 1, bits=bits, extensible=extensible)
    d = mm.decode_wav(p)
    assert d["bits_per_sample"] == bits
    assert d["n_elements"] == len(s)
    assert d["content_checksum"] == sum(s)
    assert d["duration_ms"] == len(s) * 1000 // 8000


def test_wav_8bit_centering_law():
    """8-bit PCM stores v+128 unsigned; a silent stream must checksum
    to ZERO (the pre-centering decode would fabricate 128*n)."""
    p = mm.encode_wav_ex([0] * 50, bits=8)
    assert mm.decode_wav(p)["content_checksum"] == 0
    # raw disk bytes really are unsigned 128s (non-vacuous)
    i = p.find(b"data")
    assert set(p[i + 8:]) == {128}


def test_wav_float_and_exotic_formats_quarantine():
    """fmt=3 (IEEE float), extensible-wrapped float, and unknown
    codecs (e.g. 0x0055 MP3) raise typed ValueErrors."""
    base = mm.encode_wav_ex([1, 2, 3])

    def with_fmt(code):
        b = bytearray(base)
        i = b.find(b"fmt ")
        struct.pack_into("<H", b, i + 8, code)
        return bytes(b)

    with pytest.raises(ValueError, match="IEEE-float"):
        mm.decode_wav(with_fmt(3))
    with pytest.raises(ValueError, match="unsupported WAV format"):
        mm.decode_wav(with_fmt(0x0055))
    # extensible wrapper with a float SubFormat
    ext = bytearray(mm.encode_wav_ex([1, 2, 3], extensible=True))
    i = ext.find(b"fmt ")
    struct.pack_into("<H", ext, i + 8 + 24, 3)  # SubFormat GUID head
    with pytest.raises(ValueError, match="IEEE-float"):
        mm.decode_wav(bytes(ext))
    # extensible fmt chunk cut below the 40-byte GUID layout
    short = bytearray(mm.encode_wav_ex([1, 2, 3]))
    i = short.find(b"fmt ")
    struct.pack_into("<H", short, i + 8, 0xFFFE)
    with pytest.raises(ValueError, match="EXTENSIBLE"):
        mm.decode_wav(bytes(short))
    with pytest.raises(ValueError, match="bit width"):
        mm.decode_wav(
            mm.encode_wav_ex([1], bits=16).replace(
                struct.pack("<H", 16) + b"data",
                struct.pack("<H", 12) + b"data",
            )
        )


def test_energy_law_bounds_by_width(spark):
    """audio_frame_energy: 24-bit full-scale frames stay exact inside
    int64 (2^54 max), 32-bit rows are SKIPPED (typed posture — the
    exact law cannot fit the output column), float rows quarantine via
    the parser."""
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    full24 = [(1 << 23) - 1] * 256
    rows = [
        (0, mm.encode_wav_ex(full24, bits=24)),
        (1, mm.encode_wav_ex([3] * 256, bits=8)),
        (2, mm.encode_wav_ex([(1 << 31) - 1] * 256, bits=32)),
    ]
    df = spark.createDataFrame(
        rows,
        StructType([
            StructField("media_id", LongType(), False),
            StructField("payload", BinaryType(), True),
        ]),
    )
    got = {r["media_id"]: r["energy"]
           for r in mm.audio_frame_energy(df).collect()}
    assert got[0] == 256 * ((1 << 23) - 1) ** 2  # exact at 24-bit
    assert got[1] == 256 * 9
    assert 2 not in got  # 32-bit: skipped, never wrapped/fabricated


@pytest.mark.parametrize("cs,w,h,fb", [
    ("C444", 6, 4, 72), ("C422", 6, 4, 48), ("C420", 6, 4, 36),
    ("C420jpeg", 6, 4, 36), ("C420paldv", 6, 4, 36),
    ("C420mpeg2", 6, 4, 36), ("C411", 8, 3, 36), ("Cmono", 5, 3, 15),
])
def test_y4m_colorspace_frame_laws(cs, w, h, fb):
    import random

    rng = random.Random(len(cs))
    frames = [bytes(rng.randrange(256) for _ in range(fb))
              for _ in range(3)]
    d = mm.decode_y4m(mm.encode_y4m(w, h, frames, colorspace=cs))
    assert d["n_frames"] == 3 and d["n_elements"] == 3 * fb
    assert d["frames"] == frames
    assert d["content_checksum"] == sum(sum(f) for f in frames)
    # truncating the final frame still quarantines at every size
    with pytest.raises(ValueError, match="truncated FRAME"):
        mm.decode_y4m(mm.encode_y4m(w, h, frames, colorspace=cs)[:-1])


def test_y4m_cless_default_and_typed_rejections():
    """A header with no C tag is C420 by the mjpegtools convention —
    the old C444-only parser rejected the spec default. Odd dims per
    colorspace and unknown tags stay typed quarantines."""
    d = mm.decode_y4m(b"YUV4MPEG2 W6 H4 F25:1\nFRAME\n" + bytes(36))
    assert d["n_elements"] == 36 and d["fps"] == (25, 1)
    for hdr, msg in [
        (b"YUV4MPEG2 W5 H4 F25:1 C420\n", "even dimensions"),
        (b"YUV4MPEG2 W5 H4 F25:1 C422\n", "even width"),
        (b"YUV4MPEG2 W6 H4 F25:1 C411\n", "divisible by 4"),
        (b"YUV4MPEG2 W6 H4 F25:1 C9x\n", "unsupported Y4M colorspace"),
    ]:
        with pytest.raises(ValueError, match=msg):
            mm.decode_y4m(hdr + b"FRAME\n" + bytes(60))


def test_c420_flows_through_sample_frames(spark):
    """Spark-side integration: a C420 stream (the common wild shape)
    frame-samples through the real-decode kernel exactly like C444 —
    per-frame hashes over the true 1.5-bytes-per-pixel frame blocks."""
    import hashlib

    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from pyspark.sql.types import StringType

    frames = [bytes((i * 11 + f) % 256 for i in range(36))
              for f in range(4)]
    p = mm.encode_y4m(6, 4, frames, fps=(2, 1), colorspace="C420")
    df = spark.createDataFrame(
        [(7, "video", p, 2000)],
        StructType([
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), True),
            StructField("duration_ms", LongType(), True),
        ]),
    )
    got = sorted(
        (r["frame_idx"], r["frame_sha256"])
        for r in mm.sample_frames(df, every_ms=500).collect()
    )
    assert got == [
        (i, hashlib.sha256(frames[i]).hexdigest()) for i in range(4)
    ]


def test_pnm_family_decodes_and_strict_laws():
    """PNM widening (round 12 — was binary-P6-only): P1-P3 ASCII and
    P4-P6 binary at 8- and 16-bit (maxval>255 → big-endian pairs, the
    netpbm law), P1 bits running together without whitespace, packed
    P4 rows with byte padding — all under the strict length/count/
    maxval laws, with no dimension cap needed (every raster read is
    sliced from the actual payload, so a lying header fails strict
    length before any dimension-proportional work)."""
    import numpy as np

    rng = __import__("random").Random(11)
    # P6 16-bit
    s = [rng.randrange(65536) for _ in range(4 * 3 * 3)]
    p = b"P6\n4 3\n65535\n" + b"".join(struct.pack(">H", v) for v in s)
    d = mm.decode_ppm(p)
    assert (d["format"], d["n_elements"], d["content_checksum"]) == (
        "ppm", 36, sum(s))
    # P5 grayscale, both widths
    g = [rng.randrange(256) for _ in range(12)]
    assert mm.decode_ppm(b"P5\n4 3\n255\n" + bytes(g))["content_checksum"] == sum(g)
    g16 = [rng.randrange(65536) for _ in range(12)]
    d = mm.decode_ppm(
        b"P5\n4 3\n65535\n" + b"".join(struct.pack(">H", v) for v in g16)
    )
    assert (d["format"], d["content_checksum"]) == ("pgm", sum(g16))
    # P4 packed bitmap: width 10 -> stride 2, padding bits ignored
    rows = [[1, 0, 1, 1, 0, 0, 1, 0, 1, 1], [0] * 10, [1] * 10]
    packed = b"".join(
        np.packbits(np.array(r + [0] * 6, dtype=np.uint8)).tobytes()
        for r in rows
    )
    d = mm.decode_ppm(b"P4\n10 3\n" + packed)
    assert (d["format"], d["n_elements"], d["content_checksum"]) == (
        "pbm", 30, sum(map(sum, rows)))
    # ASCII family: comments, run-together P1 bits
    assert mm.decode_ppm(b"P1\n# c\n4 2\n0110\n1001\n")["content_checksum"] == 4
    assert mm.decode_ppm(b"P2\n3 2\n99\n1 2 3 # x\n4 5 6\n")["content_checksum"] == 21
    assert mm.decode_ppm(b"P3\n1 2\n255\n1 2 3  4 5 6\n")["format"] == "ppm"
    # strict rejections: short count, over-maxval, short 16-bit raster,
    # trailing byte after packed bitmap, maxval overflow, P1 non-bit
    for bad, msg in [
        (b"P2\n3 2\n99\n1 2 3 4 5\n", "length mismatch"),
        (b"P2\n3 2\n9\n1 2 3 4 5 100\n", "exceeds maxval"),
        (b"P6\n4 3\n65535\n" + bytes(71), "length mismatch"),
        (b"P4\n10 3\n" + packed + b"x", "length mismatch"),
        (b"P5\n2 2\n70000\n" + bytes(8), "above 65535"),
        (b"P1\n2 2\n0120\n", "exceeds maxval"),
    ]:
        with pytest.raises(ValueError, match=msg):
            mm.decode_ppm(bad)
    # the legacy P6 path is untouched: 8-bit strict length + format tag
    pix = bytes(range(48))
    d = mm.decode_ppm(mm.encode_ppm(4, 4, pix))
    assert (d["format"], d["content_checksum"]) == ("ppm", sum(pix))
    # dispatch: every PNM magic routes to the family decoder; the
    # RGB-pixel ops' P6-only entry point still rejects non-P6
    assert mm._dispatch_decoder(b"P5\n1 1\n255\n\x07") is mm.decode_ppm
    with pytest.raises(ValueError, match="not a P6"):
        mm._ppm_header(b"P5\n1 1\n255\n\x07")


def test_r12_review_fixes_quarantine_and_domain_gates(spark):
    """Pins for the r12 self-review findings: (1) a 30-digit ASCII PNM
    token must quarantine as ValueError, not escape as OverflowError
    and kill the scan task; (2/3/4) the RGB-pixel ops' domain gate —
    palette/Adam7 PNGs ARE processed (they expand to RGB8), while
    valid-but-out-of-domain rasters (16-bit RGB PNG, grayscale, RGBA,
    16-bit P6) are SKIPPED rather than crashing resize in encode_ppm
    or fabricating mod-3 channel labels; (5) the energy op's overflow
    rail scales with frame_size (24-bit wraps int64 past 2^17 samples);
    (6) the RIFF size field counts the actual remaining bytes."""
    import struct as _struct

    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    # (1) OverflowError class escape
    with pytest.raises(ValueError, match="exceeds maxval"):
        mm.decode_ppm(b"P2\n1 1\n255\n99999999999999999999999999\n")
    assert mm._decode_payload_verbose(
        b"P2\n1 1\n255\n99999999999999999999999999\n"
    )[1] == "malformed"

    # (2/3/4) domain gate: build one image in every tier
    rgb = [((i * 7) % 256) for i in range(5 * 4 * 3)]
    pal = [(1, 2, 3), (9, 8, 7)]
    idx = [i % 2 for i in range(5 * 4)]
    in_domain = [
        (0, mm.encode_png(5, 4, bytes(rgb))),
        (1, mm.encode_png_ex(5, 4, rgb, interlace=1)),
        (2, mm.encode_png_ex(5, 4, idx, color_type=3, bit_depth=1,
                             palette=pal)),
    ]
    out_of_domain = [
        (10, mm.encode_png_ex(5, 4, rgb, color_type=2, bit_depth=16)),
        (11, mm.encode_png_ex(5, 4, [7] * 20, color_type=0, bit_depth=8)),
        (12, mm.encode_png_ex(5, 4, [3] * 80, color_type=6, bit_depth=8)),
        (13, b"P6\n5 4\n65535\n" + bytes(5 * 4 * 3 * 2)),
    ]
    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ])
    df = spark.createDataFrame(in_domain + out_of_domain, schema)
    hist_ids = {r["media_id"]
                for r in mm.image_channel_histogram(df).collect()}
    assert hist_ids == {0, 1, 2}
    resized = mm.resize_images(df).collect()  # must not raise
    assert {r["media_id"] for r in resized} == {0, 1, 2}
    # the out-of-domain shapes are still VALID at the decode tier
    dec = {r["media_id"]: r for r in mm.decode_media(df).collect()}
    for mid in (10, 11, 12, 13):
        assert dec[mid]["content_checksum"] is not None, mid
    # and the in-domain variants agree with the plain-RGB8 histogram
    one = mm.image_channel_histogram(
        spark.createDataFrame(in_domain[:1], schema))
    base = {(r["channel"], r["bucket"]): r["n_pixels"]
            for r in one.collect()}
    for mid in (1, 2):
        rows = mm.image_channel_histogram(
            spark.createDataFrame(
                [(mid, dict(in_domain)[mid])], schema)).collect()
        if mid == 1:  # same pixels, different layout -> same histogram
            assert {(r["channel"], r["bucket"]): r["n_pixels"]
                    for r in rows} == base

    # (5) frame_size-aware overflow rail: 24-bit at frame_size 2^18
    # would wrap int64; the row must be skipped, not fabricated
    wav = mm.encode_wav_ex([(1 << 23) - 1] * 10, bits=24)
    adf = spark.createDataFrame([(0, wav)], schema)
    assert mm.audio_frame_energy(adf, frame_size=1 << 18).collect() == []
    assert mm.audio_frame_energy(adf, frame_size=256).collect() != []

    # (6) RIFF size counts exactly the bytes after the 8-byte header
    for p in (mm.encode_wav([1, 2, 3]),
              mm.encode_wav_ex([1, 2, 3], bits=24, extensible=True)):
        (declared,) = _struct.unpack("<I", p[4:8])
        assert declared == len(p) - 8
