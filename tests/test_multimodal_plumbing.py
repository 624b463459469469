"""Native (codec-free) multimodal branches: PPM nearest-neighbor
resize and FR01 raw-container frame sampling — exact value pins, plus
loud-stub behavior for formats that genuinely need a codec library."""

from __future__ import annotations

import hashlib

import pytest

from master_airflow_spark.operators.multimodal import (
    decode_ppm,
    encode_raw_video,
    resize_image,
    resize_ppm,
    sample_frames,
)


def _ppm(w: int, h: int, rgb: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + rgb


def test_resize_ppm_nearest_neighbor_exact():
    # 2x2 image with distinct corner colors -> 4x4 upscale replicates
    # each source pixel into a 2x2 block (floor index mapping)
    px = [b"\xff\x00\x00", b"\x00\xff\x00", b"\x00\x00\xff", b"\xff\xff\xff"]
    src = _ppm(2, 2, b"".join(px))
    w, h, rgb = decode_ppm(resize_ppm(src, 4, 4))
    assert (w, h) == (4, 4)
    got = [rgb[i * 3 : i * 3 + 3] for i in range(16)]
    expect = [
        px[0], px[0], px[1], px[1],
        px[0], px[0], px[1], px[1],
        px[2], px[2], px[3], px[3],
        px[2], px[2], px[3], px[3],
    ]
    assert got == expect


def test_resize_ppm_downscale_and_roundtrip():
    rgb = bytes(range(48))  # 4x4
    out = resize_image(_ppm(4, 4, rgb), 2, 2)
    w, h, small = decode_ppm(out)
    assert (w, h) == (2, 2) and len(small) == 12
    # floor mapping picks rows 0,2 and cols 0,2
    img = [rgb[i * 3 : i * 3 + 3] for i in range(16)]
    assert [small[i * 3 : i * 3 + 3] for i in range(4)] == [
        img[0], img[2], img[8], img[10]
    ]


def test_resize_non_ppm_is_loud_stub():
    with pytest.raises(NotImplementedError):
        resize_image(b"\x89PNG\r\n...", 2, 2)


def test_frame_sampling_stride_and_checksum():
    frames = [bytes([i] * 12) for i in range(6)]  # 2x2 rgb frames
    clip = encode_raw_video(frames, 2, 2)
    sampled = sample_frames(clip, 2)
    assert sampled == [frames[0], frames[2], frames[4]]
    assert sample_frames(clip, 6) == [frames[0]]
    digest = hashlib.md5(b"".join(sampled)).hexdigest()
    assert digest == hashlib.md5(frames[0] + frames[2] + frames[4]).hexdigest()


def test_frame_sampling_non_fr01_is_loud_stub():
    with pytest.raises(NotImplementedError):
        sample_frames(b"\x00\x00\x00\x18ftypmp42", 2)


def test_truncated_fr01_raises():
    frames = [bytes([7] * 12)] * 3
    clip = encode_raw_video(frames, 2, 2)
    with pytest.raises(ValueError):
        sample_frames(clip[:-5], 1)


def test_registered_queries_run(spark, sf_dir):
    from master_airflow_spark import registry

    registry._ensure_loaded()
    rs = registry.REGISTRY["ppm_decode_resize"].fn(spark, sf_dir)
    first = rs.orderBy("doc_id").first()
    assert (first.out_width, first.out_height) == (2, 2)
    assert len(first.resized_md5) == 32
    vs = registry.REGISTRY["video_frame_sample"].fn(spark, sf_dir)
    vfirst = vs.orderBy("doc_id").first()
    assert (vfirst.n_frames, vfirst.n_sampled) == (6, 3)
    assert rs.count() == vs.count() > 0


# ---- PNG codec (round 11: the real-compressed-format branch) ----------------


def test_png_roundtrip_every_filter_type():
    """encode_png can write each scanline under any of the five PNG
    filter types; decode_png must invert every one of them exactly."""
    from master_airflow_spark.operators.multimodal import decode_png, encode_png

    rgb = bytes((i * 37 + 11) % 256 for i in range(6 * 4 * 3))
    for f in range(5):
        png = encode_png(6, 4, rgb, filters=[f])
        w, h, back = decode_png(png)
        assert (w, h) == (6, 4)
        assert back == rgb, f"filter {f} failed to round-trip"
    # mixed filters across rows (the shape png_decode_stats uses): a
    # FIVE-row image so every filter type encodes exactly one row —
    # and verify the encoder actually wrote [0,1,2,3,4] filter bytes
    rgb5 = bytes((i * 53 + 7) % 256 for i in range(6 * 5 * 3))
    png = encode_png(6, 5, rgb5, filters=[0, 1, 2, 3, 4])
    assert decode_png(png) == (6, 5, rgb5)
    import struct, zlib
    pos, idat = 8, b""
    while pos + 8 <= len(png):
        ln, ct = struct.unpack_from(">I4s", png, pos)
        if ct == b"IDAT":
            idat += png[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = 6 * 3
    assert [raw[r * (stride + 1)] for r in range(5)] == [0, 1, 2, 3, 4]


def test_png_known_bytes_fixture():
    """A hand-built 2x1 PNG (red, green pixels; filter 0) decodes to
    the exact expected RGB bytes — guards the chunk walk, IHDR parse,
    and zlib inflate against silent drift."""
    import struct
    import zlib

    from master_airflow_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    raw = b"\x00" + b"\xff\x00\x00" + b"\x00\xff\x00"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (2, 1, b"\xff\x00\x00\x00\xff\x00")


def test_png_gray_and_rgba_normalize_to_rgb():
    """Grayscale expands each sample to RGB; RGBA drops alpha — the
    normalization contract decode_png documents."""
    import struct
    import zlib

    from master_airflow_spark.operators.multimodal import decode_png

    def build(color_type, px_bytes, w, h):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(px_bytes)) + chunk(b"IEND", b"")
        )

    # gray: 2 pixels 10, 200
    assert decode_png(build(0, b"\x00\x0a\xc8", 2, 1)) == (
        2, 1, bytes([10, 10, 10, 200, 200, 200])
    )
    # RGBA: alpha dropped
    assert decode_png(build(6, b"\x00" + bytes([1, 2, 3, 9, 4, 5, 6, 8]), 2, 1)) == (
        2, 1, bytes([1, 2, 3, 4, 5, 6])
    )


def test_png_unsupported_variants_stay_loud():
    import struct
    import zlib

    import pytest

    from master_airflow_spark.operators.multimodal import decode_png

    def build(depth, color_type, interlace):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color_type, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00")) + chunk(b"IEND", b"")
        )

    with pytest.raises(NotImplementedError):
        decode_png(build(16, 2, 0))  # 16-bit
    with pytest.raises(NotImplementedError):
        decode_png(build(8, 3, 0))  # palette
    with pytest.raises(NotImplementedError):
        decode_png(build(8, 2, 1))  # Adam7
    # a malformed PNG is a parse failure, not a stub
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n....")


def test_png_decode_stats_query(spark, sf_dir):
    """The registered png_decode_stats query: every document yields a
    6x5 decode (five rows, one per PNG filter type) with a
    self-verified round-trip (the kernel raises on mismatch, so green
    rows prove the codec ran)."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    df = registry.REGISTRY["png_decode_stats"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows[:5]:
        assert (r.width, r.height) == (6, 5)
        assert len(r.rgb_md5) == 32
        assert 0 <= r.mean_byte_x1000 <= 255_000
        assert r.png_bytes > 60  # header + compressed payload


def test_wav_roundtrip_mono_and_stereo():
    """encode_wav/decode_wav (stdlib wave): PCM bytes survive a
    round-trip exactly, and the container metadata (rate, channels)
    decodes back."""
    from master_airflow_spark.operators.multimodal import decode_wav, encode_wav

    import array

    mono = array.array("h", range(-32, 32)).tobytes()
    rate, nch, width, back = decode_wav(encode_wav(mono, 8000))
    assert (rate, nch, width, back) == (8000, 1, 2, mono)

    stereo = array.array("h", [x for i in range(16) for x in (i, -i)]).tobytes()
    rate, nch, width, back = decode_wav(encode_wav(stereo, 44100, n_channels=2))
    assert (rate, nch, width, back) == (44100, 2, 2, stereo)


def test_wav_pcm8_roundtrip_and_24bit_stub():
    """Round-14 hardening: 8-bit (unsigned) PCM WAV — mono and stereo
    — decodes natively and round-trips exactly; 24-bit PCM stays a
    LOUD NotImplementedError (the documented native boundary is
    PCM8/PCM16)."""
    import pytest

    from master_airflow_spark.operators.multimodal import decode_wav, encode_wav

    mono8 = bytes(range(256))
    rate, nch, width, back = decode_wav(encode_wav(mono8, 8000, sampwidth=1))
    assert (rate, nch, width, back) == (8000, 1, 1, mono8)

    stereo8 = bytes(x for i in range(64) for x in (i, 255 - i))
    rate, nch, width, back = decode_wav(
        encode_wav(stereo8, 22050, n_channels=2, sampwidth=1)
    )
    assert (rate, nch, width, back) == (22050, 2, 1, stereo8)

    pcm24 = b"\x00\x01\x02" * 8
    with pytest.raises(NotImplementedError, match="PCM8/PCM16"):
        decode_wav(encode_wav(pcm24, 8000, sampwidth=3))


def test_wav_known_bytes_fixture():
    """A hand-checked WAV: 4 samples at 8 kHz — the RIFF header layout
    is pinned byte-for-byte so a stdlib behavior change surfaces here,
    not in a certification diff."""
    import struct

    from master_airflow_spark.operators.multimodal import encode_wav

    pcm = struct.pack("<4h", 0, 1000, -1000, 32767)
    wav = encode_wav(pcm, 8000)
    # RIFF chunk: 36 + data bytes; fmt: PCM(1), mono, rate, byterate, align, bits
    assert wav[:4] == b"RIFF"
    assert struct.unpack_from("<I", wav, 4)[0] == 36 + len(pcm)
    assert wav[8:12] == b"WAVE"
    fmt = struct.unpack_from("<HHIIHH", wav, 20)
    assert fmt == (1, 1, 8000, 16000, 2, 16)
    assert wav[-len(pcm):] == pcm


def test_decode_wav_rejects_non_wav():
    from master_airflow_spark.operators.multimodal import decode_wav

    import pytest

    with pytest.raises(NotImplementedError):
        decode_wav(b"\xff\xfb\x90\x00 mp3-ish bytes")


def test_wav_decode_stats_query(spark, sf_dir):
    """The registered wav_decode_stats query: every document yields a
    64-sample 8 kHz mono decode with a self-verified PCM round-trip
    (the kernel raises on mismatch, so green rows prove the codec
    ran) and exact integer features."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    rows = registry.REGISTRY["wav_decode_stats"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:5]:
        assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, 64)
        assert r.wav_bytes == 44 + 128  # header + 64 int16 samples
        assert 0 <= r.rms <= 32768 and 0 <= r.peak <= 32768
        assert 0 <= r.zero_crossings < 64
        assert len(r.pcm_md5) == 32
