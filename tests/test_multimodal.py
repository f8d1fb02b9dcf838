"""Multimodal plumbing: schemas, batch shapes, fan-out, determinism."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def assets(spark):
    from bgg_data_warehouse_spark.multimodal import attach_fake_payload

    docs = spark.createDataFrame(
        [(1, "abcdef" * 30), (2, "zy" * 10), (3, "q")],
        "doc_id long, text string",
    )
    return attach_fake_payload(docs, "doc_id", "text")


def test_asset_schema(assets):
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "media_type",
        "payload",
        "meta",
    ]
    row = assets.where("asset_id = 1").collect()[0]
    assert bytes(row.payload) == b"abcdef" * 30
    assert row.meta.n_bytes == 180


def test_real_decode_unsupported_format_raises():
    from bgg_data_warehouse_spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_ppm_roundtrip():
    from bgg_data_warehouse_spark.multimodal import decode_image, make_ppm

    pixels = bytes(range(2 * 3 * 3))  # 2x3 image, 18 RGB bytes
    w, h, rgb = decode_image(make_ppm(2, 3, pixels))
    assert (w, h, rgb) == (2, 3, pixels)


def test_png_roundtrip_all_filters():
    from bgg_data_warehouse_spark.multimodal import decode_image, make_png

    # 5 rows so 'vary' exercises filter types 0..4 exactly once each
    pixels = bytes((i * 37) % 256 for i in range(4 * 5 * 3))
    for mode in ("vary", "none"):
        assert decode_image(make_png(4, 5, pixels, filter_mode=mode)) == (
            4,
            5,
            pixels,
        )


def test_png_rgba_alpha_stripped():
    from bgg_data_warehouse_spark.multimodal import decode_image, make_png

    pixels = bytes(range(2 * 2 * 3))
    alpha = bytes([0, 128, 255, 7])
    assert decode_image(make_png(2, 2, pixels, alpha_bytes=alpha)) == (
        2,
        2,
        pixels,
    )


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    from bgg_data_warehouse_spark.multimodal import decode_image, make_png

    base = make_png(2, 2, bytes(12))

    def with_ihdr(**over):
        fields = dict(w=2, h=2, depth=8, color=2, comp=0, filt=0, interlace=0)
        fields.update(over)
        ihdr = struct.pack(
            ">IIBBBBB",
            fields["w"],
            fields["h"],
            fields["depth"],
            fields["color"],
            fields["comp"],
            fields["filt"],
            fields["interlace"],
        )
        chunk = b"IHDR" + ihdr
        return (
            base[:8]
            + struct.pack(">I", 13)
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
            + base[8 + 4 + 4 + 13 + 4 :]
        )

    for bad in (
        with_ihdr(color=0),  # grayscale
        with_ihdr(color=3),  # palette
        with_ihdr(depth=16),  # 16-bit
        with_ihdr(interlace=1),  # Adam7
    ):
        with pytest.raises(NotImplementedError):
            decode_image(bad)


def test_png_synthesis_matches_analytic_expectation(spark):
    """Same analytic pixel derivation as the PPM gate, through the PNG
    container: proves the zlib+filter decode reproduces the exact array
    the oracle computes from the text alone."""
    from bgg_data_warehouse_spark.multimodal import (
        attach_png_payload,
        extract_decoded_features,
    )

    texts = [(1, "hello world"), (2, "a" * 50), (3, "xyz")]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    rows = {
        r.asset_id: r
        for r in extract_decoded_features(
            attach_png_payload(df, "doc_id", "text")
        ).collect()
    }
    for doc_id, text in texts:
        raw = text.encode()
        w, h = len(raw) % 13 + 4, len(raw) % 7 + 3
        n = w * h * 3
        reps = -(-n // len(raw))
        expected = (raw * reps)[:n]
        r = rows[doc_id]
        assert (r.width, r.height, r.n_pixel_bytes) == (w, h, n)
        assert r.sum_pixel_bytes == sum(expected)
        assert r.format == "image/png"


def test_bmp_decode_bottom_up_bgr_padded():
    from bgg_data_warehouse_spark.multimodal import decode_image

    import struct

    # hand-built 2x2 uncompressed 24-bit BMP. Rows bottom-up, BGR,
    # 4-byte-aligned stride (2*3=6 -> stride 8, 2 pad bytes).
    # target RGB (row-major, top-down):
    #   (1,2,3) (4,5,6)
    #   (7,8,9) (10,11,12)
    row_top = bytes([3, 2, 1, 6, 5, 4]) + b"\x00\x00"
    row_bot = bytes([9, 8, 7, 12, 11, 10]) + b"\x00\x00"
    pixel_data = row_bot + row_top  # bottom row stored first
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    offset = 14 + len(info)
    header = b"BM" + struct.pack("<IHHI", offset + len(pixel_data), 0, 0, offset)
    w, h, rgb = decode_image(header + info + pixel_data)
    assert (w, h) == (2, 2)
    assert rgb == bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])


def test_ppm_synthesis_matches_analytic_expectation(spark):
    from bgg_data_warehouse_spark.multimodal import (
        attach_ppm_payload,
        extract_decoded_features,
    )

    texts = [(1, "hello world"), (2, "a" * 50)]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    rows = {
        r.asset_id: r
        for r in extract_decoded_features(
            attach_ppm_payload(df, "doc_id", "text")
        ).collect()
    }
    for doc_id, text in texts:
        raw = text.encode()
        w, h = len(raw) % 13 + 4, len(raw) % 7 + 3
        n = w * h * 3
        reps = -(-n // len(raw))
        expected = (raw * reps)[:n]
        r = rows[doc_id]
        assert (r.width, r.height, r.n_pixel_bytes) == (w, h, n)
        assert r.sum_pixel_bytes == sum(expected)


def test_wav_roundtrip_and_chunk_walk():
    from bgg_data_warehouse_spark.multimodal import decode_audio, make_wav

    pcm = bytes(range(100, 110))
    rate, ch, n, data = decode_audio(make_wav(pcm, sample_rate=16000))
    assert (rate, ch, n, data) == (16000, 1, 10, pcm)
    # 16-bit stereo: n_samples counts frames (block_align = 4)
    pcm16 = bytes(range(16))
    rate, ch, n, data = decode_audio(
        make_wav(pcm16, sample_rate=44100, channels=2, bits=16)
    )
    assert (rate, ch, n) == (44100, 2, 4)
    # odd-sized chunk before data: word-alignment must not derail the walk
    import struct

    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    wav = make_wav(pcm)
    patched = wav[:12] + extra + wav[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_audio(patched)[3] == pcm
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_audio(b"\xff\xfb\x90\x00 mp3 frame")


def test_resize_nearest_neighbor_exact():
    from bgg_data_warehouse_spark.multimodal import (
        decode_image,
        make_ppm,
        resize_image,
    )

    # 4x2 source, pixel value = its flat index (RGB triples 0..23)
    src = make_ppm(4, 2, bytes(range(4 * 2 * 3)))
    w, h, rgb = decode_image(resize_image(src, 2, 1))
    assert (w, h) == (2, 1)
    # target (0,0) -> src (0*2//1=0, 0*4//2=0) = pixel 0 -> bytes 0,1,2
    # target (0,1) -> src (0, 1*4//2=2)        = pixel 2 -> bytes 6,7,8
    assert rgb == bytes([0, 1, 2, 6, 7, 8])
    # upscale revisits source pixels
    w2, h2, rgb2 = decode_image(resize_image(src, 8, 2))
    assert (w2, h2) == (8, 2)
    assert rgb2[0:3] == rgb2[3:6] == bytes([0, 1, 2])


def test_frame_sample_fanout(spark, assets):
    from bgg_data_warehouse_spark.multimodal import sample_frames

    out = sample_frames(assets, every_n_bytes=64).collect()
    per_asset = {}
    for r in out:
        per_asset.setdefault(r.asset_id, []).append(r)
    assert len(per_asset[1]) == 3  # 180 bytes / 64 → 3 windows
    assert len(per_asset[2]) == 1
    assert len(per_asset[3]) == 1
    assert [f.frame_index for f in sorted(per_asset[1], key=lambda x: x.frame_index)] == [0, 1, 2]
    import hashlib
    import re

    assert all(re.fullmatch(r"[0-9a-f]{32}", f.frame_md5) for f in out)
    # frame 1 of asset 1: bytes [64, 128) of its payload
    payload = b"abcdef" * 30
    want = hashlib.md5(payload[64:128]).hexdigest()
    frame1 = next(f for f in per_asset[1] if f.frame_index == 1)
    assert frame1.frame_md5 == want


def test_y4m_roundtrip_and_header_params():
    from bgg_data_warehouse_spark.multimodal import decode_video, make_y4m

    frames = [bytes((i + k) % 256 for i in range(3 * 4 * 3)) for k in range(3)]
    w, h, nf, got = decode_video(make_y4m(3, 4, frames))
    assert (w, h, nf) == (3, 4, 3)
    assert got == frames
    # FRAME lines may carry parameters after the marker
    payload = b"YUV4MPEG2 W1 H1 C444\n" + b"FRAME Xparam\n" + bytes([9, 8, 7])
    assert decode_video(payload) == (1, 1, 1, [bytes([9, 8, 7])])


def test_y4m_unsupported_variants_raise():
    from bgg_data_warehouse_spark.multimodal import decode_video

    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00\x18ftypmp42")  # MP4 container
    with pytest.raises(NotImplementedError):
        decode_video(b"YUV4MPEG2 W2 H2\n")  # default C420 (subsampled)
    with pytest.raises(NotImplementedError):
        decode_video(b"YUV4MPEG2 W2 H2 C420\n")


def test_y4m_synthesis_matches_analytic_expectation(spark):
    """Frame k of the synthesized video is the text bytes cycled from
    offset k — the rotation the SQL oracle rebuilds via substr(repeat)."""
    import hashlib

    from bgg_data_warehouse_spark.multimodal import (
        attach_y4m_payload,
        extract_video_frames,
    )

    texts = [(1, "hello world"), (2, "ab")]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    rows = extract_video_frames(
        attach_y4m_payload(df, "doc_id", "text")
    ).collect()
    by_key = {(r.asset_id, r.frame_index): r for r in rows}
    for doc_id, text in texts:
        raw = text.encode()
        w, h = len(raw) % 13 + 4, len(raw) % 7 + 3
        nf, n = len(raw) % 4 + 2, (len(raw) % 13 + 4) * (len(raw) % 7 + 3) * 3
        cyc = raw * (n // len(raw) + 2)
        for k in range(nf):
            r = by_key[(doc_id, k)]
            frame = cyc[k : k + n]
            assert (r.width, r.height, r.n_frames) == (w, h, nf)
            assert r.frame_sum == sum(frame)
            assert r.frame_md5 == hashlib.md5(frame).hexdigest()
    assert len(rows) == sum(
        len(t.encode()) % 4 + 2 for _, t in texts
    )
