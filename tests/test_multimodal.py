"""Multimodal pipeline tests: binary payload schema, Arrow-batched
mapInPandas decode plumbing, stub gating."""

from __future__ import annotations

import zlib

import pytest

from hdfs_parquet_importer_spark.operators import multimodal as M
from hdfs_parquet_importer_spark.tables import load_table


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [], M.MEDIA_SCHEMA
    ) if False else M.synthesize_media(spark, n=30)
    return df.cache()


def test_media_schema(media):
    assert media.schema == M.MEDIA_SCHEMA
    assert media.count() == 30
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_payload_roundtrip_header(media):
    rows = M.decode_image(media).collect()
    assert len(rows) == 30
    by_id = {r["media_id"]: r for r in rows}
    meta = {r["media_id"]: r["meta"] for r in media.select("media_id", "meta").collect()}
    for mid, r in by_id.items():
        # decode recovered the header the synthesizer wrote
        assert r["width"] == meta[mid]["width"]
        assert r["height"] == meta[mid]["height"]
        assert r["n_bytes"] > 9  # header + >= 1 sha256 frame


def test_decode_deterministic(media):
    a = sorted(map(tuple, M.decode_image(media).collect()))
    b = sorted(map(tuple, M.decode_image(media).collect()))
    assert a == b


def test_decode_matches_local_computation(spark):
    payload = M.make_payload(7, "image", 32, 48)
    df = spark.createDataFrame(
        [(7, "image", payload, (32, 48, 1, "fake/v1"))], M.MEDIA_SCHEMA
    )
    r = M.decode_image(df).first()
    body = payload[M._HDR_SIZE:]
    assert r["byte_sum"] == sum(body)
    assert r["crc32"] == zlib.crc32(body)


# ---------------------------------------------------------------------------
# Real codecs: PNG (grayscale 8-bit) and WAV (PCM16), stdlib-only.
# ---------------------------------------------------------------------------
def test_png_roundtrip_all_encoder_filters():
    # 7 rows cycles the encoder's None/Sub/Up filter choices >2x.
    w, h = 13, 7
    px = bytes((x * 17 + y * 31) % 256 for y in range(h) for x in range(w))
    data = M.encode_png_gray(px, w, h)
    assert data[:8] == M._PNG_SIG
    gw, gh, gpx = M.decode_png_gray(data)
    assert (gw, gh) == (w, h)
    assert gpx == px


def test_png_decoder_handles_average_and_paeth():
    # Hand-build a PNG whose scanlines use filters 3 (Average) and 4
    # (Paeth) — paths the encoder never emits — and check the decoder
    # reverses them to the intended pixels.
    import struct as st
    import zlib as zl

    w = 4
    rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45])]
    raw = bytearray()
    prev = bytes(w)
    for ft, line in zip((3, 4), rows):
        filt = bytearray()
        recon = bytearray()
        for x in range(w):
            left = recon[x - 1] if x else 0
            up = prev[x]
            ul = prev[x - 1] if x else 0
            if ft == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            filt.append((line[x] - pred) & 0xFF)
            recon.append(line[x])
        raw.append(ft)
        raw.extend(filt)
        prev = line
    ihdr = st.pack(">IIBBBBB", w, 2, 8, 0, 0, 0, 0)
    png = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zl.compress(bytes(raw)))
        + M._png_chunk(b"IEND", b"")
    )
    gw, gh, gpx = M.decode_png_gray(png)
    assert (gw, gh) == (w, 2)
    assert gpx == rows[0] + rows[1]


def test_png_decoder_rejects_corrupt_crc():
    data = bytearray(M.encode_png_gray(bytes(range(16)), 4, 4))
    data[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png_gray(bytes(data))


def test_wav_roundtrip():
    samples = [0, 100, -100, 32767, -32768, 5]
    data = M.encode_wav_pcm16(samples, rate=8000)
    rate, got = M.decode_wav_pcm16(data)
    assert rate == 8000
    assert got == samples


def test_decode_media_dispatch(spark):
    png = M.encode_png_gray(bytes(range(64)), 8, 8)
    wav = M.encode_wav_pcm16([1, 2, 3, -4], rate=16000)
    sgmm = M.make_payload(3, "image", 5, 6)
    df = spark.createDataFrame(
        [(1, png), (2, wav), (3, sgmm)], "media_id long, payload binary"
    )
    rows = {r["media_id"]: r for r in M.decode_media(df).collect()}
    assert rows[1]["format"] == "png"
    assert (rows[1]["width"], rows[1]["height"]) == (8, 8)
    assert rows[1]["value_sum"] == sum(range(64))
    assert rows[2]["format"] == "wav"
    assert rows[2]["n_values"] == 4 and rows[2]["value_sum"] == 2
    assert rows[2]["value_min"] == -4
    assert rows[3]["format"] == "sgmm"
    assert (rows[3]["width"], rows[3]["height"]) == (5, 6)


def test_resize_image_real(spark):
    # 4x4 block image -> 2x2 nearest-neighbor picks the block corners.
    px = bytes(
        [
            0, 0, 100, 100,
            0, 0, 100, 100,
            200, 200, 50, 50,
            200, 200, 50, 50,
        ]
    )
    df = spark.createDataFrame(
        [(9, M.encode_png_gray(px, 4, 4))], "media_id long, payload binary"
    )
    out = M.resize_image(df, 2, 2).first()
    w, h, got = M.decode_png_gray(bytes(out["payload"]))
    assert (w, h) == (2, 2)
    assert got == bytes([0, 100, 200, 50])


def test_resize_image_rejects_non_png(media):
    with pytest.raises(Exception):
        M.resize_image(media, 8, 8).collect()


def test_documents_as_media_oracle_parity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    decoded = M.decode_image(M.documents_as_media(docs))
    got = {r["media_id"]: (r["n_bytes"], r["byte_sum"]) for r in decoded.collect()}
    want = {
        r["doc_id"]: (len(r["text"]), sum(r["text"].encode()))
        for r in docs.collect()
    }
    assert got == want


def test_wav_energy_roundtrip_known_values(spark):
    from pyspark.sql import functions as F

    from hdfs_parquet_importer_spark.operators.multimodal import (
        audio_energy,
        wav_encode_samples,
    )

    src = spark.createDataFrame(
        [(1, [0, 100, -100, 32767, -32768]), (2, [5])],
        "media_id long, samples array<int>",
    )
    got = {
        r.media_id: r
        for r in audio_energy(wav_encode_samples(src)).collect()
    }
    r1 = got[1]
    assert r1.n_samples == 5
    assert r1.sample_sum == 0 + 100 - 100 + 32767 - 32768
    assert r1.energy == 100**2 + 100**2 + 32767**2 + 32768**2
    assert r1.rate == 16000
    assert got[2].energy == 25


def test_wav_resample_half_known_values(spark):
    """2:1 pair-average decimation: floor((a+b)/2) per pair (checks
    the NEGATIVE-pair floor, where int()'s truncation would differ),
    odd trailing sample dropped, rate halved in the re-encoded
    header."""
    from hdfs_parquet_importer_spark.operators.multimodal import (
        audio_energy,
        wav_encode_samples,
        wav_resample_half,
    )

    src = spark.createDataFrame(
        [(1, [10, 20, -5, -6, 7]), (2, [3, 4])],
        "media_id long, samples array<int>",
    )
    got = {
        r.media_id: r
        for r in audio_energy(
            wav_resample_half(wav_encode_samples(src))
        ).collect()
    }
    r1 = got[1]
    # pairs: (10,20)->15, (-5,-6)->floor(-5.5)=-6; trailing 7 dropped.
    assert r1.rate == 8000
    assert r1.n_samples == 2
    assert r1.sample_sum == 15 - 6
    assert r1.energy == 15**2 + 6**2
    # (3,4) -> floor(3.5) = 3.
    assert (got[2].n_samples, got[2].sample_sum) == (1, 3)


def test_image_dhash_gradient_bit_semantics(spark):
    """A 9x8 image that increases left-to-right in every row hashes
    to all-ones (every adjacent pair ascends); flipping ONE adjacent
    pair flips exactly that bit."""
    from hdfs_parquet_importer_spark.operators import multimodal as M

    asc = list(range(72))  # strictly increasing row-major
    flipped = asc.copy()
    # Row 2, cols 4/5 (0-based): make px[2][4] > px[2][5].
    flipped[2 * 9 + 4], flipped[2 * 9 + 5] = (
        flipped[2 * 9 + 5],
        flipped[2 * 9 + 4],
    )
    df = spark.createDataFrame(
        [(1, 9, 8, asc), (2, 9, 8, flipped)],
        "media_id long, width int, height int, pixels array<int>",
    )
    rows = {
        r.media_id: (r.dhash_hi, r.dhash_lo)
        for r in M.image_dhash(M.png_encode_pixels(df)).collect()
    }
    full = (1 << 32) - 1
    assert rows[1] == (full, full)
    # Bit index r*8+c = 2*8+4 = 20 lives in the hi half.
    assert rows[2] == (full ^ (1 << 20), full)


# --------------------------------------------------------------------------
# JPEG baseline codec (r11)
# --------------------------------------------------------------------------
def _gradient(w, h, seed=0):
    # Smooth, non-wrapping gradient: JPEG-friendly, error stays small.
    # (A %256 wrap would put a sawtooth edge in the image and the DCT
    # ringing around it blows the tight error bound.)
    return bytes(
        min(255, 20 + seed % 40 + 2 * (i % w) + 3 * (i // w))
        for i in range(w * h)
    )


def test_jpeg_roundtrip_error_bound():
    import numpy as np

    for w, h in [(8, 8), (9, 8), (17, 13), (1, 1), (32, 24)]:
        px = _gradient(w, h, seed=w * h)
        data = M.encode_jpeg_gray(px, w, h, quality=90)
        dw, dh, dec = M.decode_jpeg_gray(data)
        assert (dw, dh) == (w, h)
        assert len(dec) == w * h
        err = np.abs(
            np.frombuffer(dec, dtype=np.uint8).astype(int)
            - np.frombuffer(px, dtype=np.uint8).astype(int)
        ).max()
        assert err <= 4, f"{w}x{h}: max_abs_err {err}"


def test_jpeg_restart_markers_decode_identically():
    px = _gradient(40, 24, seed=3)
    plain = M.decode_jpeg_gray(M.encode_jpeg_gray(px, 40, 24, quality=85))
    for ri in (1, 3, 7):
        with_rst = M.decode_jpeg_gray(
            M.encode_jpeg_gray(px, 40, 24, quality=85, restart_interval=ri)
        )
        assert with_rst == plain


def test_jpeg_decoder_rejects_unsupported_by_name():
    data = bytearray(M.encode_jpeg_gray(_gradient(8, 8), 8, 8))
    i = bytes(data).find(b"\xff\xc0")
    # SOF0 -> SOF9 (arithmetic sequential) — still a named boundary.
    data[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        M.decode_jpeg_gray(bytes(data))
    # SOF0 -> SOF2: progressive now DECODES (r12 second pass) — but a
    # baseline full-band scan relabeled progressive is malformed (a
    # progressive DC scan must have Se = 0) and fails loudly, never
    # silently misdecoding.
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se = 0"):
        M.decode_jpeg_gray(bytes(data))
    with pytest.raises(ValueError, match="not a JPEG"):
        M.decode_jpeg_gray(b"\x00\x01")


def test_jpeg_truncated_entropy_raises():
    data = M.encode_jpeg_gray(_gradient(32, 32), 32, 32)
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(data[: len(data) // 2])


def _entropy_start(data: bytes) -> int:
    """Offset of the first byte after the (first) SOS segment."""
    sos = data.find(b"\xff\xda")
    return sos + 2 + int.from_bytes(data[sos + 2: sos + 4], "big")


def test_jpeg_entropy_decoder_error_messages():
    """Each way a scan's entropy data can be malformed raises its own
    ValueError message."""
    data = M.encode_jpeg_gray(_gradient(32, 32), 32, 32)
    start = _entropy_start(data)
    cut = start + 5
    assert 0xFF not in data[start:cut]
    # Data ends mid-scan with no marker.
    with pytest.raises(ValueError, match="truncated"):
        M.decode_jpeg_gray(data[:cut])
    # A marker (here EOI) arrives before the scan is complete.
    with pytest.raises(ValueError, match="ended at marker early"):
        M.decode_jpeg_gray(data[:cut] + b"\xff\xd9")
    # Sixteen 1-bits (stuffed FF 00 pairs) match no Annex K DC code.
    with pytest.raises(ValueError, match="invalid JPEG Huffman code"):
        M.decode_jpeg_gray(data[:start] + b"\xff\x00" * 4 + b"\xff\xd9")
    rst = M.encode_jpeg_gray(_gradient(32, 32), 32, 32, restart_interval=1)
    i = rst.find(b"\xff\xd0", _entropy_start(rst))
    # The first restart marker must be RST0 ...
    with pytest.raises(ValueError, match="expected RST0, got marker 0xd2"):
        M.decode_jpeg_gray(rst[:i] + b"\xff\xd2" + rst[i + 2:])
    # ... and must be there at all.
    with pytest.raises(ValueError, match="expected JPEG restart marker"):
        M.decode_jpeg_gray(rst[:i] + rst[i + 2:])


def test_decode_media_dispatches_jpeg(spark):
    px = _gradient(16, 16)
    jpg = M.encode_jpeg_gray(px, 16, 16, quality=95)
    df = spark.createDataFrame(
        [(7, jpg)], "media_id long, payload binary"
    )
    row = M.decode_media(df).collect()[0]
    assert row["format"] == "jpeg"
    assert (row["width"], row["height"]) == (16, 16)
    assert row["n_values"] == 256
    # Lossy: value_sum is near (not equal to) the source sum.
    assert abs(row["value_sum"] - sum(px)) <= 4 * 256


def test_jpeg_roundtrip_error_operator(spark):
    df = spark.createDataFrame(
        [
            (1, 9, 8, list(_gradient(9, 8, seed=1))),
            (2, 16, 16, list(_gradient(16, 16, seed=2))),
        ],
        "media_id long, width int, height int, pixels array<int>",
    )
    rows = {
        r.media_id: r for r in M.jpeg_roundtrip_error(df, quality=90).collect()
    }
    assert rows[1].n_pixels == 72 and rows[2].n_pixels == 256
    assert rows[1].max_abs_err <= 4 and rows[2].max_abs_err <= 4


def test_jpeg_fill_bytes_and_lossless_marker():
    """Spec-legal 0xFF fill bytes before a marker parse fine; lossless
    (SOF3) raises by name (r11 review)."""
    px = _gradient(16, 16)
    d = M.encode_jpeg_gray(px, 16, 16)
    filled = d[:2] + b"\xff\xff\xff" + d[2:]
    assert M.decode_jpeg_gray(filled) == M.decode_jpeg_gray(d)
    i = d.find(b"\xff\xc0")
    patched = bytearray(d)
    patched[i + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="lossless"):
        M.decode_jpeg_gray(bytes(patched))


def test_jpeg_standalone_markers_skip_without_length():
    """Spec-legal standalone markers — TEM (0xFF01), stray RSTn,
    repeated SOI — carry no length field (ITU T.81 B.1.1.3); the
    pre-SOS parser must skip them instead of misreading the next two
    bytes as a segment length (r11 ADVICE)."""
    px = _gradient(16, 16)
    d = M.encode_jpeg_gray(px, 16, 16)
    base = M.decode_jpeg_gray(d)
    for standalone in (b"\xff\x01", b"\xff\xd3", b"\xff\xd8"):
        spliced = d[:2] + standalone + d[2:]
        assert M.decode_jpeg_gray(spliced) == base, standalone.hex()
    # All three at once, plus fill bytes, still decode identically.
    spliced = d[:2] + b"\xff\xff\xff\x01\xff\xd0\xff\xd8" + d[2:]
    assert M.decode_jpeg_gray(spliced) == base
    # EOI with no scan data still raises the named error.
    with pytest.raises(ValueError, match="no scan data"):
        M.decode_jpeg_gray(b"\xff\xd8\xff\xd9")


def _rgb_gradient(w, h, seed=0):
    out = bytearray()
    for yy in range(h):
        for xx in range(w):
            out += bytes((
                min(255, 30 + seed % 30 + 4 * xx),
                min(255, 20 + 5 * yy),
                max(0, min(255, 200 - 3 * xx - 2 * yy)),
            ))
    return bytes(out)


def test_jpeg_color_roundtrip_error_bound():
    """4:4:4 color roundtrip (r11 VERDICT item 8): RGB -> YCbCr ->
    DCT/quant/Huffman -> decode -> RGB stays within a small error
    bound on smooth gradients (chroma quant is coarser than luma, so
    the bound is wider than gray's <=4)."""
    import numpy as np

    for w, h in [(8, 8), (9, 8), (17, 13), (1, 1), (24, 16)]:
        rgb = _rgb_gradient(w, h, seed=w * h)
        data = M.encode_jpeg_rgb(rgb, w, h, quality=92)
        dw, dh, dec = M.decode_jpeg_rgb(data)
        assert (dw, dh) == (w, h)
        assert len(dec) == w * h * 3
        err = np.abs(
            np.frombuffer(dec, dtype=np.uint8).astype(int)
            - np.frombuffer(rgb, dtype=np.uint8).astype(int)
        ).max()
        assert err <= 8, f"{w}x{h}: max_abs_err {err}"


def test_jpeg_color_restart_markers_decode_identically():
    rgb = _rgb_gradient(24, 16, seed=5)
    plain = M.decode_jpeg_rgb(M.encode_jpeg_rgb(rgb, 24, 16, quality=90))
    for ri in (1, 2, 5):
        with_rst = M.decode_jpeg_rgb(
            M.encode_jpeg_rgb(rgb, 24, 16, quality=90, restart_interval=ri)
        )
        assert with_rst == plain


def test_jpeg_color_gray_interop():
    """decode_jpeg_rgb reads grayscale files (plane replicated to
    R=G=B, the way every viewer renders them); decode_jpeg_gray on a
    color file raises naming the right entry point."""
    px = _gradient(16, 16)
    gray_file = M.encode_jpeg_gray(px, 16, 16)
    w, h, rgb = M.decode_jpeg_rgb(gray_file)
    assert (w, h) == (16, 16) and len(rgb) == 16 * 16 * 3
    _, _, g = M.decode_jpeg_gray(gray_file)
    assert rgb[0::3] == g and rgb[1::3] == g and rgb[2::3] == g
    color_file = M.encode_jpeg_rgb(_rgb_gradient(8, 8), 8, 8)
    with pytest.raises(NotImplementedError, match="decode_jpeg_rgb"):
        M.decode_jpeg_gray(color_file)


def test_jpeg_color_rejects_exotic_sampling_by_name():
    """h, v in {1, 2} are SUPPORTED since r12 (4:4:4 / 4:2:2 / 4:2:0);
    factors above 2 raise by name."""
    data = bytearray(M.encode_jpeg_rgb(_rgb_gradient(8, 8), 8, 8))
    i = bytes(data).find(b"\xff\xc0")
    # SOF0 component 1 sampling byte: marker(2) + len(2) + P(1) +
    # Y(2) + X(2) + Nf(1) + C1 id(1) -> sampling at offset i+11.
    data[i + 11] = 0x33  # claim 3x3 luma sampling
    with pytest.raises(NotImplementedError, match="sampling factor"):
        M.decode_jpeg_rgb(bytes(data))


def test_jpeg_420_roundtrip_error_bound():
    """4:2:0 roundtrip (chroma 2x2 box-averaged then replicated back):
    wider bound than 4:4:4 — subsampling averages chroma across
    pixels — but still tight on smooth gradients."""
    import numpy as np

    for w, h in [(16, 16), (24, 16), (17, 13), (9, 8), (1, 1), (33, 31)]:
        rgb = _rgb_gradient(w, h, seed=w + h)
        data = M.encode_jpeg_rgb(rgb, w, h, quality=92, subsampling="420")
        dw, dh, dec = M.decode_jpeg_rgb(data)
        assert (dw, dh) == (w, h)
        err = np.abs(
            np.frombuffer(dec, dtype=np.uint8).astype(int)
            - np.frombuffer(rgb, dtype=np.uint8).astype(int)
        ).max()
        assert err <= 12, f"{w}x{h}: max_abs_err {err}"
    # 4:2:0 files are materially smaller than 4:4:4 at equal quality.
    rgb = _rgb_gradient(32, 32)
    assert len(
        M.encode_jpeg_rgb(rgb, 32, 32, quality=92, subsampling="420")
    ) < len(M.encode_jpeg_rgb(rgb, 32, 32, quality=92))


def test_jpeg_420_restart_markers_decode_identically():
    rgb = _rgb_gradient(32, 32, seed=9)
    plain = M.decode_jpeg_rgb(
        M.encode_jpeg_rgb(rgb, 32, 32, quality=90, subsampling="420")
    )
    for ri in (1, 3):
        with_rst = M.decode_jpeg_rgb(
            M.encode_jpeg_rgb(
                rgb, 32, 32, quality=90,
                subsampling="420", restart_interval=ri,
            )
        )
        assert with_rst == plain


def test_jpeg_encode_rejects_bad_subsampling():
    with pytest.raises(ValueError, match="subsampling"):
        M.encode_jpeg_rgb(_rgb_gradient(8, 8), 8, 8, subsampling="422")


def test_decode_media_dispatches_color_jpeg(spark):
    rgb = _rgb_gradient(16, 12)
    jpg = M.encode_jpeg_rgb(rgb, 16, 12, quality=95)
    df = spark.createDataFrame(
        [(11, jpg)], "media_id long, payload binary"
    )
    row = M.decode_media(df).collect()[0]
    assert row["format"] == "jpeg_rgb"
    assert (row["width"], row["height"]) == (16, 12)
    assert row["n_values"] == 16 * 12 * 3
    assert abs(row["value_sum"] - sum(rgb)) <= 8 * len(rgb)


def test_image_dhash_jpeg_luma_path(spark):
    """image_dhash hashes JPEG payloads too (r12): a strong 9x8
    gradient produces the same dHash via the PNG path, the grayscale
    JPEG path, and the COLOR JPEG path (luma plane) — lossy error
    (<=4) cannot flip comparisons when adjacent pixels differ by 10."""
    px = bytes(min(255, 10 * c + 5 * r) for r in range(8) for c in range(9))
    png = M.encode_png_gray(px, 9, 8)
    jpg_gray = M.encode_jpeg_gray(px, 9, 8, quality=95)
    rgb = b"".join(bytes((v, v, v)) for v in px)
    jpg_color = M.encode_jpeg_rgb(rgb, 9, 8, quality=95)
    df = spark.createDataFrame(
        [(1, png), (2, jpg_gray), (3, jpg_color)],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in M.image_dhash(df).collect()}
    assert (
        rows[1].dhash_hi == rows[2].dhash_hi == rows[3].dhash_hi
    ), rows
    assert (
        rows[1].dhash_lo == rows[2].dhash_lo == rows[3].dhash_lo
    ), rows


def test_jpeg_progressive_matches_sequential_exhaustive_slice():
    """Progressive (SOF2) decode must be BYTE-IDENTICAL to sequential
    baseline decode of the same pixels at the same quality: every
    first scan drops exactly the one bit (Al=1) its refinement scan
    restores, so the coefficient arrays coincide. A deterministic
    slice of the full sweep (the complete 2520-class sweep plus 300
    adversarial images ran green at birth — r12 second pass); noise
    at low quality exercises ZRL + correction-bit interplay, flats
    exercise multi-block EOB runs (EOBn through the flat-8 table)."""
    import random

    rng = random.Random(7)
    cases = [(w, h, s) for w in (8, 13, 16) for h in (8, 11, 14) for s in (0, 19, 39)]
    for w, h, seed in cases:
        px = bytes(
            (20 + seed + 2 * (i % w) + 3 * (i // w)) & 0x7F
            for i in range(w * h)
        )
        for q in (50, 90):
            pb = M.decode_jpeg_gray(M.encode_jpeg_gray(px, w, h, q))[2]
            pp = M.decode_jpeg_gray(
                M.encode_jpeg_gray_progressive(px, w, h, q)
            )[2]
            assert pb == pp, (w, h, seed, q)
    for kind in ("noise", "flat", "checker"):
        w, h = rng.randint(1, 33), rng.randint(1, 33)
        if kind == "noise":
            px = bytes(rng.randrange(256) for _ in range(w * h))
        elif kind == "flat":
            px = bytes([rng.randrange(256)]) * (w * h)
        else:
            px = bytes(
                255 if ((i % w) + (i // w)) % 2 else 0 for i in range(w * h)
            )
        pb = M.decode_jpeg_gray(M.encode_jpeg_gray(px, w, h, 25))[2]
        pp = M.decode_jpeg_gray(M.encode_jpeg_gray_progressive(px, w, h, 25))[2]
        assert pb == pp, (kind, w, h)


def test_jpeg_progressive_stream_is_sof2_multiscan():
    """The progressive encoder emits a REAL progressive stream: SOF2
    marker, five SOS segments (DC first/refine, two AC bands, AC
    refine), and the flat-8 AC table as an ordinary DHT — any spec
    decoder reads it, and the baseline core refuses it by name only
    through the SOF2 dispatch (never silently)."""
    px = bytes((i * 7) & 0xFF for i in range(16 * 12))
    data = M.encode_jpeg_gray_progressive(px, 16, 12, quality=90)
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data
    assert data.count(b"\xff\xda") == 5
    w, h, dec = M.decode_jpeg_gray(data)
    assert (w, h) == (16, 12) and len(dec) == 16 * 12


def test_jpeg_progressive_roundtrip_operator(spark):
    """The mapInPandas QA stage reports identical-decode and the
    gray error bound on a small frame."""
    rows = []
    for i in range(6):
        w, h = 8 + i % 5, 8 + i % 3
        px = bytes((20 + i + 2 * (j % w) + 3 * (j // w)) & 0x7F for j in range(w * h))
        rows.append((i, w, h, px))
    df = spark.createDataFrame(
        rows, "media_id long, width int, height int, pixels binary"
    )
    out = M.jpeg_progressive_roundtrip_error(df, quality=90).collect()
    assert len(out) == 6
    for r in out:
        assert r.matches_sequential, r
        assert r.max_abs_err <= 4, r
        assert r.n_pixels == r.width * r.height


# ---------------------------------------------------------------------------
# r13: progressive restart intervals + 3-component progressive (the
# decoder paths ADVICE r12 flagged as producer-less), and the real
# AVI/MJPEG video container.
# ---------------------------------------------------------------------------
def test_jpeg_progressive_restart_interval_roundtrip():
    """DRI in a progressive stream: every scan splits into RST-joined
    intervals (predictor / EOB-run / correction-queue resets) and the
    decoder's progressive restart paths reproduce the no-DRI decode
    bit-for-bit."""
    w, h = 40, 24
    px = bytes((x * 31 + y * 17 + (x * y) % 7) % 256 for y in range(h) for x in range(w))
    base = M.decode_jpeg_gray(M.encode_jpeg_gray(px, w, h, quality=90))[2]
    for ri in (1, 2, 3, 5):
        data = M.encode_jpeg_gray_progressive(px, w, h, quality=90, restart_interval=ri)
        assert b"\xff\xdd" in data  # DRI segment present
        n_rst = sum(
            1
            for i in range(len(data) - 1)
            if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
        )
        assert n_rst > 0
        assert M.decode_jpeg_gray(data)[2] == base


def test_jpeg_rgb_progressive_matches_sequential():
    """3-component SOF2: one INTERLEAVED multi-component DC scan +
    three single-component AC scans (spectral selection only, Ah=Al=0
    so the baseline Annex K tables suffice) decodes bit-identically
    to the sequential 4:4:4 encoding — exercising the progressive
    decoder's interleaved-DC and 3-component paths end to end."""
    w, h = 24, 16
    px = bytes(
        ((x * 31 + y * 17 + ch * 53) % 256)
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    )
    for q, ri in ((90, 0), (75, 0), (90, 2), (50, 1)):
        base = M.decode_jpeg_rgb(M.encode_jpeg_rgb(px, w, h, quality=q))
        prog = M.encode_jpeg_rgb_progressive(px, w, h, quality=q, restart_interval=ri)
        assert b"\xff\xc2" in prog and prog.count(b"\xff\xda") == 4
        assert M.decode_jpeg_rgb(prog) == base


def test_avi_mjpeg_container_roundtrip():
    """encode_avi_mjpeg -> decode_avi_mjpeg returns the exact frame
    byte strings and header dimensions; frame count cross-checks
    (avih dwTotalFrames, idx1 entries) hold on the wire format."""
    import hashlib

    w, h = 24, 16
    frames = []
    for idx in range(5):
        lvl = hashlib.sha256(f"7:{idx}".encode()).digest()[0]
        frames.append(M.encode_jpeg_gray(bytes([lvl]) * (w * h), w, h, quality=100))
    avi = M.encode_avi_mjpeg(frames, w, h)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    w2, h2, out = M.decode_avi_mjpeg(avi)
    assert (w2, h2) == (w, h)
    assert out == frames


def test_avi_flat_q100_frame_decodes_exactly():
    """The framesample oracle's premise: a FLAT frame at quality 100
    (all-ones quant table, DC-only blocks) round-trips its gray level
    EXACTLY, for every container geometry the builder emits."""
    import hashlib

    for mid in (0, 1, 5, 1234):
        w = 16 + (mid % 3) * 8
        h = 16 + (mid % 2) * 8
        for idx in range(2 + mid % 6):
            lvl = hashlib.sha256(f"{mid}:{idx}".encode()).digest()[0]
            enc = M.encode_jpeg_gray(bytes([lvl]) * (w * h), w, h, quality=100)
            dw, dh, px = M.decode_jpeg_gray(enc)
            assert (dw, dh) == (w, h)
            assert min(px) == max(px) == lvl


def test_avi_rejects_non_mjpeg_by_name():
    frames = [M.encode_jpeg_gray(bytes([7]) * 64, 8, 8, quality=100)]
    avi = bytearray(M.encode_avi_mjpeg(frames, 8, 8))
    pos = avi.find(b"MJPG")
    avi[pos : pos + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="H264"):
        M.decode_avi_mjpeg(bytes(avi))
    with pytest.raises(ValueError, match="not an AVI"):
        M.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")


def test_avi_frame_sample_operator(spark):
    """The Spark stages: build real AVI containers from doc_ids, parse
    + sample + decode; per-frame extrema equal the sha-derived flat
    level and the stride matches ceil(n_frames / 2)."""
    import hashlib

    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = M.avi_frame_sample(M.documents_as_mjpeg_avi(df), every_n=2).collect()
    by_key = {(r.media_id, r.frame_idx): r for r in out}
    expect = 0
    for mid in range(12):
        n = 2 + mid % 6
        for idx in range(0, n, 2):
            expect += 1
            r = by_key[(mid, idx)]
            lvl = hashlib.sha256(f"{mid}:{idx}".encode()).digest()[0]
            assert r.min_gray == r.max_gray == lvl
            assert r.width == 16 + (mid % 3) * 8
            assert r.height == 16 + (mid % 2) * 8
    assert len(out) == expect


def test_decode_media_dispatches_avi(spark):
    """RIFF now forks on form type: WAVE -> PCM stats, AVI -> demux +
    full per-frame JPEG decode stats."""
    import hashlib

    df = spark.createDataFrame([(3,)], "doc_id long")
    payload = M.documents_as_mjpeg_avi(df).first()["payload"]
    media = spark.createDataFrame(
        [(3, "video", bytes(payload), (32, 24, 5, "avi/mjpeg"))], M.MEDIA_SCHEMA
    )
    r = M.decode_media(media).first()
    n = 2 + 3 % 6
    w, h = 16 + (3 % 3) * 8, 16 + (3 % 2) * 8
    levels = [hashlib.sha256(f"3:{i}".encode()).digest()[0] for i in range(n)]
    assert r.format == "avi_mjpeg"
    assert (r.width, r.height) == (w, h)
    assert r.n_values == n * w * h
    assert r.value_sum == sum(lvl * w * h for lvl in levels)
    assert r.value_min == min(levels) and r.value_max == max(levels)


def _jpeg_grid():
    """Every encoder's output on a seeded grid of sizes, qualities and
    restart intervals (450 encodes)."""
    import random

    for w, ht in ((1, 1), (7, 5), (8, 8), (17, 9), (16, 16), (33, 20)):
        rng = random.Random(w * 1000 + ht)
        gray = bytes(rng.randrange(256) for _ in range(w * ht))
        rgb = bytes(rng.randrange(256) for _ in range(3 * w * ht))
        for q in (1, 25, 50, 90, 100):
            for ri in (0, 1, 3):
                for data in (
                    M.encode_jpeg_gray(gray, w, ht, q, ri),
                    M.encode_jpeg_rgb(rgb, w, ht, q, ri, subsampling="444"),
                    M.encode_jpeg_rgb(rgb, w, ht, q, ri, subsampling="420"),
                    M.encode_jpeg_gray_progressive(gray, w, ht, q, ri),
                    M.encode_jpeg_rgb_progressive(rgb, w, ht, q, ri),
                ):
                    yield data


def _grid_digest(blobs) -> str:
    import hashlib

    h = hashlib.sha256()
    for data in blobs:
        h.update(len(data).to_bytes(4, "big") + data)
    return h.hexdigest()


def test_jpeg_encoder_bytes_pinned():
    """Every encoder's output is pinned byte for byte: a refactor of the
    codec may change its code, never the files it writes."""
    assert _grid_digest(_jpeg_grid()) == (
        "c636ece819679981bdccfd2a48d5f7f9a3e17150dee376f2b14b8dabd10fdf14"
    )


def test_jpeg_decoder_pixels_pinned():
    """Decoded pixels of the same grid are pinned too, so the decoder's
    per-block arithmetic cannot drift either."""
    assert _grid_digest(M.decode_jpeg_rgb(d)[2] for d in _jpeg_grid()) == (
        "7f92c73319cfd6d3baa4337f3be0110195fa14c294f7597e4ae729d80e63109e"
    )


def test_decode_media_decodes_each_jpeg_once(monkeypatch):
    """decode_media runs the JPEG core once per payload and branches on
    the plane count, for gray and color files alike."""
    calls = []
    core = M._decode_jpeg_planes

    def counting(data):
        calls.append(len(data))
        return core(data)

    monkeypatch.setattr(M, "_decode_jpeg_planes", counting)
    gray = M.encode_jpeg_gray(_gradient(16, 16), 16, 16)
    color = M.encode_jpeg_rgb(_rgb_gradient(16, 12), 16, 12)
    for data, fmt, n in ((gray, "jpeg", 256), (color, "jpeg_rgb", 576)):
        calls.clear()
        (row,) = M._decode_media_row(1, data)
        assert (row[1], row[4]) == (fmt, n)
        assert calls == [len(data)]


def test_blockwise_dct_matches_per_block_loop():
    """The stacked FDCT/quantize and dequantize/IDCT equal the
    per-block loop they replace, float for float (not just after
    rounding to pixels)."""
    import numpy as np

    c = M._dct_mat()
    rng = np.random.default_rng(11)
    for rows, cols in ((1, 1), (2, 3), (5, 4)):
        plane = rng.integers(0, 256, (rows * 8, cols * 8)) * 0.587
        qt = M._scaled_qt(int(rng.integers(1, 101)), int(rng.integers(2)))
        qmat = np.array(qt, dtype=np.float64).reshape(8, 8)
        zz = M._zigzag_coefs(plane, qt)
        pix = M._idct_blocks(zz, [qt[i] for i in M._ZIGZAG])
        for by in range(rows):
            for bx in range(cols):
                blk = plane[by * 8: by * 8 + 8, bx * 8: bx * 8 + 8] - 128.0
                q = np.round((c @ blk @ c.T) / qmat).astype(np.int64)
                assert np.array_equal(zz[by, bx], q.reshape(64)[M._ZIGZAG])
                block = np.zeros(64)
                block[M._ZIGZAG] = zz[by, bx]
                ref = c.T @ (block.reshape(8, 8) * qmat) @ c + 128.0
                got = pix[by * 8: by * 8 + 8, bx * 8: bx * 8 + 8]
                assert np.array_equal(got, ref)


def test_raw_gray_wraps_ints_modulo_256():
    """Int pixel cells wrap modulo 256, bytes pass through."""
    import numpy as np

    assert M._raw_gray([-1, 256, 300]) == bytes([255, 0, 44])
    assert M._raw_gray(np.array([-1, 256, 300], dtype=np.int32)) == bytes([255, 0, 44])
    assert M._raw_gray(bytearray(b"\x01\xff")) == b"\x01\xff"


def _query_gradient(mid, w, h, channels):
    """The gradient roundtrip queries' pixel formulas, pixel by pixel."""
    px = []
    for y in range(h):
        for x in range(w):
            rgb = (
                20 + mid % 40 + 2 * x + 3 * y,
                10 + (mid % 40) // 2 + 3 * x + 2 * y,
                40 + mid % 20 + x + 4 * y,
            )
            px += rgb[:channels]
    return bytes(v & 0xFF for v in px)


def test_roundtrip_batch_equals_per_image_codec():
    """One batch mixing all 126 (width, height, subsampling) classes of
    multimodal_jpeg_color_roundtrip with gray rows at restart intervals
    0, 1 and 3: every row gets the file, the decoded pixels and the
    error of the per-image encode -> decode calls."""
    color = [
        (i, 8 + i % 9, 8 + i % 7, "444" if i % 2 == 0 else "420", 0)
        for i in range(126)
    ]
    gray = [
        (1000 + i, 1 + i % 17, 1 + i % 13, "gray", (0, 1, 3)[i % 3])
        for i in range(40)
    ]
    cases = color + gray
    mids, ws, hs, layouts, ris = zip(*cases)
    rows, files, decoded = M._roundtrip_batch(mids, ws, hs, layouts, 90, restarts=ris)
    for (mid, w, h, layout, ri), row, f, d in zip(cases, rows, files, decoded):
        if layout == "gray":
            raw = _query_gradient(mid, w, h, 1)
            jpeg = M.encode_jpeg_gray(raw, w, h, 90, ri)
            pix = M.decode_jpeg_gray(jpeg)[2]
        else:
            raw = _query_gradient(mid, w, h, 3)
            jpeg = M.encode_jpeg_rgb(raw, w, h, 90, ri, subsampling=layout)
            pix = M.decode_jpeg_rgb(jpeg)[2]
        assert (f, d) == ((jpeg,), (pix,)), (mid, w, h, layout, ri)
        assert row == (mid, w, h, w * h, max(abs(a - b) for a, b in zip(pix, raw)))


def test_roundtrip_batch_progressive_pixels_equal_per_image_codec():
    """The pixel-column and progressive paths of the batch stage: noise
    images (several per size) at restart intervals 0, 1 and 3 get the
    per-image baseline and progressive files, pixels and errors."""
    import random

    rng = random.Random(5)
    cases = []
    for i in range(36):
        w, h = rng.choice((1, 8, 13)), rng.choice((5, 16))
        px = bytes(rng.randrange(256) for _ in range(w * h))
        cases.append((i, w, h, px, (0, 1, 3)[i % 3]))
    mids, ws, hs, pxs, ris = zip(*cases)
    rows, files, decoded = M._roundtrip_batch(
        mids, ws, hs, ["gray"] * len(cases), 50, True, list(pxs), ris
    )
    for (mid, w, h, px, ri), row, f, d in zip(cases, rows, files, decoded):
        base = M.encode_jpeg_gray(px, w, h, 50, ri)
        prog = M.encode_jpeg_gray_progressive(px, w, h, 50, ri)
        pb, pp = M.decode_jpeg_gray(base)[2], M.decode_jpeg_gray(prog)[2]
        assert (f, d) == ((base, prog), (pb, pp)), (mid, w, h, ri)
        err = max(abs(a - b) for a, b in zip(pp, px))
        assert row == (mid, w, h, w * h, err, pp == pb)


def test_jpeg_scan_band_past_63_raises():
    """A progressive AC scan whose SOS claims Se > 63 is refused by
    name instead of decoding into the next block."""
    data = M.encode_jpeg_gray_progressive(_gradient(16, 16), 16, 16)
    sos = data.find(b"\xff\xda", data.find(b"\xff\xda") + 2)  # 2nd scan
    sos = data.find(b"\xff\xda", sos + 2)  # 3rd scan: AC band 1-5
    se = sos + 4 + 1 + 2 + 1  # marker, length, Ns, one selector, Ss
    assert data[se] == 5
    bad = data[:se] + bytes([64]) + data[se + 1:]
    with pytest.raises(ValueError, match="Se = 64"):
        M.decode_jpeg_gray(bad)
