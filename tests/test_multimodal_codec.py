"""Real-codec tests: the pure-numpy BMP/PPM decoders against golden,
hand-constructed fixtures, plus the Spark round-trip feature operator and
the HLL approx-distinct tolerance bound (VERDICT r02 asks #5 and #7)."""

import hashlib
import os
import struct

import numpy as np
import pytest

from new_ent_crawler_spark.operators import multimodal as MM

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")


# -- golden BMP fixture: 2x2, hand-assembled byte-by-byte -------------------

def _golden_bmp():
    """Bottom-up 24-bpp BMP of [[red, green], [blue, white]] (top-down RGB),
    assembled manually so the test does not trust encode_bmp."""
    w = h = 2
    stride = 8  # 2 px * 3 B = 6, padded to 8
    # bottom-up: file row 0 = image row 1 = [blue, white]; BGR order
    row_bot = bytes([255, 0, 0, 255, 255, 255]) + b"\x00\x00"
    row_top = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"
    header = (b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            stride * h, 2835, 2835, 0, 0))
    return header + row_bot + row_top


GOLDEN_PIXELS = np.array([[[255, 0, 0], [0, 255, 0]],
                          [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8)


def test_decode_bmp_golden_fixture():
    out = MM.decode_bmp(_golden_bmp())
    assert out.shape == (2, 2, 3)
    assert (out == GOLDEN_PIXELS).all()


def test_decode_bmp_top_down_variant():
    """Negative biHeight = top-down row order; same pixels, no flip."""
    b = bytearray(_golden_bmp())
    struct.pack_into("<i", b, 22, -2)  # biHeight = -2
    # rows are now interpreted top-down: swap them to keep the same image
    b[54:62], b[62:70] = b[62:70], b[54:62]
    out = MM.decode_bmp(bytes(b))
    assert (out == GOLDEN_PIXELS).all()


def test_encode_decode_bmp_roundtrip_with_stride_padding():
    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (2, 3), (3, 2), (5, 4), (8, 8)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (MM.decode_bmp(MM.encode_bmp(px)) == px).all(), (w, h)


def test_decode_bmp_rejects_compressed_and_truncated():
    b = bytearray(_golden_bmp())
    struct.pack_into("<I", b, 30, 1)  # BI_RLE8
    with pytest.raises(NotImplementedError):
        MM.decode_bmp(bytes(b))
    with pytest.raises(ValueError):
        MM.decode_bmp(_golden_bmp()[:40])
    with pytest.raises(ValueError):
        MM.decode_bmp(b"XX" + _golden_bmp()[2:])


def test_decode_ppm_golden_with_comment():
    raster = GOLDEN_PIXELS.tobytes()
    payload = b"P6\n# a comment\n2 2\n255\n" + raster
    out = MM.decode_ppm(payload)
    assert (out == GOLDEN_PIXELS).all()
    with pytest.raises(NotImplementedError):
        MM.decode_ppm(b"P6\n2 2\n65535\n" + raster * 2)


def test_decode_image_dispatch():
    assert (MM.decode_image(_golden_bmp()) == GOLDEN_PIXELS).all()
    assert (MM.decode_image(b"P6\n2 2\n255\n" + GOLDEN_PIXELS.tobytes())
            == GOLDEN_PIXELS).all()
    assert (MM.decode_image(MM.encode_png(GOLDEN_PIXELS))
            == GOLDEN_PIXELS).all()
    with pytest.raises(ValueError):
        MM.decode_image(b"\xff\xd8\xff\xe0....")  # truncated JPEG
    with pytest.raises(ValueError):
        MM.decode_image(b"GIF89a......")  # GIF decodes for real now
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x00\x00\x01\xba......")  # MPEG stays stubbed


# -- PNG: the real COMPRESSED codec (zlib + all five scanline filters) ------

def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data)))


def _golden_png(filters: list[int], px: np.ndarray) -> bytes:
    """Hand-assembled PNG with EXPLICIT per-row filter bytes computed from
    the spec by an independent implementation (so the test does not trust
    encode_png)."""
    import zlib
    h, w, _ = px.shape
    flat = px.astype(np.int16).reshape(h, w * 3)
    out = bytearray()
    for y, f in enumerate(filters):
        row = flat[y]
        prior = flat[y - 1] if y else np.zeros(w * 3, np.int16)
        left = np.concatenate([np.zeros(3, np.int16), row[:-3]])
        pleft = np.concatenate([np.zeros(3, np.int16), prior[:-3]])
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prior
        elif f == 3:
            enc = row - (left + prior) // 2
        elif f == 4:
            # reference Paeth, scalar, straight from the spec
            enc = row.copy()
            for i in range(w * 3):
                a, b, c = int(left[i]), int(prior[i]), int(pleft[i])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = row[i] - pred
        out.append(f)
        out += (enc % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (MM._PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def test_decode_png_golden_all_filters():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    got = MM.decode_png(_golden_png([0, 1, 2, 3, 4], px))
    assert (got == px).all()


def test_encode_decode_png_roundtrip_cycles_filters():
    rng = np.random.default_rng(11)
    for (w, h) in [(1, 1), (4, 5), (7, 3), (16, 16)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for mode in ("cycle", "none"):
            assert (MM.decode_png(MM.encode_png(px, filter_mode=mode))
                    == px).all(), (w, h, mode)


def test_decode_png_grayscale_and_rgba():
    import zlib
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # gray
    raw = bytes([0, 10, 20, 0, 30, 40])
    png = (MM._PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b""))
    out = MM.decode_png(png)
    assert out.shape == (2, 2, 3) and (out[1, 1] == [40, 40, 40]).all()
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)  # RGBA, alpha dropped
    raw = bytes([0, 1, 2, 3, 255, 4, 5, 6, 0])
    png = (MM._PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b""))
    assert (MM.decode_png(png)[0, 1] == [4, 5, 6]).all()


def test_decode_png_rejects_bad_crc_interlace_and_16bit():
    import zlib
    px = np.zeros((1, 1, 3), np.uint8)
    good = MM.encode_png(px)
    bad = bytearray(good)
    bad[20] ^= 0xFF  # corrupt IHDR body -> CRC mismatch
    with pytest.raises(ValueError):
        MM.decode_png(bytes(bad))
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)  # Adam7
    png = (MM._PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\0\0\0\0"))
           + _png_chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        MM.decode_png(png)
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)  # 16-bit depth
    png = (MM._PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\0" * 7))
           + _png_chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        MM.decode_png(png)


def test_png_roundtrip_features_matches_hand_computation(spark):
    df = spark.createDataFrame([(17,), (99,)], "doc_id long")
    rows = {r.doc_id: r for r in MM.png_roundtrip_features(df).collect()}
    for did in (17, 99):
        px = np.zeros((5, 4, 3), dtype=np.uint8)
        for y in range(5):
            raw = hashlib.md5(f"{did}:png:{y}".encode()).digest()[:12]
            px[y] = np.frombuffer(raw, np.uint8).reshape(4, 3)
        r = rows[did]
        assert (r.width, r.height) == (4, 5)
        s = px.astype(np.int64).sum(axis=(0, 1))
        assert (r.sum_r, r.sum_g, r.sum_b) == (s[0], s[1], s[2])
        assert r.px_md5 == hashlib.md5(
            px.tobytes().hex().encode()).hexdigest()


def test_bmp_roundtrip_features_matches_hand_computation(spark):
    df = spark.createDataFrame([(17,), (99,)], "doc_id long")
    rows = {r.doc_id: r for r in MM.bmp_roundtrip_features(df).collect()}
    for did in (17, 99):
        # independent reconstruction straight from the md5 spec
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        for y in range(4):
            raw = hashlib.md5(f"{did}:{y}".encode()).digest()[:12]
            px[y] = np.frombuffer(raw, np.uint8).reshape(4, 3)[:, ::-1]
        r = rows[did]
        assert (r.width, r.height) == (4, 4)
        s = px.astype(np.int64).sum(axis=(0, 1))
        assert (r.sum_r, r.sum_g, r.sum_b) == (s[0], s[1], s[2])
        assert r.px_md5 == hashlib.md5(
            px.tobytes().hex().encode()).hexdigest()


def test_approx_distinct_within_tolerance(spark):
    """HLL estimate vs exact count(DISTINCT): within ±5% per group —
    upgrades the rows-only driver row to a bounded local check."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    got = (ev.groupBy("event_type")
           .agg(F.approx_count_distinct("user_id").alias("approx"),
                F.countDistinct("user_id").alias("exact"))
           .collect())
    assert got
    for r in got:
        assert abs(r.approx - r.exact) <= max(1, 0.05 * r.exact), r


# -- real WAV codec: golden fixture, chunk walking, round trip --------------

def _golden_wav():
    """Hand-assembled PCM WAV: 2 stereo int16 frames [(1000,-2000),
    (32767,-32768)] at 8 kHz, with a LIST metadata chunk BETWEEN fmt and
    data so the test proves chunk-walking, not fixed offsets."""
    data = struct.pack("<4h", 1000, -2000, 32767, -32768)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    lst = b"INFOISFT" + struct.pack("<I", 5) + b"tests" + b"\x00"  # odd len
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"LIST" + struct.pack("<I", len(lst)) + lst
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_golden_fixture_chunk_walk():
    samples, rate = MM.decode_audio(_golden_wav())
    assert rate == 8000
    assert samples.dtype == np.int16 and samples.shape == (2, 2)
    assert samples.tolist() == [[1000, -2000], [32767, -32768]]


def test_encode_decode_wav_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(7)
    for ch in (1, 2, 4):
        pcm = rng.integers(-32768, 32768, size=(37, ch), dtype=np.int16)
        out, rate = MM.decode_audio(MM.encode_wav(pcm, 44100))
        assert rate == 44100
        np.testing.assert_array_equal(out, pcm)
    mono = np.arange(-5, 5, dtype=np.int16)  # 1-D input gets a channel axis
    out, _ = MM.decode_audio(MM.encode_wav(mono))
    np.testing.assert_array_equal(out[:, 0], mono)


def test_decode_wav_8bit_and_rejects():
    # 8-bit unsigned PCM decodes for real
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = bytes([0, 128, 255])
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 3) + data + b"\x00")
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    samples, _ = MM.decode_audio(wav)
    assert samples[:, 0].tolist() == [0, 128, 255]
    # honest stubs: float PCM (format 3) and 24-bit raise, garbage errors
    f3 = MM.encode_wav(np.zeros((2, 1), np.int16))
    f3 = f3.replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1)
    with pytest.raises(NotImplementedError):
        MM.decode_audio(f3)
    with pytest.raises(ValueError):
        MM.decode_audio(b"RIFFxxxxJUNK")
    with pytest.raises(ValueError):
        MM.decode_audio(b"OggS" + b"\x00" * 32)


def test_wav_roundtrip_features_matches_hand_computation(spark):
    ids = spark.createDataFrame([(7,), (123,)], "doc_id long")
    rows = {r.doc_id: r for r in
            MM.wav_roundtrip_features(ids).collect()}
    for did in (7, 123):
        raw = b"".join(hashlib.md5(f"{did}:wav:{b}".encode()).digest()
                       for b in range(2))
        pcm = np.frombuffer(raw, "<i2").reshape(-1, 2)
        r = rows[did]
        assert (r.n_frames, r.channels, r.sample_rate) == (8, 2, 16000)
        s = pcm.astype(np.int64).sum(axis=0)
        assert (r.sum_l, r.sum_r) == (s[0], s[1])
        assert r.pcm_md5 == hashlib.md5(
            pcm.tobytes().hex().encode()).hexdigest()


# -- real baseline JPEG codec: hand-assembled golden fixture, round trips ---

def _jpeg_golden_flat130():
    """Hand-assembled baseline JPEG of an 8x8 flat-130 block, built from
    the T.81 spec without trusting encode_jpeg: all-ones DQT, SOF0, the
    two Annex K DHT segments (raw table bytes), SOS, and an entropy
    stream computed by hand — DC diff = 8*(130-128) = 16 is category 5
    (canonical code 110) with additional bits 10000, then EOB (canonical
    code 1010), padded with four 1-bits: 1101 0000 1010 1111 = D0 AF."""
    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    return (b"\xff\xd8"
            + seg(0xFFDB, b"\x00" + b"\x01" * 64)
            + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
            + seg(0xFFC4, b"\x00" + bytes(MM._JPG_DC_BITS)
                  + bytes(MM._JPG_DC_VALS))
            + seg(0xFFC4, b"\x10" + bytes(MM._JPG_AC_BITS)
                  + bytes(MM._JPG_AC_VALS))
            + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
            + b"\xd0\xaf"
            + b"\xff\xd9")


def test_decode_jpeg_hand_assembled_golden():
    out = MM.decode_jpeg(_jpeg_golden_flat130())
    assert out.shape == (8, 8)
    assert (out == 130).all()


def test_encode_decode_jpeg_flat_blocks_exact():
    """Flat 8x8 blocks + all-ones qtable round-trip bit-exactly — the
    invariant the jpeg_decode_features oracle relies on."""
    for did in (1, 7, 12345):
        blk = hashlib.md5(f"{did}:jpg".encode()).digest()[:4]
        px = np.zeros((16, 16), np.uint8)
        px[:8, :8], px[:8, 8:] = blk[0], blk[1]
        px[8:, :8], px[8:, 8:] = blk[2], blk[3]
        assert (MM.decode_jpeg(MM.encode_jpeg(px)) == px).all(), did


def test_encode_decode_jpeg_q1_near_lossless_and_stuffed():
    """Random pixels under the all-ones table: every AC code path (runs,
    ZRL, categories) plus byte stuffing; q=1 coefficient rounding bounds
    the per-pixel error at ~1."""
    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    payload = MM.encode_jpeg(px)
    assert b"\xff\x00" in payload[20:-2]  # stuffing actually exercised
    out = MM.decode_jpeg(payload)
    diff = np.abs(out.astype(int) - px.astype(int))
    assert diff.max() <= 2 and diff.mean() < 0.5


def test_encode_decode_jpeg_annexk_lossy_path():
    """The realistic lossy configuration: Annex K luminance table over a
    smooth gradient stays within a small tolerance (high-frequency
    coefficients are ~0, so quantization loss is mild)."""
    yy, xx = np.mgrid[0:16, 0:16]
    px = (xx * 8 + yy * 4).astype(np.uint8)
    out = MM.decode_jpeg(MM.encode_jpeg(px, qtable=MM.JPEG_QTABLE_ANNEX_K))
    diff = np.abs(out.astype(int) - px.astype(int))
    assert diff.max() <= 8 and diff.mean() < 2


def test_decode_jpeg_restart_markers():
    """DRI + RSTn: two flat-130 blocks with restart interval 1 — the
    entropy stream byte-aligns at the boundary, the decoder consumes the
    RST0 marker and resets the DC predictor (both diffs encode 16)."""
    g = _jpeg_golden_flat130()
    # widen SOF0 to 8x16 (two MCUs) and inject DRI=1 before SOS
    g = bytearray(g)
    sof_at = g.index(b"\xff\xc0")
    struct.pack_into(">H", g, sof_at + 7, 16)  # W=16
    sos_at = g.index(b"\xff\xda")
    dri = struct.pack(">HHH", 0xFFDD, 4, 1)
    data = (bytes(g[:sos_at]) + dri + bytes(g[sos_at:sos_at + 10])
            + b"\xd0\xaf" + b"\xff\xd0" + b"\xd0\xaf" + b"\xff\xd9")
    out = MM.decode_jpeg(data)
    assert out.shape == (8, 16)
    assert (out == 130).all()


def test_decode_jpeg_rejects_progressive_truncated_color():
    g = _jpeg_golden_flat130()
    with pytest.raises(NotImplementedError):  # SOF2 progressive
        MM.decode_jpeg(g.replace(b"\xff\xc0", b"\xff\xc2"))
    with pytest.raises(ValueError):  # entropy stream cut mid-block
        MM.decode_jpeg(g[:-4])
    with pytest.raises(ValueError):  # not a JPEG at all
        MM.decode_jpeg(b"GIF89a" + g)
    with pytest.raises(ValueError):  # 2-channel arrays are not a thing
        MM.encode_jpeg(np.zeros((8, 8, 2), np.uint8))
    with pytest.raises(ValueError):  # sides must be multiples of 8
        MM.encode_jpeg(np.zeros((9, 8), np.uint8))


def test_decode_image_jpeg_dispatch():
    rgb = MM.decode_image(_jpeg_golden_flat130())
    assert rgb.shape == (8, 8, 3)
    assert (rgb == 130).all()


def test_jpeg_roundtrip_features_matches_hand_computation(spark):
    ids = spark.createDataFrame([(17,), (99,)], "doc_id long")
    rows = {r.doc_id: r for r in
            MM.jpeg_roundtrip_features(ids).collect()}
    for did in (17, 99):
        blk = hashlib.md5(f"{did}:jpg".encode()).digest()[:4]
        px = np.zeros((16, 16), np.uint8)
        px[:8, :8], px[:8, 8:] = blk[0], blk[1]
        px[8:, :8], px[8:, 8:] = blk[2], blk[3]
        r = rows[did]
        assert (r.width, r.height) == (16, 16)
        assert r.sum_px == int(px.astype(np.int64).sum())
        assert r.px_md5 == hashlib.md5(
            px.tobytes().hex().encode()).hexdigest()


# -- real AVI container codec: golden fixture, chunk walk, frame sampling ---

def _golden_avi():
    """Hand-assembled single-frame 2x2 AVI of GOLDEN_PIXELS, built
    byte-by-byte from the RIFF spec without trusting encode_avi: LIST
    hdrl (avih + LIST strl with strh 1 fps + strf 24-bpp), LIST movi
    with one '00db' DIB frame (bottom-up BGR, stride 8), idx1."""
    def ck(fourcc, data):
        return fourcc + struct.pack("<I", len(data)) + data

    # bottom-up BGR with 2-byte row pad: file row 0 = image row 1
    frame = (bytes([255, 0, 0, 255, 255, 255]) + b"\x00\x00"
             + bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00")
    avih = struct.pack("<10I", 1_000_000, 16, 0, 0x10, 1, 0, 1, 16,
                       2, 2) + b"\x00" * 16
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0,
                                            1, 1, 0, 1, 16, -1, 0)
            + struct.pack("<4H", 0, 0, 2, 2))
    strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16,
                       2835, 2835, 0, 0)
    hdrl = ck(b"LIST", b"hdrl" + ck(b"avih", avih)
              + ck(b"LIST", b"strl" + ck(b"strh", strh)
                   + ck(b"strf", strf)))
    movi = ck(b"LIST", b"movi" + ck(b"00db", frame))
    idx1 = ck(b"idx1", b"00db" + struct.pack("<III", 0x10, 4, len(frame)))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_avi_golden_fixture():
    vid, fps = MM.decode_avi(_golden_avi())
    assert vid.shape == (1, 2, 2, 3) and fps == 1.0
    assert (vid[0] == GOLDEN_PIXELS).all()


def test_encode_decode_avi_roundtrip_with_stride_padding():
    rng = np.random.RandomState(11)
    for n, h, w, fps in [(1, 2, 4, 4), (6, 2, 4, 4), (3, 5, 3, 10),
                         (4, 8, 7, 25)]:
        fr = rng.randint(0, 256, size=(n, h, w, 3)).astype(np.uint8)
        vid, got = MM.decode_avi(MM.encode_avi(fr, fps=fps))
        assert got == fps and (vid == fr).all(), (n, h, w, fps)


def test_decode_avi_rejects_compressed_truncated_nonavi():
    g = bytearray(_golden_avi())
    strf_at = bytes(g).index(b"strf")
    struct.pack_into("<I", g, strf_at + 8 + 16, 1)  # biCompression = RLE8
    with pytest.raises(NotImplementedError):
        MM.decode_avi(bytes(g))
    with pytest.raises(ValueError):
        MM.decode_avi(_golden_avi()[:40])
    with pytest.raises(ValueError):
        MM.decode_avi(b"RIFF\x04\x00\x00\x00WAVE")


def test_sample_frames_real_avi_path(spark):
    """sample_frames(deterministic_fake=False) decodes the AVI container
    and emits actual sampled frame bytes at every_ms timestamps."""
    rng = np.random.RandomState(5)
    fr = rng.randint(0, 256, size=(6, 2, 4, 3)).astype(np.uint8)
    payload = MM.encode_avi(fr, fps=4)
    media = spark.createDataFrame(
        [(1, bytearray(payload), {"mime": "video/avi", "width": 4,
                                  "height": 2, "duration_ms": 1500})],
        MM.MEDIA_SCHEMA)
    rows = sorted(MM.sample_frames(media, every_ms=500, max_frames=8,
                                   deterministic_fake=False).collect(),
                  key=lambda r: r.frame_no)
    assert [(r.frame_no, r.ts_ms) for r in rows] == [(0, 0), (1, 500),
                                                     (2, 1000)]
    for r, idx in zip(rows, (0, 2, 4)):
        assert bytes(r.frame) == fr[idx].tobytes()


def test_avi_frame_sample_features_matches_hand_computation(spark):
    ids = spark.createDataFrame([(17,), (99,)], "doc_id long")
    rows = {(r.doc_id, r.frame_no): r for r in
            MM.avi_frame_sample_features(ids).collect()}
    assert len(rows) == 6  # 2 docs x sampled frames 0, 2, 4
    for did in (17, 99):
        for idx, t in [(0, 0), (2, 500), (4, 1000)]:
            px = np.zeros((2, 4, 3), np.uint8)
            for y in range(2):
                raw = hashlib.md5(
                    f"{did}:avi:{idx}:{y}".encode()).digest()[:12]
                px[y] = np.frombuffer(raw, np.uint8).reshape(4, 3)
            r = rows[(did, idx)]
            s = px.astype(np.int64).sum(axis=(0, 1))
            assert (r.ts_ms, r.sum_r, r.sum_g, r.sum_b) == (
                t, s[0], s[1], s[2])
            assert r.px_md5 == hashlib.md5(
                px.tobytes().hex().encode()).hexdigest()


# -- color (4:4:4 YCbCr) JPEG paths ------------------------------------------

def test_encode_decode_jpeg_color_gray_flat_exact():
    """Flat GRAY blocks through the 3-component path: chroma planes are
    exactly 128, so the color round trip is byte-exact — the invariant
    the jpeg_color_decode_features oracle relies on."""
    for did in (5, 42):
        blk = hashlib.md5(f"{did}:jpgc".encode()).digest()[:4]
        rgb = np.zeros((16, 16, 3), np.uint8)
        rgb[:8, :8], rgb[:8, 8:] = blk[0], blk[1]
        rgb[8:, :8], rgb[8:, 8:] = blk[2], blk[3]
        out = MM.decode_jpeg(MM.encode_jpeg(rgb))
        assert out.shape == (16, 16, 3) and (out == rgb).all(), did


def test_encode_decode_jpeg_color_lossy_tolerance():
    """Real color content: q=1 error is bounded by the YCbCr uint8
    rounding (~±3); Annex K on a smooth gradient stays mild."""
    rng = np.random.RandomState(9)
    c = rng.randint(0, 256, size=(16, 24, 3)).astype(np.uint8)
    out = MM.decode_jpeg(MM.encode_jpeg(c))
    d = np.abs(out.astype(int) - c.astype(int))
    assert d.max() <= 4 and d.mean() < 1.0
    yy, xx = np.mgrid[0:16, 0:16]
    g = np.stack([xx * 8, yy * 8, (xx + yy) * 4], axis=-1).astype(np.uint8)
    out2 = MM.decode_jpeg(MM.encode_jpeg(g, qtable=MM.JPEG_QTABLE_ANNEX_K))
    d2 = np.abs(out2.astype(int) - g.astype(int))
    assert d2.max() <= 12 and d2.mean() < 4


def test_decode_image_jpeg_color_dispatch():
    rgb = np.full((8, 8, 3), 200, np.uint8)
    out = MM.decode_image(MM.encode_jpeg(rgb))
    assert out.shape == (8, 8, 3) and (out == 200).all()


def test_jpeg_color_roundtrip_features_matches_hand_computation(spark):
    ids = spark.createDataFrame([(17,), (99,)], "doc_id long")
    rows = {r.doc_id: r for r in
            MM.jpeg_color_roundtrip_features(ids).collect()}
    for did in (17, 99):
        blk = hashlib.md5(f"{did}:jpgc".encode()).digest()[:4]
        rgb = np.zeros((16, 16, 3), np.uint8)
        rgb[:8, :8], rgb[:8, 8:] = blk[0], blk[1]
        rgb[8:, :8], rgb[8:, 8:] = blk[2], blk[3]
        r = rows[did]
        assert (r.width, r.height) == (16, 16)
        assert r.sum_px == int(rgb.astype(np.int64).sum())
        assert r.px_md5 == hashlib.md5(
            rgb.tobytes().hex().encode()).hexdigest()


def test_decode_jpeg_sos_order_differs_from_sof():
    """The MCU interleave follows SOS component order, not SOF order: a
    color JPEG whose scan lists (Cr, Cb, Y) must decode identically.
    Built by re-encoding the entropy stream with the component loop
    reversed and patching the SOS segment to match."""
    rgb = np.full((8, 8, 3), 0, np.uint8)
    rgb[:, :4] = (200, 40, 90)  # chroma-heavy half-and-half content
    base = MM.encode_jpeg(rgb)
    want = MM.decode_jpeg(base)

    # re-derive the three quantized component blocks exactly as the
    # encoder does, then write them Cr,Cb,Y with a matching SOS
    r, g, b = (rgb.astype(np.float64)[..., i] for i in range(3))
    planes = [np.clip(np.round(p), 0, 255).astype(np.uint8) for p in (
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)]
    m = MM._jpg_dct_matrix()
    zig = list(MM._JPG_ZIGZAG)
    dc = MM._jpg_canonical_codes(MM._JPG_DC_BITS, MM._JPG_DC_VALS)
    ac = MM._jpg_canonical_codes(MM._JPG_AC_BITS, MM._JPG_AC_VALS)
    bw = MM._JpgBitWriter()
    for c in (2, 1, 0):  # Cr, Cb, Y — reversed interleave
        blk = (planes[c].astype(np.float64) - 128.0)
        zz = np.round(m @ blk @ m.T).astype(np.int64).ravel()[zig]
        MM._jpg_encode_block(bw, zz, 0, dc, ac)
    sos_at = base.index(b"\xff\xda")
    sos = bytes([3, 3, 0, 2, 0, 1, 0]) + b"\x00\x3f\x00"
    data = (base[:sos_at] + struct.pack(">HH", 0xFFDA, len(sos) + 2)
            + sos + bw.flush() + b"\xff\xd9")
    out = MM.decode_jpeg(data)
    assert (out == want).all()


def test_decode_jpeg_rejects_partial_sos():
    """A scan covering only a subset of SOF components (progressive-style
    multi-scan) fails loudly."""
    rgb = np.full((8, 8, 3), 77, np.uint8)
    base = bytearray(MM.encode_jpeg(rgb))
    sos_at = bytes(base).index(b"\xff\xda")
    # rewrite SOS to list a single component (Y only)
    sos = bytes([1, 1, 0]) + b"\x00\x3f\x00"
    data = (bytes(base[:sos_at]) + struct.pack(">HH", 0xFFDA, len(sos) + 2)
            + sos + bytes(base[sos_at + 12:]))
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(data)


# -- GIF: golden public fixture, LZW schedule, dispatch, honest stubs -------

# the canonical 43-byte 1x1 white tracking GIF — public knowledge bytes,
# produced by an INDEPENDENT encoder, so it pins the LZW width schedule
# and block layout against the outside world, not just our own pair
_GOLDEN_GIF_1PX = bytes.fromhex(
    "474946383961010001008000"
    "00ffffff00000021f90401000000002c00000000010001000002024401003b")


def test_decode_gif_golden_public_1px():
    px, n_frames = MM.decode_gif(_GOLDEN_GIF_1PX)
    assert n_frames == 1 and px.shape == (1, 1, 3)
    assert (px == 255).all()  # palette color 0 is white


def test_decode_image_gif_dispatch():
    assert (MM.decode_image(_GOLDEN_GIF_1PX) == 255).all()


def test_gif_roundtrip_paletted_images():
    rng = np.random.RandomState(11)
    for (h, w, ncol) in [(1, 1, 1), (2, 3, 2), (4, 4, 5), (16, 16, 256),
                         (7, 130, 3)]:
        pal = rng.randint(0, 256, (ncol, 3), np.uint8)
        px = pal[rng.randint(0, ncol, (h, w))]
        out, nf = MM.decode_gif(MM.encode_gif(px))
        assert nf == 1 and out.shape == px.shape and (out == px).all()


def test_gif_lzw_cap_crossing():
    """A stream long enough to fill the 4096-entry dictionary exercises
    the deferred-clear path (both sides stop adding, width pinned at 12)."""
    rng = np.random.RandomState(3)
    idx = rng.randint(0, 256, 60000)
    enc = MM._gif_lzw_encode(idx, 8)
    dec = np.frombuffer(MM._gif_lzw_decode(enc, 8, len(idx)), np.uint8)
    assert (dec == idx).all()


def test_gif_too_many_colors_rejected():
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (32, 32, 3), np.uint8)  # ~1024 distinct colors
    with pytest.raises(ValueError):
        MM.encode_gif(px)


def test_gif_honest_stubs():
    # interlaced frame: flip the interlace bit in a valid payload
    buf = bytearray(MM.encode_gif(np.zeros((2, 2, 3), np.uint8)))
    img_at = buf.index(0x2C, 13)
    buf[img_at + 9] |= 0x40
    with pytest.raises(NotImplementedError):
        MM.decode_gif(bytes(buf))
    with pytest.raises(ValueError):
        MM.decode_gif(b"NOTGIF" + bytes(20))


def test_gif_roundtrip_features_matches_hand_computation(spark):
    ids = spark.createDataFrame([(7,), (42,)], "doc_id long")
    got = {r["doc_id"]: r.asDict()
           for r in MM.gif_roundtrip_features(ids).collect()}
    for did in (7, 42):
        pal = np.frombuffer(hashlib.md5(f"{did}:gp".encode()).digest()[:15],
                            np.uint8).reshape(5, 3)
        idx = np.frombuffer(hashlib.md5(f"{did}:gi".encode()).digest(),
                            np.uint8).astype(np.int64) % 5
        px = pal[idx].reshape(4, 4, 3)
        s = px.astype(np.int64).sum(axis=(0, 1))
        r = got[did]
        assert (r["width"], r["height"], r["n_frames"]) == (4, 4, 1)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(map(int, s))
        assert r["px_md5"] == hashlib.md5(
            px.tobytes().hex().encode()).hexdigest()


# -- property tests: codec round trips over arbitrary content ---------------

def test_mp3_header_scan_hand_built_stream():
    # two frames, fixed 128 kbps (idx 9) no padding + 320 kbps (idx 14)
    # padded, hand-checked lengths per ISO/IEC 11172-3:
    # 144000*128//44100 = 417, 144000*320//44100 + 1 = 1045
    stream = MM.encode_mp3_stream([(9, 0, b"a"), (14, 1, b"b")])
    s = MM.scan_mp3_headers(stream)
    assert s["n_frames"] == 2
    assert s["n_bytes"] == 417 + 1045
    assert s["sample_rate"] == 44100
    assert s["duration_ms"] == 2 * 1152 * 1000 // 44100
    assert s["sum_kbps"] == 128 + 320
    hdrs = stream[0:4].hex() + stream[417:421].hex()
    assert s["hdr_md5"] == hashlib.md5(hdrs.encode()).hexdigest()


def test_mp3_header_scan_skips_id3_and_junk():
    body = b"x" * 200  # ID3 size uses the syncsafe 7-bit encoding
    tagged = MM.encode_mp3_stream([(1, 0, b"s")], id3_body=body)
    assert MM.scan_mp3_headers(tagged)["n_frames"] == 1
    # junk between tag and first sync must be scanned over
    junk = tagged[:10 + 200] + b"\x00\x12\x34" + tagged[10 + 200:]
    assert MM.scan_mp3_headers(junk)["n_frames"] == 1
    # trailing non-sync bytes (e.g. an ID3v1 tag) end the walk cleanly
    assert MM.scan_mp3_headers(tagged + b"TAG" + b"\x00" * 125)[
        "n_frames"] == 1


def test_mp3_header_scan_skips_truncated_final_frame():
    """A stream cut mid-frame reports one frame fewer: the partial last
    frame is neither counted nor digested."""
    stream = MM.encode_mp3_stream([(9, 0, b"a"), (14, 1, b"b")])
    whole = MM.scan_mp3_headers(stream)
    cut = MM.scan_mp3_headers(stream[:-100])
    assert cut["n_frames"] == whole["n_frames"] - 1 == 1
    assert cut["sum_kbps"] == 128
    assert cut["duration_ms"] == 1152 * 1000 // 44100
    assert cut["hdr_md5"] == hashlib.md5(
        stream[0:4].hex().encode()).hexdigest()


def test_mp3_header_scan_honest_stubs():
    frame = bytearray(MM.encode_mp3_stream([(9, 0, b"a")]))
    layer2 = bytearray(frame)
    layer2[1] = 0xFD  # Layer II bits
    with pytest.raises(NotImplementedError):
        MM.scan_mp3_headers(bytes(layer2))
    free = bytearray(frame)
    free[2] = 0x00  # free-format bitrate index
    with pytest.raises(ValueError):
        MM.scan_mp3_headers(bytes(free))
    # full MP3 AUDIO decode stays out of scope: the audio decoder only
    # accepts RIFF/WAVE payloads
    with pytest.raises(ValueError):
        MM.decode_audio(bytes(frame))


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**31 - 1), st.sampled_from([(8, 8), (16, 8),
                                                       (8, 24), (32, 32)]))
    def test_prop_jpeg_gray_q1_bounded_error(seed, shape):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        out = MM.decode_jpeg(MM.encode_jpeg(px))
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**31 - 1),
           st.integers(1, 5), st.integers(1, 9), st.integers(1, 9),
           st.sampled_from([1, 4, 30]))
    def test_prop_avi_roundtrip_exact(seed, n, h, w, fps):
        rng = np.random.RandomState(seed)
        fr = rng.randint(0, 256, size=(n, h, w, 3)).astype(np.uint8)
        vid, got = MM.decode_avi(MM.encode_avi(fr, fps=fps))
        assert got == fps and (vid == fr).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**31 - 1), st.integers(2, 8),
           st.integers(1, 300))
    def test_prop_gif_lzw_roundtrip_exact(seed, mcs, n):
        rng = np.random.RandomState(seed)
        idx = rng.randint(0, 1 << mcs, n)
        enc = MM._gif_lzw_encode(idx, mcs)
        dec = np.frombuffer(MM._gif_lzw_decode(enc, mcs, n), np.uint8)
        assert (dec == idx).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**31 - 1), st.integers(1, 6), st.integers(1, 6))
    def test_prop_png_bmp_roundtrip_exact(seed, w, h):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (MM.decode_png(MM.encode_png(px, filter_mode="cycle"))
                == px).all()
        assert (MM.decode_bmp(MM.encode_bmp(px)) == px).all()
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.tuples(st.integers(1, 14), st.integers(0, 1),
                              st.integers(0, 2**31 - 1)),
                    min_size=1, max_size=12),
           st.sampled_from([44100, 48000, 32000]),
           st.integers(0, 64))
    def test_prop_mp3_header_scan_matches_spec(specs, rate, id3_len):
        specs = [(b, p, str(s).encode()) for b, p, s in specs]
        stream = MM.encode_mp3_stream(specs, sample_rate=rate,
                                      id3_body=b"j" * id3_len)
        s = MM.scan_mp3_headers(stream)
        lens = [(144_000 * MM._MP3_KBPS[b]) // rate + p
                for b, p, _ in specs]
        assert s["n_frames"] == len(specs)
        assert s["n_bytes"] == (10 + id3_len if id3_len else 0) + sum(lens)
        assert s["sample_rate"] == rate
        assert s["sum_kbps"] == sum(MM._MP3_KBPS[b] for b, _, _ in specs)
        assert s["duration_ms"] == len(specs) * 1152 * 1000 // rate
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass
