"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The ``pages.html`` column is already a binary payload; the same pattern
extends to image/audio/video columns in a training-data lake: store bytes as
``binary`` with a typed metadata struct, run decode/feature-extraction as
Arrow-batched ``mapInPandas`` stages.  The Spark-side plumbing here (schemas,
batching, partition sizing) is real and tested.  REAL codecs (pure
stdlib+numpy, golden-fixture tested, no imaging/audio libraries): BMP,
binary PPM, non-interlaced 8-bit PNG (zlib inflate + all five filters),
baseline JPEG — grayscale and 4:4:4 YCbCr color (Annex K Huffman tables,
zigzag, dequant, IDCT, byte stuffing, RSTn) — GIF87a/89a (variable-width
LZW, global/local color tables, extension skipping), PCM WAV
(chunk-walking RIFF parse, 8/16-bit, any channel count), and
uncompressed-DIB AVI video (hdrl/movi/idx1 chunk walk, frame sampling),
and an MP3 frame-HEADER scanner (ID3v2 skip, sync scan, Table B.1
bitrate walk — duration/bitrate metadata without audio decode).  Codecs
that genuinely need libraries this container doesn't ship (MP3/AAC
audio decode, progressive/subsampled JPEG, compressed video) raise
``NotImplementedError`` unless
``deterministic_fake=True``, which derives stable pseudo-features from
the md5 of the payload so the distributed pipeline is exercisable end to
end over any byte stream.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    d = hashlib.md5(payload).digest()
    return [d[i % 16] / 255.0 for i in range(dim)]


def decode_bmp(payload: bytes):
    """Pure-numpy decode of an uncompressed 24-bpp BI_RGB Windows BMP.

    Returns an ``HxWx3 uint8`` RGB array (top-down row order).  Handles
    both bottom-up (positive biHeight) and top-down (negative) files and
    the 4-byte row stride padding.  No external imaging library — the one
    format whose spec is simple enough to decode with stdlib + numpy, so
    the engine has a REAL codec path; compressed formats stay stubbed."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off, = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression, = struct.unpack_from("<I", payload, 30)
    if compression != 0 or bpp != 24 or planes != 1:
        raise NotImplementedError(
            "only uncompressed 24-bpp BI_RGB is decoded natively; "
            "compressed BMP variants need an imaging library")
    top_down = height < 0
    height = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=stride * height, offset=data_off)
    rows = raw.reshape(height, stride)[:, :width * 3]
    bgr = rows.reshape(height, width, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR file order -> RGB


def encode_bmp(pixels) -> bytes:
    """Inverse of :func:`decode_bmp`: ``HxWx3 uint8`` RGB array to an
    uncompressed bottom-up 24-bpp BMP byte string (deterministic)."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = ((w * 3 + 3) // 4) * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    size = 54 + stride * h
    header = (b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            stride * h, 2835, 2835, 0, 0))
    return header + body.tobytes()


def decode_ppm(payload: bytes):
    """Pure-numpy decode of a binary PPM (P6, maxval<=255) into an
    ``HxWx3 uint8`` RGB array."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace/comment-separated
    # ASCII tokens, then ONE whitespace byte before the raster
    toks, i, n = [], 2, len(payload)
    while len(toks) < 3:
        while i < n and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j:j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    i += 1  # the single post-maxval whitespace byte
    w, h, maxval = toks
    if maxval > 255:
        raise NotImplementedError("16-bit PPM needs byte-pair decode")
    raw = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return raw.reshape(h, w, 3).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    """PNG Paeth predictor on numpy int vectors (per-channel)."""
    import numpy as np

    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(payload: bytes):
    """Pure stdlib+numpy decode of a non-interlaced 8-bit PNG — the one
    COMPRESSED format decodable without an imaging library (zlib inflate +
    the five scanline filters un-applied per the PNG spec §6).

    Color types: 0 (grayscale, replicated to 3 channels), 2 (RGB), and
    6 (RGBA, alpha dropped).  Returns ``HxWx3 uint8`` RGB.  The Up filter
    un-applies as one vectorized row op; Sub/Average/Paeth carry a
    left-neighbor dependency, so they walk pixels within the row with
    numpy ops per channel triple."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    width = height = None
    channels = None
    idat = []
    while pos + 8 <= n:
        (ln,), typ = struct.unpack_from(">I", payload, pos), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if zlib.crc32(typ + data) != struct.unpack_from(
                ">I", payload, pos + 8 + ln)[0]:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        pos += 12 + ln
        if typ == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = \
                struct.unpack(">IIBBBBB", data)
            if depth != 8 or comp != 0 or filt != 0:
                raise NotImplementedError(
                    "only 8-bit depth, deflate, filter-method 0 PNG")
            if inter != 0:
                raise NotImplementedError("Adam7 interlace not implemented")
            channels = {0: 1, 2: 3, 6: 4}.get(ctype)
            if channels is None:
                raise NotImplementedError(
                    f"PNG color type {ctype} (palette/gray+alpha) "
                    "not implemented")
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    raw = np.frombuffer(raw, np.uint8).reshape(height, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:]
    recon = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels
    for y in range(height):
        f, row = int(filters[y]), rows[y]
        prior = recon[y - 1] if y else np.zeros(stride, np.uint8)
        if f == 0:
            recon[y] = row
        elif f == 2:    # Up: fully vectorized
            recon[y] = row + prior
        elif f == 1:    # Sub
            r = recon[y]
            r[:bpp] = row[:bpp]
            for x in range(bpp, stride, bpp):
                r[x:x + bpp] = row[x:x + bpp] + r[x - bpp:x]
        elif f == 3:    # Average
            r = recon[y]
            r[:bpp] = row[:bpp] + prior[:bpp] // 2
            for x in range(bpp, stride, bpp):
                r[x:x + bpp] = row[x:x + bpp] + (
                    (r[x - bpp:x].astype(np.int16)
                     + prior[x:x + bpp]) // 2).astype(np.uint8)
        elif f == 4:    # Paeth
            r = recon[y]
            r[:bpp] = row[:bpp] + _paeth(
                np.zeros(bpp, np.uint8), prior[:bpp], np.zeros(bpp, np.uint8))
            for x in range(bpp, stride, bpp):
                r[x:x + bpp] = row[x:x + bpp] + _paeth(
                    r[x - bpp:x], prior[x:x + bpp], prior[x - bpp:x])
        else:
            raise ValueError(f"PNG filter type {f}")
    px = recon.reshape(height, width, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()


def encode_png(pixels, filter_mode: str = "cycle") -> bytes:
    """Inverse of :func:`decode_png` for 8-bit RGB: deterministic PNG bytes.

    ``filter_mode='cycle'`` filters row ``y`` with type ``y % 5`` so a
    round-trip through :func:`decode_png` exercises ALL five PNG filters
    (None/Sub/Up/Average/Paeth) — any filter defect breaks the pixel
    digest; ``'none'`` writes filter-0 rows only."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    assert c == 3
    flat = px.reshape(h, w * 3)
    out = bytearray()
    for y in range(h):
        f = (y % 5) if filter_mode == "cycle" else 0
        row = flat[y].astype(np.int16)
        prior = (flat[y - 1] if y else np.zeros(w * 3, np.uint8)) \
            .astype(np.int16)
        left = np.zeros(w * 3, np.int16)
        left[3:] = row[:-3]
        pleft = np.zeros(w * 3, np.int16)
        pleft[3:] = prior[:-3]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prior
        elif f == 3:
            enc = row - (left + prior) // 2
        else:
            enc = row - _paeth(left.astype(np.uint8),
                               prior.astype(np.uint8),
                               pleft.astype(np.uint8))
        out.append(f)
        out += (enc % 256).astype(np.uint8).tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out), 6))
            + chunk(b"IEND", b""))


def decode_image(payload: bytes):
    """Decode an image payload to an ``HxWx3 uint8`` RGB numpy array.

    REAL decode paths (pure stdlib+numpy, no imaging library):
    uncompressed 24-bpp BMP, binary PPM (P6), non-interlaced 8-bit PNG
    (zlib inflate + all five scanline filters), baseline grayscale
    JPEG (canonical Huffman + dequant + IDCT; gray replicated to RGB),
    and single/first-frame GIF87a/89a (variable-width LZW + color
    tables).
    Other formats raise ``NotImplementedError`` — those codecs are not
    shipped in this container and are honestly stubbed rather than
    faked."""
    import numpy as np
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        out = decode_jpeg(payload)
        if out.ndim == 2:  # grayscale: replicate to RGB
            return np.repeat(out[:, :, None], 3, axis=2)
        return out
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)[0]
    raise NotImplementedError(
        "non-JPEG/GIF compressed image codecs are not shipped in this "
        "sandbox")


def extract_features(media: DataFrame, dim: int = 8,
                     deterministic_fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Batch shape matters at scale: payloads are large, so
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds executor memory
    per batch; partition sizing should target payload bytes, not row counts.
    The real path decodes through :func:`decode_image` (BMP/PPM/PNG/JPEG)
    and emits a ``dim``-bin normalized grayscale intensity histogram —
    a genuine content feature; ``deterministic_fake`` keeps the md5
    stand-in for payloads with no real codec."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            out_rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    out_rows.append((mid, 0, None, None))
                    continue
                b = bytes(payload)
                if deterministic_fake:
                    feat = _fake_feature(b, dim)
                else:
                    gray = decode_image(b).astype(np.float64).mean(axis=2)
                    hist, _ = np.histogram(gray, bins=dim,
                                           range=(0.0, 256.0))
                    feat = (hist / max(1, gray.size)).astype(
                        np.float32).tolist()
                out_rows.append((mid, len(b),
                                 hashlib.md5(b).hexdigest(), feat))
            yield pd.DataFrame(out_rows, columns=["media_id", "n_bytes",
                                                  "digest", "feature"])

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA)


def decode_audio(payload: bytes):
    """Decode a RIFF/WAVE payload to ``(samples, sample_rate)``.

    REAL decode path (pure stdlib struct + numpy): uncompressed PCM WAV,
    8-bit unsigned or 16-bit signed little-endian, any channel count —
    ``samples`` comes back as an ``(n_frames, channels)`` numpy array
    (int16 for 16-bit, uint8 for 8-bit).  Chunk-walks the RIFF container
    (fmt /data plus whatever metadata chunks a writer interleaves, LIST,
    fact, …), so real-world files parse, not just our own encoder's.
    Compressed codecs (MP3/AAC/float WAV) raise ``NotImplementedError`` —
    honestly stubbed, same contract as JPEG in :func:`decode_image`."""
    import struct

    import numpy as np
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, n = payload[pos:pos + 4], struct.unpack(
            "<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + n]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + n + (n & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt /data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"only PCM WAV decodes here (format {audio_format})")
    if bits == 16:
        arr = np.frombuffer(data, "<i2")
    elif bits == 8:
        arr = np.frombuffer(data, np.uint8)
    else:
        raise NotImplementedError(f"{bits}-bit PCM not implemented")
    frames = len(arr) // channels
    return arr[:frames * channels].reshape(frames, channels), rate


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """Inverse of :func:`decode_audio` for 16-bit PCM: deterministic WAV
    bytes (RIFF + fmt + data, no metadata chunks) from an
    ``(n_frames, channels)`` int16 array.  The golden-fixture round trip
    through :func:`decode_audio` pins byte order, channel interleave, and
    header arithmetic."""
    import struct

    import numpy as np
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


# -- MP3: real frame-HEADER scan (no audio decode) --------------------------
#
# An MPEG-1 Audio Layer III stream is a sequence of self-describing frames:
# a 4-byte header (11-bit sync, version, layer, bitrate index, sample-rate
# index, padding bit) followed by a payload whose length is fully
# determined by the header — frame_len = 144 * bitrate / sample_rate +
# padding (ISO/IEC 11172-3).  Duration/bitrate/frame-count features
# therefore need only a header WALK, never a Huffman/MDCT decode: exactly
# the metadata pass a 100 TB audio-column pipeline runs before deciding
# what to transcode.  Full MP3 audio decode stays NotImplementedError.

# ISO/IEC 11172-3 Table B.1, MPEG-1 Layer III column (kbps); index 0 is
# "free format", index 15 forbidden.
_MP3_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
             224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)  # sample-rate index 3 reserved
_MP3_SPF = 1152  # samples per MPEG-1 Layer III frame


def scan_mp3_headers(payload: bytes) -> dict:
    """Frame-header walk of an MPEG-1 Layer III stream.

    Skips a leading ID3v2 tag (syncsafe 28-bit size), sync-scans to the
    first 0xFFEx header, then hops frame to frame via the computed frame
    lengths.  Returns ``n_frames``, ``n_bytes`` (whole payload),
    ``sample_rate``, ``duration_ms`` (n_frames*1152*1000 // rate),
    ``sum_kbps`` (sum of per-frame bitrates — VBR-aware, mean is
    sum/n), and ``hdr_md5`` (md5 of the concatenated 8-hex-char frame
    headers — any header mis-pack/mis-parse breaks it).  Non-MPEG-1 or
    non-Layer-III frames raise ``NotImplementedError`` (loud-fail, same
    contract as the other codecs); free-format/forbidden bitrate or a
    reserved sample-rate index raise ``ValueError``."""
    pos, n = 0, len(payload)
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe: 7 bits per byte
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    # sync-scan (real-world streams carry junk before the first frame)
    while pos + 4 <= n and not (payload[pos] == 0xFF
                                and payload[pos + 1] & 0xE0 == 0xE0):
        pos += 1
    frames, sum_kbps, rate, hdrs = 0, 0, None, []
    while pos + 4 <= n:
        b1, b2 = payload[pos + 1], payload[pos + 2]
        if payload[pos] != 0xFF or b1 & 0xE0 != 0xE0:
            break  # trailing tag/junk after the last frame
        if b1 & 0x18 != 0x18 or b1 & 0x06 != 0x02:
            raise NotImplementedError(
                "only MPEG-1 Layer III headers are scanned here")
        bidx, ridx, pad = b2 >> 4, (b2 >> 2) & 0x3, (b2 >> 1) & 0x1
        if bidx in (0, 15) or ridx == 3:
            raise ValueError("free-format/forbidden bitrate or reserved "
                             "sample-rate index")
        kbps, r = _MP3_KBPS[bidx], _MP3_RATES[ridx]
        if rate is None:
            rate = r
        flen = (144_000 * kbps) // r + pad
        if pos + flen > n:
            break  # truncated final frame: not a whole frame, not counted
        hdrs.append(payload[pos:pos + 4].hex())
        frames += 1
        sum_kbps += kbps
        pos += flen
    return {"n_frames": frames, "n_bytes": n,
            "sample_rate": rate or 0,
            "duration_ms": (frames * _MP3_SPF * 1000) // rate if rate else 0,
            "sum_kbps": sum_kbps,
            "hdr_md5": hashlib.md5("".join(hdrs).encode()).hexdigest()}


def encode_mp3_stream(frame_specs, sample_rate: int = 44100,
                      id3_body: bytes = b"") -> bytes:
    """Deterministic MPEG-1 Layer III STREAM (valid headers + filler
    payloads) for the header-scan path: an optional ID3v2.3 tag, then one
    frame per ``(bitrate_idx, padding, filler_seed)`` spec.  The payload
    bytes are repeated md5 filler — not decodable audio (that would need
    a real psychoacoustic encoder) — but every header field, frame
    length, and byte offset is exactly per spec, which is the entire
    surface :func:`scan_mp3_headers` reads."""
    rate_idx = _MP3_RATES.index(sample_rate)
    out = []
    if id3_body:
        size = len(id3_body)
        out.append(b"ID3" + bytes([3, 0, 0,
                                   (size >> 21) & 0x7F, (size >> 14) & 0x7F,
                                   (size >> 7) & 0x7F, size & 0x7F])
                   + id3_body)
    for bidx, pad, seed in frame_specs:
        hdr = bytes([0xFF, 0xFB,
                     (bidx << 4) | (rate_idx << 2) | (pad << 1), 0xC4])
        flen = (144_000 * _MP3_KBPS[bidx]) // sample_rate + pad
        filler = (hashlib.md5(seed).digest()
                  * (flen // 16 + 1))[:flen - 4]
        out.append(hdr + filler)
    return b"".join(out)


# -- JPEG: real baseline codec (grayscale, pure numpy) ----------------------
#
# Baseline sequential DCT JPEG per ITU-T T.81: 8x8 FDCT/IDCT, zigzag,
# quantization, canonical Huffman entropy coding with the standard Annex K
# luminance tables, byte stuffing, and marker-segment framing (SOI, DQT,
# SOF0, DHT, SOS, DRI/RSTn on decode, EOI).  Grayscale only — one component
# keeps the codec honest without a YCbCr color transform whose float
# rounding would break byte-exact oracles.  No imaging library involved.

# Annex K Table K.3 (luminance DC): counts of codes per bit length 1..16,
# then the symbols (categories 0..11) in canonical order.
_JPG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPG_DC_VALS = tuple(range(12))
# Annex K Table K.5 (luminance AC).
_JPG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
_JPG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

# Zigzag scan: position k in the scan reads natural (row-major) index
# _JPG_ZIGZAG[k] of the 8x8 block.
_JPG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K Table K.1 (luminance quantization), natural order, for callers
# that want realistic lossy compression; the oracle path uses all-ones.
JPEG_QTABLE_ANNEX_K = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)


def _jpg_canonical_codes(bits, vals):
    """Canonical Huffman codes per T.81 Annex C: {symbol: (code, length)}."""
    out, code = {}, 0
    it = iter(vals)
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[next(it)] = (code, length)
            code += 1
        code <<= 1
    return out


def _jpg_dct_matrix():
    import numpy as np
    x = np.arange(8)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    m[0] /= np.sqrt(2.0)
    return m


class _JpgBitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int):
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)  # pad with 1-bits per T.81 F.1.2.3
        return bytes(self.buf)


def _jpg_magnitude(v: int) -> tuple[int, int]:
    """(category, additional-bits) encoding of a DC diff / AC value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v > 0 else v + (1 << size) - 1)


def _jpg_encode_block(bw, zz, pred, dc_codes, ac_codes) -> int:
    """Entropy-code one zigzagged quantized block; returns the new DC
    predictor."""
    size, extra = _jpg_magnitude(int(zz[0]) - pred)
    code, length = dc_codes[size]
    bw.put(code, length)
    if size:
        bw.put(extra, size)
    run = 0
    for v in zz[1:]:
        v = int(v)
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL: 16 zeros
            bw.put(code, length)
            run -= 16
        size, extra = _jpg_magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw.put(code, length)
        bw.put(extra, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        bw.put(code, length)
    return int(zz[0])


def encode_jpeg(pixels, qtable=None) -> bytes:
    """Baseline JPEG bytes from an ``(H, W)`` grayscale or ``(H, W, 3)``
    RGB uint8 array (color goes through the JFIF YCbCr transform and is
    written 4:4:4 interleaved, one block per component per MCU with
    per-component DC predictors).

    ``H`` and ``W`` must be multiples of 8 (no edge-block replication —
    callers pad).  ``qtable`` is 64 ints in natural order, shared by all
    components; the default all-ones table makes flat 8x8 blocks
    byte-exact through the round trip (DC = 8*(v-128) is an exact
    integer; IDCT of a DC-only block is flat) — for color that holds for
    flat GRAY blocks, whose chroma planes are exactly 128 — which is
    what the DuckDB oracles for ``jpeg_decode_features`` /
    ``jpeg_color_decode_features`` rely on.  The FDCT runs vectorized
    over all blocks per component in one einsum; only entropy coding
    walks Python per block."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim not in (2, 3) or px.shape[0] % 8 or px.shape[1] % 8 or \
            (px.ndim == 3 and px.shape[2] != 3):
        raise ValueError("encode_jpeg needs (H, W) or (H, W, 3) uint8 "
                         "with sides % 8 == 0")
    h, w = px.shape[:2]
    q = np.asarray(qtable if qtable is not None else [1] * 64,
                   dtype=np.int32).reshape(8, 8)
    if q.min() < 1 or q.max() > 255:
        raise ValueError("8-bit quantization table entries must be 1..255")

    if px.ndim == 3:
        rgb = px.astype(np.float64)
        y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
             + 0.114 * rgb[..., 2])
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
            + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
            - 0.081312 * rgb[..., 2]
        planes = [np.clip(np.round(p), 0, 255).astype(np.uint8)
                  for p in (y, cb, cr)]
    else:
        planes = [px]

    m = _jpg_dct_matrix()
    quants = []
    for plane in planes:
        blocks = (plane.astype(np.float64) - 128.0).reshape(
            h // 8, 8, w // 8, 8)
        coefs = np.einsum("uy,bycz,vz->bcuv", m, blocks, m)
        quants.append(np.round(coefs / q[None, None]).astype(np.int64))

    dc_codes = _jpg_canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _jpg_canonical_codes(_JPG_AC_BITS, _JPG_AC_VALS)
    zig = list(_JPG_ZIGZAG)
    bw = _JpgBitWriter()
    preds = [0] * len(planes)
    for by in range(h // 8):
        for bx in range(w // 8):
            for c, quant in enumerate(quants):  # 4:4:4 interleave
                preds[c] = _jpg_encode_block(
                    bw, quant[by, bx].ravel()[zig], preds[c],
                    dc_codes, ac_codes)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(cls_id: int, bits, vals) -> bytes:
        return seg(0xFFC4, bytes([cls_id]) + bytes(bits) + bytes(vals))

    n = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, n) + b"".join(
        bytes([c + 1, 0x11, 0]) for c in range(n))
    sos = bytes([n]) + b"".join(bytes([c + 1, 0]) for c in range(n)) \
        + b"\x00\x3f\x00"
    zz_q = q.ravel()[zig]
    return (b"\xff\xd8"
            + seg(0xFFDB, b"\x00" + bytes(int(x) for x in zz_q))
            + seg(0xFFC0, sof)
            + dht(0x00, _JPG_DC_BITS, _JPG_DC_VALS)
            + dht(0x10, _JPG_AC_BITS, _JPG_AC_VALS)
            + seg(0xFFDA, sos)
            + bw.flush()
            + b"\xff\xd9")


class _JpgBitReader:
    """MSB-first bit reader over entropy-coded data: un-stuffs FF 00;
    restart boundaries byte-align via :meth:`restart` (any other marker
    inside the stream is an error)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated JPEG entropy stream")
        b = d[p]
        if b == 0xFF:
            if p + 1 < len(d) and d[p + 1] == 0x00:
                self.pos = p + 2
            else:
                raise ValueError("marker inside entropy stream")
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def restart(self):
        """Consume an RSTn marker at a restart boundary: discard the
        encoder's pad bits (we are byte-aligned mid-byte), then the
        two-byte FF D0..D7."""
        self.acc, self.nbits = 0, 0
        d, p = self.data, self.pos
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2
        else:
            raise ValueError("expected restart marker")

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpg_decode_tree(bits, vals):
    """{(length, code): symbol} lookup for canonical Huffman decode."""
    return {(length, code): sym
            for sym, (code, length) in
            _jpg_canonical_codes(bits, vals).items()}


def _jpg_read_symbol(br: _JpgBitReader, tree) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _jpg_extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpg_decode_block(br, dc_tree, ac_tree, pred):
    """Entropy-decode one block; returns (zigzag int64[64], new pred)."""
    import numpy as np
    zz = np.zeros(64, np.int64)
    size = _jpg_read_symbol(br, dc_tree)
    pred += _jpg_extend(br.bits(size), size) if size else 0
    zz[0] = pred
    k = 1
    while k < 64:
        sym = _jpg_read_symbol(br, ac_tree)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("bad AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _jpg_extend(br.bits(size), size)
        k += 1
    return zz, pred


def decode_jpeg(payload: bytes):
    """Decode a baseline JPEG to ``(H, W) uint8`` (grayscale) or
    ``(H, W, 3) uint8`` RGB (3-component 4:4:4 YCbCr).

    Real marker walk (APPn/COM skipped, DQT/DHT accumulated, DRI + RSTn
    honored, SOF0 8-bit enforced, per-component quantization and Huffman
    table ids wired from SOF0/SOS), real canonical Huffman entropy decode
    of interleaved MCUs with per-component DC predictors, dequantization,
    float IDCT, and the JFIF YCbCr->RGB transform for color.  Progressive
    (SOF2), chroma subsampling (anything but 1x1), and 16-bit tables
    raise ``NotImplementedError`` so unsupported inputs fail loudly
    instead of decoding garbage."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qtables: dict[int, np.ndarray] = {}
    trees: dict[int, dict] = {}
    h = w = 0
    comp_tq: list[int] = []      # per component: quant table id (SOF0)
    comp_ids: list[int] = []
    scan_order: list[int] = []   # SOS component order (MCU interleave)
    scan_tables: dict[int, int] = {}  # component id -> Td/Ta byte (SOS)
    restart_interval = 0
    pos = 2
    while True:
        if pos + 3 >= len(payload):
            raise ValueError("truncated JPEG marker stream")
        if payload[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before any scan
            raise ValueError("JPEG has no scan data")
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2:pos + seg_len]
        pos += seg_len
        if marker == 0xDB:  # DQT: one or more tables per segment
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec:
                    raise NotImplementedError("16-bit quantization table")
                zz = np.frombuffer(body[i + 1:i + 65], np.uint8)
                nat = np.zeros(64, np.int32)
                nat[list(_JPG_ZIGZAG)] = zz
                qtables[tid] = nat.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT: one or more tables per segment
            i = 0
            while i < len(body):
                cls_id = body[i]
                bits = tuple(body[i + 1:i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17:i + 17 + n])
                trees[cls_id] = _jpg_decode_tree(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError("1 or 3 components only")
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling not implemented (4:4:4 only)")
                comp_ids.append(cid)
                comp_tq.append(tq)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-baseline JPEG (SOF%d)"
                                      % (marker - 0xC0))
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS: entropy data follows the segment
            for c in range(body[0]):
                scan_order.append(body[1 + 2 * c])
                scan_tables[body[1 + 2 * c]] = body[2 + 2 * c]
            break
        # APPn / COM / anything else: skipped via seg_len

    if not h or not comp_ids or \
            any(tq not in qtables for tq in comp_tq):
        raise ValueError("JPEG scan without SOF0/DQT")
    if h % 8 or w % 8:
        raise NotImplementedError("partial edge blocks not implemented")
    if sorted(scan_order) != sorted(comp_ids):
        raise NotImplementedError("partial (multi-scan) SOS not supported")
    ncomp = len(comp_ids)
    # decode in SOS order, store into the SOF-ordered plane slot
    sof_slot = {cid: i for i, cid in enumerate(comp_ids)}
    scan_slots, comp_dc, comp_ac = [], [], []
    for cid in scan_order:
        tdta = scan_tables[cid]
        scan_slots.append(sof_slot[cid])
        comp_dc.append(trees[0x00 | (tdta >> 4)])
        comp_ac.append(trees[0x10 | (tdta & 0x0F)])

    br = _JpgBitReader(payload, pos)
    nby, nbx = h // 8, w // 8
    coefs = np.zeros((ncomp, nby, nbx, 8, 8), np.float64)
    preds = [0] * ncomp
    zig = list(_JPG_ZIGZAG)
    n_done = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and n_done and \
                    n_done % restart_interval == 0:
                br.restart()  # byte-align, consume RSTn, reset predictors
                preds = [0] * ncomp
            for c in range(ncomp):  # 4:4:4 interleaved MCU, SOS order
                slot = scan_slots[c]
                zz, preds[c] = _jpg_decode_block(
                    br, comp_dc[c], comp_ac[c], preds[c])
                nat = np.zeros(64, np.int64)
                nat[zig] = zz
                coefs[slot, by, bx] = \
                    nat.reshape(8, 8) * qtables[comp_tq[slot]]
            n_done += 1

    m = _jpg_dct_matrix()
    planes = np.einsum("xu,pbcuv,zv->pbxcz", m.T, coefs, m.T)
    planes = planes.reshape(ncomp, h, w) + 128.0
    if ncomp == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = (np.clip(np.round(p), 0, 255) for p in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -- AVI: real video container codec (uncompressed DIB frames) --------------
#
# RIFF 'AVI ' per the Microsoft AVI 1.0 spec: LIST hdrl (avih + LIST strl
# with strh/strf), LIST movi of '00db' chunks, idx1 index.  Frames are
# uncompressed bottom-up BGR DIBs (the BMP pixel format), so the whole
# container — headers, frame rate, frame boundaries, pixel layout — parses
# with stdlib struct + numpy and round-trips byte-exactly.  Compressed
# video codecs (H.264 etc.) stay honestly stubbed.


def encode_avi(frames, fps: int = 4) -> bytes:
    """RIFF AVI bytes from an ``(n_frames, H, W, 3) uint8`` RGB array:
    deterministic uncompressed-DIB video, one '00db' chunk per frame
    (bottom-up BGR rows, stride padded to 4 bytes), plus an idx1 index.
    The golden-fixture round trip through :func:`decode_avi` pins header
    arithmetic, frame boundaries, row order, and channel order."""
    import struct

    import numpy as np

    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim != 4 or arr.shape[3] != 3:
        raise ValueError("encode_avi needs an (n, H, W, 3) uint8 array")
    n, h, w = arr.shape[:3]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((n, h, stride), np.uint8)
    rows[:, :, :w * 3] = arr[:, ::-1, :, ::-1].reshape(n, h, w * 3)
    frame_bytes = [rows[i].tobytes() for i in range(n)]

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    avih = struct.pack("<10I", 1_000_000 // fps, stride * h * fps, 0,
                       0x10, n, 0, 1, stride * h, w, h) + b"\x00" * 16
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0,
                                            1, fps, 0, n, stride * h,
                                            -1, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       2835, 2835, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_chunks = [chunk(b"00db", fb) for fb in frame_bytes]
    movi = lst(b"movi", b"".join(movi_chunks))
    idx, off = [], 4  # offsets relative to the 'movi' fourcc
    for i, fb in enumerate(frame_bytes):
        idx.append(b"00db" + struct.pack("<III", 0x10, off, len(fb)))
        off += 8 + len(fb) + (len(fb) % 2)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", b"".join(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes):
    """Decode a RIFF AVI of uncompressed DIB frames to
    ``((n, H, W, 3) uint8 RGB, fps)``.

    Real chunk walk: LIST hdrl is parsed for avih (dimensions, frame
    count) and strh (rate/scale -> fps); strf must declare 24-bpp
    uncompressed (``biCompression == 0``); frames come from '00db'/'00dc'
    chunks inside LIST movi (unknown chunks, 'rec ' sublists, and idx1
    are skipped per-spec, word-aligned).  Compressed streams raise
    ``NotImplementedError`` — honestly stubbed, same contract as the
    audio/image codecs."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI payload")

    w = h = n_frames = 0
    rate, scale = 0, 1
    bitcount, compression = 24, 0
    frames_raw: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool):
        nonlocal w, h, n_frames, rate, scale, bitcount, compression
        while pos + 8 <= end:
            fourcc = buf[pos:pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            data_at = pos + 8
            if data_at + size > end:
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                sub = buf[data_at:data_at + 4]
                walk(buf, data_at + 4, data_at + size,
                     in_movi or sub == b"movi")
            elif fourcc == b"avih":
                (_, _, _, _, n_frames, _, _, _, w, h) = struct.unpack_from(
                    "<10I", buf, data_at)
            elif fourcc == b"strh" and buf[data_at:data_at + 4] == b"vids":
                scale, rate = struct.unpack_from("<II", buf, data_at + 20)
            elif fourcc == b"strf":
                (_, _, _, _, bitcount, compression) = struct.unpack_from(
                    "<IiiHHI", buf, data_at)
            elif in_movi and fourcc[2:4] in (b"db", b"dc"):
                frames_raw.append(buf[data_at:data_at + size])
            pos = data_at + size + (size % 2)

    # clamp the declared RIFF extent to the actual buffer so truncated
    # payloads fail the per-chunk bound check instead of over-reading
    walk(payload, 12,
         min(8 + struct.unpack_from("<I", payload, 4)[0], len(payload)),
         False)
    if compression != 0 or bitcount != 24:
        raise NotImplementedError(
            "compressed / non-24-bpp AVI streams are not shipped")
    if not (w and h and frames_raw):
        raise ValueError("AVI without headers or frames")
    stride = (w * 3 + 3) & ~3
    out = np.zeros((len(frames_raw), h, w, 3), np.uint8)
    for i, fb in enumerate(frames_raw):
        if len(fb) != stride * h:
            raise ValueError("frame size does not match header dimensions")
        rows = np.frombuffer(fb, np.uint8).reshape(h, stride)
        out[i] = rows[::-1, :w * 3].reshape(h, w, 3)[:, :, ::-1]
    fps = rate / scale if scale else 0.0
    return out, fps


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable code width (mcs+1 .. 12 bits, LSB-first),
    CLEAR emitted once up front, deferred clear at the 4096-entry cap
    (spec-compliant: both sides simply stop adding entries)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {(i,): i for i in range(clear)}
    next_code, width = eoi + 1, min_code_size + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code):
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    emit(clear)
    cur = ()
    for idx in map(int, indices):
        nxt = cur + (idx,)
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        cur = (idx,)
    if cur:
        emit(table[cur])
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_expected: int):
    """Inverse of :func:`_gif_lzw_encode`; mirrors its width/cap schedule
    exactly (widen when next_code hits 1<<width, stop adding at 4096)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = {i: bytes([i]) for i in range(clear)}
    table, next_code, width = dict(base), eoi + 1, min_code_size + 1
    out = bytearray()
    acc = n_bits = pos = 0
    prev = None
    while len(out) < n_expected:
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table, next_code, width = dict(base), eoi + 1, min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
            if next_code < 4096:
                table[next_code] = table[prev] + entry[:1]
                next_code += 1
        elif code == next_code:
            entry = table[prev] + table[prev][:1]
            if next_code < 4096:
                table[next_code] = entry
                next_code += 1
        else:
            raise ValueError("corrupt LZW code")
        # the decoder's table lags the encoder's by ONE entry (the entry
        # for the code just read is only created on the NEXT read), so it
        # widens one entry earlier than its own counter: at 2^w - 1, where
        # the encoder widens at 2^w
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        out += entry
        prev = code
    return bytes(out[:n_expected])


def encode_gif(pixels) -> bytes:
    """Serialize an ``HxWx3 uint8`` RGB array as a single-frame GIF89a
    (global color table built from the image's distinct colors — must be
    <= 256 — and real LZW compression).  Inverse of :func:`decode_gif`."""
    import struct

    import numpy as np

    px = np.asarray(pixels, np.uint8)
    h, w, _ = px.shape
    flat = px.reshape(-1, 3)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("GIF needs <= 256 distinct colors")
    k = max(1, int(len(palette) - 1).bit_length())  # table = 2^k entries
    table = np.zeros((1 << k, 3), np.uint8)
    table[:len(palette)] = palette
    mcs = max(2, k)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (7 << 4) | (k - 1), 0, 0)
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)
    lzw = _gif_lzw_encode(indices.ravel(), mcs)
    for i in range(0, len(lzw), 255):
        blk = lzw[i:i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif(payload: bytes):
    """Decode a GIF87a/89a payload to ``(HxWx3 uint8 RGB, n_frames)``.

    Real decode: logical-screen + global color table, extension skipping
    (GCE transparency is ignored — the palette color renders), per-frame
    local color tables, and the variable-width LZW stream.  The returned
    pixels are the FIRST frame; ``n_frames`` counts image descriptors.
    Interlaced frames and frames smaller than the logical screen (which
    need disposal-method compositing) raise ``NotImplementedError`` —
    honestly stubbed, same contract as the other codecs."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 14:
        raise ValueError("truncated GIF header")
    sw, sh, packed, _, _ = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos:pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    first = None
    n_frames = 0
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
        left, top, fw, fh, fpacked = struct.unpack_from("<HHHHB", payload,
                                                        pos)
        pos += 9
        lct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            lct = np.frombuffer(payload[pos:pos + 3 * n],
                                np.uint8).reshape(n, 3)
            pos += 3 * n
        if fpacked & 0x40:
            raise NotImplementedError("Adam-style GIF interlace")
        if (left, top, fw, fh) != (0, 0, sw, sh):
            raise NotImplementedError(
                "partial-screen GIF frames need disposal compositing")
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            n = payload[pos]
            data += payload[pos + 1:pos + 1 + n]
            pos += 1 + n
        pos += 1
        n_frames += 1
        if first is None:
            if lct is None:
                raise ValueError("GIF frame without any color table")
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(data), mcs, fw * fh), np.uint8)
            if int(idx.max(initial=0)) >= len(lct):
                raise ValueError("palette index out of range")
            first = lct[idx].reshape(fh, fw, 3).copy()
    if first is None:
        raise ValueError("GIF without an image descriptor")
    return first, n_frames


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def resize_images(media: DataFrame, width: int, height: int,
                  deterministic_fake: bool = True) -> DataFrame:
    """Resize plumbing: payload in -> payload out with new dimensions.

    The real path decodes through :func:`decode_image` (BMP/PPM/PNG/
    JPEG), nearest-neighbor resamples with pure numpy indexing, and
    re-encodes as PNG; the deterministic fake emits a payload whose bytes
    depend on (digest, w, h) so downstream stages (storage sizing, dedup
    on resized bytes) stay exercisable for payloads with no real codec.
    Rows with NULL payloads pass through as NULL — the same
    null-contract as the fetch join."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None))
                    continue
                b = bytes(payload)
                if deterministic_fake:
                    seed = hashlib.md5(b + f":{width}x{height}".encode())
                    out = (seed.digest() * ((width * height) // 16 + 1))
                    out = out[:width * height]
                else:
                    px = decode_image(b)
                    sy = (np.arange(height) * px.shape[0]) // height
                    sx = (np.arange(width) * px.shape[1]) // width
                    out = encode_png(px[sy][:, sx], filter_mode="none")
                rows.append((mid, out, width, height))
            yield pd.DataFrame(rows, columns=["media_id", "payload",
                                              "width", "height"])

    return media.select("media_id", "payload").mapInPandas(
        run, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_no", T.IntegerType(), False),
    T.StructField("ts_ms", T.LongType(), True),
    T.StructField("frame", T.BinaryType(), True),
])


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  max_frames: int = 8,
                  deterministic_fake: bool = True) -> DataFrame:
    """Frame sampling: one video row fans out to <= max_frames frame rows
    (an unnest the engine expresses as mapInPandas yielding multiple rows
    per input).  With ``deterministic_fake`` the frame count derives from
    meta.duration_ms and frames are md5 stand-ins; the real path decodes
    the payload through :func:`decode_avi` (uncompressed-DIB AVI) and
    samples actual frames by timestamp."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"],
                                          pdf["meta"]):
                if payload is None:
                    continue
                b = bytes(payload)
                if deterministic_fake:
                    dur = (meta or {}).get("duration_ms") or 0
                    n = min(max_frames, max(1, int(dur // every_ms)))
                    for i in range(n):
                        frame = hashlib.md5(
                            b + f":frame{i}".encode()).digest()
                        rows.append((mid, i, i * every_ms, frame))
                else:
                    # REAL path: decode the AVI container and emit the
                    # frame nearest below each sample timestamp as raw
                    # row-major RGB bytes
                    vid, fps = decode_avi(b)
                    for i in range(max_frames):
                        t = i * every_ms
                        idx = int(t * fps // 1000)
                        if idx >= len(vid):
                            break
                        rows.append((mid, i, t, vid[idx].tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no",
                                              "ts_ms", "frame"])

    return media.select("media_id", "payload", "meta").mapInPandas(
        run, schema=FRAME_SCHEMA)


def _per_doc(ids: DataFrame, schema: T.StructType, rows_of) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` over ``ids.doc_id``, shuffle-free:
    ``rows_of(doc_id)`` returns that document's output rows as tuples in
    ``schema`` order.  The harness of the per-document codec round trips
    below, whose DuckDB oracles rebuild every row from md5 arithmetic."""
    cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([r for did in pdf["doc_id"]
                                for r in rows_of(int(did))], columns=cols)

    return ids.select("doc_id").mapInPandas(run, schema=schema)


def _hex_md5(a) -> str:
    """md5 of the hex of an array's bytes: the digest every oracle
    rebuilds from md5 string arithmetic."""
    return hashlib.md5(a.tobytes().hex().encode()).hexdigest()


def _rgb_sums(a) -> tuple[int, int, int]:
    """Per-channel sums of an ``...x3`` RGB array."""
    r, g, b = a.reshape(-1, 3).astype("int64").sum(axis=0)
    return int(r), int(g), int(b)


def _md5_image(prefix: str, height: int, width: int):
    """``height x width`` RGB image whose row ``y`` is the first
    ``3*width`` bytes of ``md5(f"{prefix}{y}")`` (so ``width <= 5``)."""
    import numpy as np
    rows = b"".join(hashlib.md5(f"{prefix}{y}".encode()).digest()[:3 * width]
                    for y in range(height))
    return np.frombuffer(rows, np.uint8).reshape(height, width, 3)


RGB_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("sum_r", T.LongType(), False),
    T.StructField("sum_g", T.LongType(), False),
    T.StructField("sum_b", T.LongType(), False),
    T.StructField("px_md5", T.StringType(), False),
])


def bmp_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> feature-extract through the REAL BMP codec.

    Per id, worker-side: synthesize a deterministic 4x4 RGB image (row
    ``y``'s pixel bytes are the first 12 bytes of ``md5(f"{doc_id}:{y}")``,
    laid out as the BGR triples a BMP stores), serialize it with
    :func:`encode_bmp`, decode it back with :func:`decode_image`, and emit
    per-channel pixel sums plus the md5 of the decoded RGB hex string.
    The DuckDB oracle reproduces the exact same sums and digest from md5
    string arithmetic alone, so any byte-level codec defect (channel
    order, row flip, stride) breaks the hash."""
    def rows_of(did):
        # file stores BGR: B=row[3x], G=row[3x+1], R=row[3x+2]
        px = _md5_image(f"{did}:", 4, 4)[:, :, ::-1]
        decoded = decode_image(encode_bmp(px))
        return [(did, decoded.shape[1], decoded.shape[0],
                 *_rgb_sums(decoded), _hex_md5(decoded))]

    return _per_doc(ids, RGB_FEATURE_SCHEMA, rows_of)


def png_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> feature-extract through the REAL PNG codec
    (compressed: zlib deflate + scanline filters), mirroring
    :func:`bmp_roundtrip_features`.

    Per id, worker-side: synthesize a deterministic 4x5 (width x height)
    RGB image (row ``y``'s pixels are the first 12 bytes of
    ``md5(f"{doc_id}:png:{y}")`` taken as straight RGB triples), serialize
    with :func:`encode_png` in ``cycle`` mode — row ``y`` uses PNG filter
    ``y % 5``, so the 5 rows exercise None/Sub/Up/Average/Paeth — decode
    back through :func:`decode_image`, and emit per-channel sums plus the
    md5 of the decoded RGB hex.  The DuckDB oracle reproduces the
    identical values from md5 string arithmetic alone: a defect in ANY
    filter, the inflate plumbing, or chunk CRC handling breaks the hash."""
    def rows_of(did):
        px = _md5_image(f"{did}:png:", 5, 4)
        decoded = decode_image(encode_png(px, filter_mode="cycle"))
        return [(did, decoded.shape[1], decoded.shape[0],
                 *_rgb_sums(decoded), _hex_md5(decoded))]

    return _per_doc(ids, RGB_FEATURE_SCHEMA, rows_of)


def wav_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> feature-extract through the REAL WAV codec,
    mirroring :func:`bmp_roundtrip_features` for the audio column type.

    Per id, worker-side: synthesize 2 md5 digests
    ``md5(f"{doc_id}:wav:{blk}")`` and take their 16 bytes each as 4
    stereo frames of little-endian int16 PCM (so 8 frames, 2 channels),
    serialize with :func:`encode_wav` at 16 kHz, decode back through
    :func:`decode_audio`, and emit per-channel sample sums, frame/rate
    metadata, and the md5 of the decoded raw sample bytes' hex.  The
    DuckDB oracle reproduces the identical sums from hex-substring
    arithmetic (lo + 256*hi, sign-corrected) and the digest as the md5 of
    the concatenated block hex — any defect in header parsing, channel
    interleave, or byte order breaks the hash."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("sum_l", T.LongType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("pcm_md5", T.StringType(), False),
    ])

    def rows_of(did):
        import numpy as np
        raw = b"".join(hashlib.md5(f"{did}:wav:{blk}".encode()).digest()
                       for blk in range(2))
        decoded, rate = decode_audio(
            encode_wav(np.frombuffer(raw, "<i2").reshape(-1, 2), 16000))
        s = decoded.astype(np.int64).sum(axis=0)
        return [(did, decoded.shape[0], decoded.shape[1], rate,
                 int(s[0]), int(s[1]), _hex_md5(decoded))]

    return _per_doc(ids, schema, rows_of)


def mp3_header_features(ids: DataFrame) -> DataFrame:
    """Synthesize -> header-scan through the REAL MP3 frame walker,
    mirroring :func:`wav_roundtrip_features` for the compressed-audio
    column type (the reference crawler stores opaque media bytes; this is
    the metadata pass over them).

    Per id, worker-side: a VBR stream of ``6 + doc_id % 5`` frames whose
    bitrate index and padding bit derive from ``md5(f"{doc_id}:mp3:{f}")``
    (index 1 + b0 % 14 — every legal Table B.1 row exercised — padding
    b1 % 2), behind a 22-byte ID3v2.3 tag, serialized with
    :func:`encode_mp3_stream` and walked back by
    :func:`scan_mp3_headers`.  Emits frame count, total bytes, duration,
    bitrate sum, and the header digest; the DuckDB oracle reproduces all
    of them from md5 hex arithmetic + the Table B.1 CASE — a defect in
    header packing, the bitrate table, syncsafe tag skip, or the frame-
    length formula breaks the row."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("sum_kbps", T.LongType(), False),
        T.StructField("hdr_md5", T.StringType(), False),
    ])

    def rows_of(did):
        specs = []
        for f in range(6 + did % 5):
            d = hashlib.md5(f"{did}:mp3:{f}".encode()).digest()
            specs.append((1 + d[0] % 14, d[1] % 2,
                          f"{did}:mp3fill:{f}".encode()))
        s = scan_mp3_headers(encode_mp3_stream(
            specs,
            id3_body=hashlib.md5(f"{did}:id3".encode()).digest()[:11] * 2))
        return [(did, s["n_frames"], s["n_bytes"], s["sample_rate"],
                 s["duration_ms"], s["sum_kbps"], s["hdr_md5"])]

    return _per_doc(ids, schema, rows_of)


GRAY_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("sum_px", T.LongType(), False),
    T.StructField("px_md5", T.StringType(), False),
])


def _flat_blocks(did: int, tag: str, channels: int):
    """16x16 image of four flat 8x8 blocks valued by the first 4 bytes of
    ``md5(f"{did}:{tag}")``: ``(16, 16)`` gray for ``channels == 1``, else
    ``(16, 16, 3)`` with each gray byte tripled."""
    import numpy as np
    px = np.zeros((16, 16, channels), np.uint8)
    px[:8, :8], px[:8, 8:], px[8:, :8], px[8:, 8:] = \
        hashlib.md5(f"{did}:{tag}".encode()).digest()[:4]
    return px[:, :, 0] if channels == 1 else px


def _jpeg_flat_features(ids: DataFrame, tag: str, channels: int):
    """Encode -> decode -> row of the :func:`_flat_blocks` image for both
    JPEG operators."""
    def rows_of(did):
        decoded = decode_jpeg(encode_jpeg(_flat_blocks(did, tag, channels)))
        return [(did, decoded.shape[1], decoded.shape[0],
                 int(decoded.astype("int64").sum()), _hex_md5(decoded))]

    return _per_doc(ids, GRAY_FEATURE_SCHEMA, rows_of)


def jpeg_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> feature-extract through the REAL baseline JPEG
    codec, mirroring :func:`png_roundtrip_features` for the lossy-format
    case.

    JPEG is lossy in general, so the oracle-checkable surface is built
    from inputs where baseline JPEG is EXACTLY invertible: flat 8x8
    blocks under an all-ones quantization table (the block's DCT has a
    single integer DC coefficient ``8*(v-128)``; quantization rounds an
    integer; the IDCT of a DC-only block is flat, so decode returns ``v``
    bit-for-bit).  Per id, worker-side: a 16x16 grayscale image of four
    flat blocks whose values are the first 4 bytes of
    ``md5(f"{doc_id}:jpg")``, serialized with :func:`encode_jpeg` (real
    Huffman entropy coding — DC categories up to 11, EOB, byte framing),
    decoded back through :func:`decode_jpeg`, emitted as the pixel sum
    plus the md5 of the decoded bytes' hex.  The DuckDB oracle reproduces
    both from md5 string arithmetic alone; the general lossy path
    (non-flat content, Annex K table) is pytest-covered where tolerance
    assertions are possible."""
    return _jpeg_flat_features(ids, "jpg", 1)


def jpeg_color_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Color variant of :func:`jpeg_roundtrip_features`: the same flat
    8x8 blocks, but encoded as a 3-component 4:4:4 YCbCr JPEG — so the
    checked path adds the RGB<->YCbCr transforms, the interleaved
    3-blocks-per-MCU entropy layout, and the per-component DC
    predictors.  Flat GRAY blocks keep the round trip byte-exact (the
    chroma planes are exactly 128, so their blocks quantize to all
    zeros), letting the DuckDB oracle rebuild the decoded RGB bytes from
    md5 hex with each gray byte tripled."""
    return _jpeg_flat_features(ids, "jpgc", 3)


GIF_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("sum_r", T.LongType(), True),
    T.StructField("sum_g", T.LongType(), True),
    T.StructField("sum_b", T.LongType(), True),
    T.StructField("px_md5", T.StringType(), True),
])


def gif_roundtrip_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> feature-extract through the REAL GIF codec
    (palette quantization + variable-width LZW), mirroring
    :func:`bmp_roundtrip_features`'s oracle pattern.

    Per id, worker-side: build a deterministic 5-color palette (the first
    15 bytes of ``md5(f"{doc_id}:gp")`` as 5 RGB triples) and a 4x4 index
    grid (byte ``j`` of ``md5(f"{doc_id}:gi")`` mod 5), render, serialize
    with :func:`encode_gif`, decode back with :func:`decode_gif`, and emit
    per-channel pixel sums + the md5 of the decoded RGB hex.  The DuckDB
    oracle rebuilds the exact same sums and digest from md5 string
    arithmetic (palette lookup by hex-slice), so a defect anywhere in the
    LZW width schedule, palette order, or index stream breaks the hash."""
    def rows_of(did):
        import numpy as np
        pal = np.frombuffer(hashlib.md5(f"{did}:gp".encode()).digest()[:15],
                            np.uint8).reshape(5, 3)
        idx = np.frombuffer(hashlib.md5(f"{did}:gi".encode()).digest(),
                            np.uint8).astype(np.int64) % 5
        px = pal[idx].reshape(4, 4, 3)
        decoded, nf = decode_gif(encode_gif(px))
        assert (decoded == px).all()
        return [(did, decoded.shape[1], decoded.shape[0], nf,
                 *_rgb_sums(decoded), _hex_md5(decoded))]

    return _per_doc(ids, GIF_FEATURE_SCHEMA, rows_of)


def avi_frame_sample_features(ids: DataFrame) -> DataFrame:
    """Encode -> decode -> frame-sample -> feature-extract through the
    REAL AVI container codec: the video analogue of
    :func:`png_roundtrip_features`.

    Per id, worker-side: synthesize 6 deterministic 4x2 RGB frames (frame
    ``f`` row ``y`` = first 12 bytes of ``md5(f"{doc_id}:avi:{f}:{y}")``
    as straight RGB triples), serialize with :func:`encode_avi` at 4 fps,
    decode back through :func:`decode_avi` (real RIFF chunk walk:
    hdrl/strl headers, movi frame chunks, idx1 skipped), then sample one
    frame per 500 ms of timeline — frame index ``t*fps//1000``, the same
    arithmetic the DuckDB oracle replays — and emit per-channel sums plus
    the md5 of each sampled frame's RGB hex.  A defect anywhere in header
    parsing, frame chunk boundaries, bottom-up row order, BGR channel
    order, or the sampling arithmetic breaks the hash."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("ts_ms", T.IntegerType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
        T.StructField("px_md5", T.StringType(), False),
    ])

    def rows_of(did):
        import numpy as np
        frames = np.stack([_md5_image(f"{did}:avi:{f}:", 2, 4)
                           for f in range(6)])
        vid, fps = decode_avi(encode_avi(frames, fps=4))
        rows, t = [], 0
        while (idx := int(t * fps // 1000)) < len(vid):
            rows.append((did, idx, t, *_rgb_sums(vid[idx]),
                         _hex_md5(vid[idx])))
            t += 500
        return rows

    return _per_doc(ids, schema, rows_of)


def pages_as_media(pages: DataFrame) -> DataFrame:
    """View the crawl's pages table through the media schema (html bytes as
    the opaque payload) — demonstrates the plumbing on real data."""
    return pages.select(
        F.xxhash64("url").alias("media_id"),
        F.col("html").alias("payload"),
        F.struct(F.lit("text/html").alias("mime"),
                 F.lit(None).cast("int").alias("width"),
                 F.lit(None).cast("int").alias("height"),
                 F.lit(None).cast("long").alias("duration_ms")).alias("meta"))
