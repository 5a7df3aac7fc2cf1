"""Multimodal column plumbing: media as an opaque ``binary`` payload
column + typed metadata columns, with image features decoded via
Arrow-batched ``mapInPandas``.

The image codecs are stdlib+numpy and deterministic: uncompressed 24-bit
**BMP**, **PNG** (8-bit gray/RGB/RGBA, all five row filters, stdlib zlib)
and baseline **JPEG** (4:4:4/4:2:0, restart intervals). Other formats go
to PIL when it is importable and otherwise raise ``NotImplementedError``
rather than emitting stub features. Payload bytes are only ever touched
inside the mapInPandas stage.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "MEDIA_SCHEMA",
    "media_table_schema",
    "encode_bmp",
    "decode_bmp",
    "encode_png",
    "decode_png",
    "encode_jpeg",
    "decode_jpeg",
    "decode_image_features",
]

# canonical media-table layout: payload stays opaque binary; all filtering /
# routing happens on the typed metadata (so scans prune without touching
# payload bytes — at 100 TB the payload column is only read by the UDF stage)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),       # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def media_table_schema():
    """ValidationSchema for the media table (engine-checkable metadata)."""
    from ..plans.schema import SchemaBuilder

    return (
        SchemaBuilder("media")
        .column("media_id", "str", nullable=False, unique=True)
        .column("kind", "str", nullable=False, isin=["image", "audio", "video"])
        .column("width", "int", ge=1, le=65536)
        .column("height", "int", ge=1, le=65536)
        .column("duration_ms", "int", ge=0)
        .column("payload", "binary")
        .conditional_check("video_has_duration", "kind = 'video'", "duration_ms IS NOT NULL")
        .build()
    )


# ------------------------------------------------------------ real codecs --
# Pure stdlib+numpy parsers for the uncompressed container formats — no
# imaging/AV library required, bit-exact and deterministic.

def encode_bmp(arr) -> bytes:
    """RGB uint8 array (h, w, 3) → 24-bit uncompressed BMP bytes
    (BITMAPINFOHEADER, bottom-up rows, BGR order, 4-byte row padding)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += a[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    size = 14 + 40 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + info + body)


def decode_bmp(payload: bytes):
    """24-bit uncompressed BMP bytes → RGB uint8 array (h, w, 3)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got bpp={bpp} comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    rows = []
    for y in range(h):
        start = off + y * stride
        rows.append(np.frombuffer(payload, np.uint8, row, start).reshape(w, 3)[:, ::-1])
    a = np.stack(rows)
    return a[::-1] if bottom_up else a


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr, filter_type: int = 0) -> bytes:
    """RGB(A) uint8 array → PNG bytes (8-bit, one IDAT), every row filtered
    with ``filter_type`` (0 none, 1 sub, 2 up, 3 average, 4 paeth — the
    forward transforms of the PNG spec, so the decoder's un-filtering is
    exercised against an independently-written inverse)."""
    import numpy as np
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    h, w, ch = a.shape
    if ch not in (3, 4):
        raise ValueError("encode_png expects RGB or RGBA")
    color = 2 if ch == 3 else 6
    raw = a.astype(np.int16)
    prev = np.zeros((w, ch), dtype=np.int16)
    body = bytearray()
    for y in range(h):
        cur = raw[y]
        left = np.vstack([np.zeros((1, ch), np.int16), cur[:-1]])
        if filter_type == 0:
            f = cur
        elif filter_type == 1:
            f = cur - left
        elif filter_type == 2:
            f = cur - prev
        elif filter_type == 3:
            f = cur - (left + prev) // 2
        elif filter_type == 4:
            ul = np.vstack([np.zeros((1, ch), np.int16), prev[:-1]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            f = cur - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        body += bytes([filter_type]) + (f % 256).astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(body)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """PNG bytes → uint8 array (h, w, channels). 8-bit RGB/RGBA/grayscale,
    no interlacing; all five row filters un-applied per the spec (none/sub/
    up vectorized, average/paeth per-byte — correctness over speed; PNG is
    the interchange path, BMP the bulk path)."""
    import numpy as np
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    w = h = None
    idat = bytearray()
    while pos + 8 <= n:
        clen, tag = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + clen]
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                raise NotImplementedError(
                    f"only 8-bit non-interlaced gray/RGB/RGBA PNG "
                    f"(depth={depth} color={color} interlace={interlace})"
                )
            ch = {0: 1, 2: 3, 6: 4}[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + clen
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    data = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = 1 + w * ch
    data = data.reshape(h, stride)
    out = np.zeros((h, w * ch), dtype=np.int32)
    for y in range(h):
        ft, row = int(data[y, 0]), data[y, 1:].astype(np.int32)
        up = out[y - 1] if y else np.zeros(w * ch, dtype=np.int32)
        if ft == 0:
            out[y] = row
        elif ft == 2:
            out[y] = (row + up) % 256
        elif ft == 1:
            r = row.reshape(w, ch)
            out[y] = (np.cumsum(r, axis=0) % 256).reshape(-1)  # per-channel prefix sum
        elif ft in (3, 4):
            cur = out[y]
            for i in range(w * ch):
                a = cur[i - ch] if i >= ch else 0
                b = up[i]
                if ft == 3:
                    pred = (a + b) // 2
                else:
                    c = up[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (row[i] + pred) % 256
        else:
            raise NotImplementedError(f"PNG filter {ft}")
    arr = out.astype(np.uint8).reshape(h, w, ch)
    return arr


# --------------------------------------------------------------- JPEG ------
# Baseline JPEG (ITU-T T.81, public spec): 8-bit, 4:4:4 (no subsampling),
# one interleaved scan, the Annex-K quantization + huffman tables, IJG
# quality scaling. Encoder and decoder are independent implementations of
# the spec (matrix DCT vs matrix IDCT, forward vs canonical-code huffman),
# so a round trip exercises both directions for real. stdlib + numpy only.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_Q_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K huffman specs: (BITS[1..16], HUFFVAL)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_qtables(quality: int):
    import numpy as np

    q = min(max(int(quality), 1), 100)
    sf = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (np.array(base, dtype=np.int64) * sf + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out  # [luma64, chroma64], natural row-major order


def _dct_mat():
    import numpy as np

    x = np.arange(8)
    u = x[:, None]
    t = np.cos((2 * x[None, :] + 1) * u * np.pi / 16) / 2.0
    t[0] /= np.sqrt(2.0)
    return t


def _huff_codes(bits, vals):
    """Canonical JPEG huffman: symbol → (code, length)."""
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decoder(bits, vals):
    """(length, code) → symbol for the bit-at-a-time reader."""
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # pad 1s
        return bytes(self.buf)

    def restart(self, idx: int) -> None:
        """Byte-align (1-padded) and emit RSTn — markers bypass stuffing."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        self.buf += bytes([0xFF, 0xD0 + (idx % 8)])


def _mag_bits(v: int):
    """JPEG magnitude category: value → (size, bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_block(bw, blk, t, qtbl, zz, prev_dc, enc_dc, enc_ac):
    """DCT → quantize → zigzag → huffman one 8×8 level-shifted block;
    returns the new DC predictor."""
    import numpy as np

    coef = t @ blk @ t.T
    qc = np.round(coef.ravel()[zz] / qtbl[zz].astype(np.float64)).astype(np.int32)
    dc = int(qc[0])
    s, b = _mag_bits(dc - prev_dc)
    code, ln = enc_dc[s]
    bw.write(code, ln)
    if s:
        bw.write(b, s)
    run = 0
    last_nz = max(np.nonzero(qc)[0]) if np.any(qc) else 0
    for i in range(1, 64):
        v = int(qc[i])
        if i > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = enc_ac[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, b = _mag_bits(v)
        code, ln = enc_ac[run * 16 + s]
        bw.write(code, ln)
        bw.write(b, s)
        run = 0
    if last_nz < 63:
        code, ln = enc_ac[0x00]  # EOB
        bw.write(code, ln)
    return dc


def encode_jpeg(
    arr, quality: int = 90, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """RGB uint8 array (h, w, 3) → baseline JFIF bytes (Annex-K huffman
    tables, IJG quality scaling). ``subsampling``: "444" (one block per
    component per MCU) or "420" (the web default: chroma box-downsampled
    2×2, MCU = 4 Y + Cb + Cr). ``restart_interval`` > 0 writes DRI and an
    RSTn marker every N MCUs (what camera/web encoders emit for error
    resilience). Lossy by nature: flat areas round-trip exactly at 4:4:4
    and within ±2 at 4:2:0; natural gradients come back within a few
    levels at quality ≥ 90."""
    import numpy as np

    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    a = np.asarray(arr, dtype=np.uint8)
    h, w, ch = a.shape
    if ch != 3:
        raise ValueError("encode_jpeg expects RGB (h, w, 3)")
    rgb = a.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
    cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
    qt = _jpeg_qtables(quality)
    t = _dct_mat()
    enc_dc = [_huff_codes(*_HUFF_DC_LUMA), _huff_codes(*_HUFF_DC_CHROMA)]
    enc_ac = [_huff_codes(*_HUFF_AC_LUMA), _huff_codes(*_HUFF_AC_CHROMA)]
    zz = np.array(_ZIGZAG)
    bw = _BitWriter()
    prev_dc = [0, 0, 0]

    def pad(plane, mh, mw):
        sh, sw = plane.shape
        p = np.empty((mh, mw))
        p[:sh, :sw] = plane
        p[sh:, :sw] = plane[sh - 1 : sh, :]
        p[:, sw:] = p[:, sw - 1 : sw]
        return p - 128.0

    if subsampling == "444":
        samp = ((1, 1), (1, 1), (1, 1))
        mcu_h = mcu_w = 8
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        planes = [pad(c, ph, pw) for c in (y, cb, cr)]
    else:
        samp = ((2, 2), (1, 1), (1, 1))
        mcu_h = mcu_w = 16
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        yp = pad(y, ph, pw)
        # chroma: 2x2 box mean on the PADDED plane, then level-shift
        def down(c):
            p = pad(c, ph, pw) + 128.0
            d = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            return d - 128.0

        planes = [yp, down(cb), down(cr)]
    n_mcu_y, n_mcu_x = ph // mcu_h, pw // mcu_w
    mcu_count = 0
    rst_idx = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart(rst_idx)
                rst_idx += 1
                prev_dc = [0, 0, 0]
            mcu_count += 1
            for ci in range(3):
                hi, vi = samp[ci]
                ti = 0 if ci == 0 else 1
                for byi in range(vi):
                    for bxi in range(hi):
                        oy = my * 8 * vi + byi * 8
                        ox = mx * 8 * hi + bxi * 8
                        blk = planes[ci][oy : oy + 8, ox : ox + 8]
                        prev_dc[ci] = _encode_block(
                            bw, blk, t, qt[ti], zz, prev_dc[ci],
                            enc_dc[ti], enc_ac[ti],
                        )
    data = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(tc: int, th: int, spec) -> bytes:
        bits, vals = spec
        return bytes([tc * 16 + th]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(int(qt[0][i]) for i in _ZIGZAG))
    out += seg(0xFFDB, b"\x01" + bytes(int(qt[1][i]) for i in _ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for ci, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        hi, vi = samp[ci]
        sof += bytes([cid, hi * 16 + vi, tq])
    out += seg(0xFFC0, sof)
    out += seg(0xFFC4, dht(0, 0, _HUFF_DC_LUMA))
    out += seg(0xFFC4, dht(1, 0, _HUFF_AC_LUMA))
    out += seg(0xFFC4, dht(0, 1, _HUFF_DC_CHROMA))
    out += seg(0xFFC4, dht(1, 1, _HUFF_AC_CHROMA))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += data
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise NotImplementedError(
                        f"unexpected marker 0xFF{nxt:02X} in scan"
                    )
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume the next RSTn marker (T.81 §E.2.4: the
        entropy segment between restarts is padded with 1-bits)."""
        self.nbits = 0
        if self.pos + 2 > len(self.data) or self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RSTn marker at restart interval")
        self.pos += 2


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes):
    """Baseline JFIF bytes → RGB uint8 array (h, w, 3). Supports 8-bit
    baseline SOF0, 1 or 3 components, sampling factors up to 2×2 (covers
    4:4:4, 4:2:2 and the web-default 4:2:0; chroma upsampled by pixel
    replication), and restart intervals (DRI + RSTn). Progressive /
    arithmetic / 12-bit streams raise ``NotImplementedError`` rather than
    mis-decoding."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos, n = 2, len(payload)
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    scan = None
    data_start = None
    restart_interval = 0
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a marker
        while payload[pos + 1] == 0xFF and pos + 4 <= n:
            pos += 1
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            pos += 2  # TEM / RSTn: standalone, no length field
            continue
        if pos + 4 > n:  # fill-skip may reach the tail of a truncated stream
            raise ValueError("truncated JPEG header")
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                for k in range(64):
                    tbl[_ZIGZAG[k]] = body[i + 1 + k]
                qtables[tq] = tbl
                i += 65
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                cnt = sum(bits)
                vals = list(body[i + 17 : i + 17 + cnt])
                huff[(tc, th)] = _huff_decoder(bits, vals)
                i += 17 + cnt
        elif marker == 0xFFDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFC0:
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc not in (1, 3):
                raise NotImplementedError(f"SOF0 precision={prec} ncomp={nc}")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise NotImplementedError(f"sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            frame = (fh, fw, comps)
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC9, 0xFFCA, 0xFFCB):
            raise NotImplementedError("only baseline huffman SOF0 JPEG")
        elif marker == 0xFFDA:
            ns = body[0]
            scan = {}
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                scan[cid] = (tabs >> 4, tabs & 0xF)
            data_start = pos + 2 + ln
            break
        pos += 2 + ln
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    fh, fw, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    end = payload.rfind(b"\xff\xd9")
    br = _BitReader(payload[data_start : end if end > 0 else n])
    t = _dct_mat()
    zz = np.array(_ZIGZAG)
    n_mcu_x = -(-fw // (8 * hmax))
    n_mcu_y = -(-fh // (8 * vmax))
    planes = [
        np.zeros((n_mcu_y * 8 * vi, n_mcu_x * 8 * hi))
        for (_, hi, vi, _) in comps
    ]
    prev_dc = [0] * len(comps)

    def read_sym(tab):
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | br.bit()
            length += 1
            if (length, code) in tab:
                return tab[(length, code)]
        raise ValueError("invalid huffman code in scan")

    mcu_count = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                prev_dc = [0] * len(comps)
            mcu_count += 1
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                dct_t, act_t = scan[cid]
                dc_tab, ac_tab = huff[(0, dct_t)], huff[(1, act_t)]
                for byi in range(vi):
                    for bxi in range(hi):
                        s = read_sym(dc_tab)
                        diff = _extend(br.bits(s), s) if s else 0
                        prev_dc[ci] += diff
                        coef = np.zeros(64)
                        coef[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            rs = read_sym(ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if rs == 0x00:
                                break  # EOB
                            if rs == 0xF0:
                                k += 16
                                continue
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            coef[k] = _extend(br.bits(s), s)
                            k += 1
                        deq = np.zeros(64)
                        deq[zz] = coef * qtables[tq][zz]
                        blk = t.T @ deq.reshape(8, 8) @ t
                        oy = (my * vi + byi) * 8
                        ox = (mx * hi + bxi) * 8
                        planes[ci][oy : oy + 8, ox : ox + 8] = blk + 128.0
    full = []
    for pi, (cid, hi, vi, tq) in enumerate(comps):
        p = planes[pi]
        if hi < hmax:
            p = np.repeat(p, hmax // hi, axis=1)
        if vi < vmax:
            p = np.repeat(p, vmax // vi, axis=0)
        full.append(p[:fh, :fw])
    if len(comps) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _to_rgb(arr):
    """(h, w, 1|3|4) → (h, w, 3): grayscale replicates, RGBA drops alpha."""
    import numpy as np

    ch = arr.shape[2]
    if ch == 3:
        return arr
    if ch == 1:
        return np.repeat(arr, 3, axis=2)
    return arr[..., :3]


def _image_features(arr, dim: int) -> list[float]:
    """Deterministic feature vector from an RGB array: [mean_r, mean_g,
    mean_b, aspect] + a g×g nearest-neighbor grayscale grid (g = ⌊√(dim−4)⌋),
    zero-padded to ``dim``. Everything rounds to 6 dp so the layout is
    engine-replayable (the driver oracle recomputes the channel means from
    the pixel-generation arithmetic in SQL)."""
    import numpy as np

    h, w, _ = arr.shape
    a = arr.astype("float64")
    head = [
        a[..., 0].mean() / 255.0,
        a[..., 1].mean() / 255.0,
        a[..., 2].mean() / 255.0,
        w / h,
    ]
    g = max(int((dim - 4) ** 0.5), 1)
    ys = np.linspace(0, h - 1, g).round().astype(int)
    xs = np.linspace(0, w - 1, g).round().astype(int)
    grid = (a.mean(axis=2)[np.ix_(ys, xs)] / 255.0).ravel()
    feat = head + grid.tolist()
    feat = feat[:dim] + [0.0] * max(dim - len(feat), 0)
    return [round(float(v), 6) for v in feat]


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 64,
) -> DataFrame:
    """Decode images → feature vectors via mapInPandas (one Arrow batch in,
    one out; payload column read only here). BMP, PNG and baseline JPEG
    payloads decode with the stdlib+numpy codecs above; other formats
    dispatch to PIL when importable, else raise — never silently emit stub
    vectors as if they were decoded features."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.StringType(), False),
            T.StructField("features", T.ArrayType(T.FloatType()), True),
        ]
    )

    def decode_one(p: bytes) -> list[float]:
        import numpy as np

        if p[:2] == b"BM":
            return _image_features(decode_bmp(p), dim)
        if p[:8] == _PNG_MAGIC:
            return _image_features(_to_rgb(decode_png(p)), dim)
        if p[:2] == b"\xff\xd8":
            return _image_features(decode_jpeg(p), dim)
        try:  # pragma: no cover - PIL absent in this container
            import io

            from PIL import Image  # type: ignore[import-not-found]
        except ImportError:
            raise NotImplementedError(
                "payload is not BMP/PNG/JPEG and PIL is unavailable"
            ) from None
        arr = np.asarray(Image.open(io.BytesIO(p)).convert("RGB"))  # pragma: no cover
        return _image_features(arr, dim)  # pragma: no cover

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [
                decode_one(bytes(p)) if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)
