"""Multimodal columns: opaque binary payloads + typed metadata.

North-star extension (no analog in the reference beyond PDF bytes on
disk): image/audio/video travel as ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas``.

Decode modes:

- ``DETERMINISTIC`` derives reproducible pseudo-features from the
  payload bytes (so the Spark-side plumbing — schema, batching,
  partitioning — is fully real and tested regardless of format).
- ``REAL`` genuinely decodes the formats the stdlib + numpy can parse
  — P6 PPM and 24-bit BI_RGB BMP images, 8-bit PNG (stdlib zlib
  inflate + per-row unfilter, all five filter types, color types
  0/2/3/4/6, Adam7 interlace), GIF87a/89a (LZW decoder conformant to
  giflib's code-width growth rule, interlace supported), baseline
  strip TIFF (both endiannesses, none/LZW/PackBits compression,
  horizontal-differencing predictor, 8-bit gray/RGB/RGBA — TIFF LZW is
  the PDF early-change variant, shared core in sources/lzw.py),
  sequential AND progressive JPEG (sources/jpeg.py — file-supplied
  Huffman/quant tables, any chroma subsampling, restart markers,
  spectral selection + successive approximation), RIFF WAV audio
  (PCM-16, IEEE float32, G.711 A-law/μ-law, and IMA ADPCM — the
  G.711/ADPCM arithmetic audioop-conformance-pinned), and
  uncompressed-DIB AVI video demux (sampled frames re-emitted as PPM
  so the frame→features path composes in-container) — and computes
  real pixel/waveform statistics.  The remaining codec seam is
  the DSP transform codecs (MP3, MS-ADPCM, H.264/VP9) and exotic JPEG
  modes (arithmetic/lossless/12-bit),
  which need Pillow/ffmpeg/librosa — NOT in this container: those
  payloads raise NotImplementedError at the exact point the library
  call would go.

Scale notes: binary payloads dominate row size → ``maxRecordsPerBatch``
must be kept small for these stages (set per-call, not globally), and
repartitioning before mapInPandas spreads decode cost evenly; payloads
never hit the driver.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def decode_ppm(b: bytes) -> np.ndarray | None:
    """Netpbm image → (H, W, 3) uint8 RGB — the FULL P1-P6 family:
    binary P6 PPM / P5 PGM (gray, replicated) / P4 PBM (1-bit packed
    MSB-first, 1=black per spec, rows byte-padded) and the ASCII twins
    P3/P2/P1.  None if not Netpbm or maxval>255."""
    if len(b) < 2 or b[0:1] != b"P" or b[1] not in b"123456":
        return None
    kind = b[1] - 0x30  # 1..6
    n_head = 2 if kind in (1, 4) else 3  # bitmaps carry no maxval
    tokens: list[int] = []
    i = 2
    while len(tokens) < n_head and i < len(b):
        c = b[i : i + 1]
        if c.isspace():
            i += 1
            continue
        if c == b"#":  # comment to end of line
            j = b.find(b"\n", i)
            i = (j + 1) if j != -1 else len(b)
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        try:
            tokens.append(int(b[i:j]))
        except ValueError:
            return None
        i = j
    if len(tokens) < n_head:
        return None
    w, h = tokens[0], tokens[1]
    maxval = tokens[2] if n_head == 3 else 1
    if maxval > 255 or maxval <= 0 or w <= 0 or h <= 0:
        return None
    if kind in (1, 2, 3):  # ASCII rasters
        n_vals = w * h * (3 if kind == 3 else 1)
        if kind == 1:
            # P1 digits may be unseparated; strip comments, then the
            # body must contain ONLY '0'/'1'/whitespace — silently
            # dropping other bytes would decode a shifted raster from a
            # malformed payload instead of refusing (r6 ADVICE)
            body = np.frombuffer(re.sub(rb"#[^\n]*", b"", b[i:]), np.uint8)
            is_bit = (body == 0x30) | (body == 0x31)
            is_ws = (
                (body == 0x20) | (body == 0x09) | (body == 0x0A)
                | (body == 0x0B) | (body == 0x0C) | (body == 0x0D)
            )
            if not (is_bit | is_ws).all():
                return None
            vals = body[is_bit] - 0x30
            if len(vals) < n_vals:
                return None
            vals = vals[:n_vals].astype(np.int64)
        else:
            body = re.sub(rb"#[^\n]*", b"", b[i:]).split()
            if len(body) < n_vals:
                return None
            try:
                vals = np.array([int(t) for t in body[:n_vals]], np.int64)
            except ValueError:
                return None
        if vals.max(initial=0) > maxval:
            return None
        if kind == 3:
            px = (vals * 255 // maxval).astype(np.uint8).reshape(h, w, 3)
            return np.ascontiguousarray(px)
        if kind == 1:
            g = ((1 - vals) * 255).astype(np.uint8).reshape(h, w)
        else:
            g = (vals * 255 // maxval).astype(np.uint8).reshape(h, w)
        return np.repeat(g[..., None], 3, axis=2)
    i += 1  # exactly one whitespace byte separates header from raster
    if kind == 4:
        row_bytes = (w + 7) // 8
        need = row_bytes * h
        if len(b) < i + need:
            return None
        bits = np.unpackbits(
            np.frombuffer(b, np.uint8, count=need, offset=i).reshape(h, row_bytes),
            axis=1,
        )[:, :w]
        g = ((1 - bits) * 255).astype(np.uint8)  # 1 = black per spec
        return np.repeat(g[..., None], 3, axis=2)
    ch = 3 if kind == 6 else 1
    need = w * h * ch
    if len(b) < i + need:
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=need, offset=i)
    if maxval != 255:
        px = (px.astype(np.int64) * 255 // maxval).astype(np.uint8)
    if kind == 5:
        return np.repeat(px.reshape(h, w)[..., None], 3, axis=2)
    return px.reshape(h, w, 3)


def decode_xbm(b: bytes) -> np.ndarray | None:
    """X bitmap (.xbm — a C source fragment) → (H, W, 3) uint8 RGB:
    ``#define *_width/_height`` plus a brace-delimited hex byte array,
    bits LSB-first within each byte, rows byte-padded, 1 = foreground
    (rendered black, matching PBM's ink convention).  Anchored against
    the stdlib's externally-written python.xbm vs python.pbm."""
    if len(b) > 1 << 20:
        return None  # XBMs are tiny; don't regex megabytes of binary
    try:
        txt = b.decode("ascii")
    except UnicodeDecodeError:
        return None
    wm = re.search(r"#define\s+\w*_?width\s+(\d+)", txt)
    hm = re.search(r"#define\s+\w*_?height\s+(\d+)", txt)
    am = re.search(r"_bits\s*\[\s*\]\s*=\s*\{([^}]*)\}", txt)
    if not (wm and hm and am):
        return None
    w, h = int(wm.group(1)), int(hm.group(1))
    if w <= 0 or h <= 0:
        return None
    try:
        vals = [
            int(t.strip(), 0)
            for t in am.group(1).split(",")
            if t.strip()
        ]
    except ValueError:
        return None
    row_bytes = (w + 7) // 8
    if len(vals) < row_bytes * h or any(not 0 <= v <= 255 for v in vals):
        return None
    raw = np.array(vals[: row_bytes * h], np.uint8).reshape(h, row_bytes)
    bits = np.unpackbits(raw, axis=1, bitorder="little")[:, :w]
    g = ((1 - bits) * 255).astype(np.uint8)  # 1 = ink = black
    return np.repeat(g[..., None], 3, axis=2)


def decode_ras(b: bytes) -> np.ndarray | None:
    """Sun Raster → (H, W, 3) uint8 RGB: 8-bit gray / 24-bit / 32-bit
    pixels, type 0/1 (standard, BGR order) / 2 (byte-RLE) / 3
    (RT_FORMAT_RGB — RGB order; layout pinned against the stdlib's
    externally-written python.ras vs its PNG twin), rows padded to 16
    bits, big-endian header.  Colormapped files return None (seam)."""
    import struct

    if len(b) < 32 or b[:4] != b"\x59\xa6\x6a\x95":
        return None
    _, w, h, depth, length, rtype, maptype, maplen = struct.unpack(
        ">8I", b[:32]
    )
    if w <= 0 or h <= 0 or depth not in (8, 24, 32) or maplen:
        return None
    if rtype not in (0, 1, 2, 3):
        return None
    data = b[32 : 32 + length] if length else b[32:]
    if rtype == 2:
        out = bytearray()
        i = 0
        n = len(data)
        while i < n:
            c = data[i]
            if c != 0x80:
                out.append(c)
                i += 1
                continue
            if i + 1 >= n:
                return None
            cnt = data[i + 1]
            if cnt == 0:
                out.append(0x80)
                i += 2
            else:
                if i + 2 >= n:
                    return None
                out += bytes([data[i + 2]]) * (cnt + 1)
                i += 3
        data = bytes(out)
    bpp = depth // 8
    row_bytes = (w * bpp + 1) & ~1  # rows pad to 16 bits
    if len(data) < row_bytes * h:
        return None
    px = np.frombuffer(data, np.uint8, count=row_bytes * h).reshape(h, row_bytes)
    px = px[:, : w * bpp].reshape(h, w, bpp)
    if depth == 8:
        return np.repeat(px, 3, axis=2)
    if depth == 24:
        order = [0, 1, 2] if rtype == 3 else [2, 1, 0]
    else:  # 32-bit: pad byte FIRST (X,R,G,B / X,B,G,R — anchor-pinned)
        order = [1, 2, 3] if rtype == 3 else [3, 2, 1]
    return np.ascontiguousarray(px[..., order])


def encode_simple_ras(img: np.ndarray, rle: bool = False) -> bytes:
    """Minimal 24-bit standard (BGR) Sun Raster writer (fixtures):
    type 1, or type 2 byte-RLE."""
    import struct

    h, w = img.shape[:2]
    bgr = np.ascontiguousarray(img[..., [2, 1, 0]].astype(np.uint8))
    row_bytes = (w * 3 + 1) & ~1
    raster = np.zeros((h, row_bytes), np.uint8)
    raster[:, : w * 3] = bgr.reshape(h, w * 3)
    raw = raster.tobytes()
    if rle:
        out = bytearray()
        i = 0
        while i < len(raw):
            run = 1
            while i + run < len(raw) and raw[i + run] == raw[i] and run < 256:
                run += 1
            if run >= 3 or (run >= 2 and raw[i] == 0x80):
                out += bytes([0x80, run - 1, raw[i]])
                i += run
            elif raw[i] == 0x80:
                out += b"\x80\x00"
                i += 1
            else:
                out.append(raw[i])
                i += 1
        data, rtype = bytes(out), 2
    else:
        data, rtype = raw, 1
    return struct.pack(
        ">8I", 0x59A66A95, w, h, 24, len(data), rtype, 0, 0
    ) + data


def decode_sgi(b: bytes) -> np.ndarray | None:
    """SGI image (.sgi/.rgb) → (H, W, 3) uint8 RGB: 8-bit channels,
    verbatim or RLE storage, 1/3/4 channels (alpha dropped, gray
    replicated), bottom-up row order (pinned against the stdlib's
    externally-written python.sgi vs its PNG twin)."""
    import struct

    if len(b) < 512 or b[:2] != b"\x01\xda":
        return None
    storage, bpc = b[2], b[3]
    dim, w, h, z = struct.unpack(">4H", b[4:12])
    if bpc != 1 or storage not in (0, 1) or w <= 0 or h <= 0:
        return None
    if dim == 2:
        z = 1
    if z not in (1, 3, 4):
        return None
    img = np.zeros((h, w, z), np.uint8)
    if storage == 0:  # verbatim: channel-planar, bottom-up rows
        need = 512 + w * h * z
        if len(b) < need:
            return None
        planes = np.frombuffer(b, np.uint8, count=w * h * z, offset=512)
        img = planes.reshape(z, h, w).transpose(1, 2, 0)[::-1]
    else:
        ntab = h * z
        if len(b) < 512 + 8 * ntab:
            return None
        offs = struct.unpack(">%dI" % ntab, b[512 : 512 + 4 * ntab])
        lens = struct.unpack(
            ">%dI" % ntab, b[512 + 4 * ntab : 512 + 8 * ntab]
        )
        for c in range(z):
            for row in range(h):
                o, ln = offs[c * h + row], lens[c * h + row]
                s = b[o : o + ln]
                if len(s) < ln:
                    return None
                out: list[int] = []
                i = 0
                while i < len(s) and len(out) < w:
                    cnt = s[i]
                    i += 1
                    n = cnt & 0x7F
                    if n == 0:
                        break
                    if cnt & 0x80:
                        if i + n > len(s):
                            return None
                        out.extend(s[i : i + n])
                        i += n
                    else:
                        if i >= len(s):
                            return None
                        out.extend([s[i]] * n)
                        i += 1
                if len(out) < w:
                    return None
                img[h - 1 - row, :, c] = out[:w]
    if z == 1:
        return np.repeat(img, 3, axis=2)
    return np.ascontiguousarray(img[..., :3])


def encode_simple_sgi(img: np.ndarray, rle: bool = True) -> bytes:
    """Minimal 3-channel SGI writer (fixtures): RLE or verbatim."""
    import struct

    h, w = img.shape[:2]
    img = np.ascontiguousarray(img[..., :3].astype(np.uint8))
    # magic, storage, bpc, dim, x, y, z, pixmin, pixmax, dummy4,
    # name80, colormap4 + dummy404 (408 zero bytes) = 512
    head = struct.pack(
        ">2sBB4H2I4x80s408x", b"\x01\xda", 1 if rle else 0, 1, 3, w, h, 3,
        0, 255, b"kms",
    )
    assert len(head) == 512, len(head)
    if not rle:
        planes = img.transpose(2, 0, 1)[:, ::-1, :]  # channel-planar, bottom-up
        return head + planes.tobytes()
    scanlines = []
    for c in range(3):
        for row in range(h):
            s = img[h - 1 - row, :, c]
            enc = bytearray()
            i = 0
            while i < w:
                run = 1
                while i + run < w and s[i + run] == s[i] and run < 127:
                    run += 1
                if run >= 3:
                    enc += bytes([run, s[i]])
                    i += run
                else:
                    j = i
                    lit = []
                    while j < w and len(lit) < 127:
                        run2 = 1
                        while j + run2 < w and s[j + run2] == s[j] and run2 < 3:
                            run2 += 1
                        if run2 >= 3:
                            break
                        lit.extend([s[j]] * run2)
                        j += run2
                    enc += bytes([0x80 | len(lit)]) + bytes(lit)
                    i = j
            enc += b"\x00"
            scanlines.append(bytes(enc))
    ntab = 3 * h
    pos = 512 + 8 * ntab
    offs, lens = [], []
    for s in scanlines:
        offs.append(pos)
        lens.append(len(s))
        pos += len(s)
    return (
        head
        + struct.pack(">%dI" % ntab, *offs)
        + struct.pack(">%dI" % ntab, *lens)
        + b"".join(scanlines)
    )


def decode_bmp(b: bytes) -> np.ndarray | None:
    """Uncompressed 24-bit BI_RGB BMP → (H, W, 3) uint8 RGB; None otherwise."""
    import struct

    if not b or not b.startswith(b"BM") or len(b) < 54:
        return None
    data_offset = struct.unpack_from("<I", b, 10)[0]
    header_size = struct.unpack_from("<I", b, 14)[0]
    if header_size < 40:
        return None
    w, h = struct.unpack_from("<ii", b, 18)
    _, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    need = row_size * h
    if len(b) < data_offset + need:
        return None
    rows = np.frombuffer(b, dtype=np.uint8, count=need, offset=data_offset).reshape(
        h, row_size
    )
    img = rows[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR → RGB
    return img[::-1] if bottom_up else img


def decode_png(b: bytes) -> np.ndarray | None:
    """Real PNG decode with ZERO new dependencies: stdlib ``zlib``
    inflate + per-row unfilter in numpy/Python.

    Supported: the full legal format matrix — bit depths 1/2/4
    (gray/palette, MSB-first packing with byte-aligned rows, spec
    v*255/maxval gray scaling), 8, and 16 (samples downconvert by the
    standard high-byte take); color types 0 (gray), 2 (RGB), 3
    (palette), 4 (gray+alpha), 6 (RGBA); all five filter types
    (None/Sub/Up/Average/Paeth — operating on BYTES with bpp =
    max(1, channels×bitd/8), as the spec requires); both non-interlaced
    and Adam7-interlaced (each of the 7 passes unfilters as its own
    sub-image, then scatters onto the 8x8 grid).  Alpha is dropped,
    gray replicates to RGB, palette resolves through PLTE → always
    (H, W, 3) uint8.  Returns None only for malformed or spec-illegal
    payloads (e.g. 16-bit palette).

    The Up filter vectorizes (uint8 wraparound IS the mod-256 the spec
    wants); Sub/Average/Paeth carry a left-neighbor dependency and run
    as per-byte loops — fine for fixture/test images, and the 100 TB
    path for bulk compressed imagery remains a real codec library on
    the executors (this decoder exists to make content-level parity
    testable in-container, reference parse_pdfs.py's analog surface).
    """
    import struct
    import zlib

    if not b or not b.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    i = 8
    w = h = bitd = colort = interlace = None
    idat = bytearray()
    plte = None
    while i + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, i)
        body = b[i + 8 : i + 8 + ln]
        if len(body) < ln:
            return None
        if typ == b"IHDR":
            if ln < 13:
                return None
            w, h, bitd, colort, comp, filt, interlace = struct.unpack_from(
                ">IIBBBBB", body, 0
            )
            if comp != 0 or filt != 0:
                return None
        elif typ == b"PLTE":
            if ln % 3:
                return None
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + crc
    if w is None or not idat or bitd not in (1, 2, 4, 8, 16) \
            or interlace not in (0, 1):
        return None
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colort)
    if channels is None or w <= 0 or h <= 0:
        return None
    if bitd == 16 and colort == 3:
        return None  # illegal per spec (palette is 8-bit max)
    if bitd < 8 and colort not in (0, 3):
        return None  # sub-byte depths are gray/palette only per spec
    bps = max(1, bitd // 8)  # bytes per sample (filter granularity)
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None

    def unfilter(pw: int, ph: int, pos: int):
        """Unfilter a (ph, pw)-pixel sub-image starting at raw[pos];
        returns (pixels, next pos) or None.  The scanline loop is the
        shared predictor core (sources/predictors.py) — the same code
        that inverts PDF /DecodeParms PNG predictors."""
        from knowledge_model_spark.sources.predictors import (
            png_unfilter_scanlines,
        )

        stride = (pw * channels * bitd + 7) // 8
        bpp = max(1, channels * bitd // 8)  # filter byte distance
        got = png_unfilter_scanlines(raw, pos, ph, stride, bpp)
        if got is None:
            return None
        sub, pos = got
        if bitd == 16:
            # 16-bit samples are big-endian: the HIGH byte is the
            # standard 8-bit downconversion (val >> 8)
            sub = sub.reshape(ph, pw, channels, 2)[..., 0]
            return sub, pos
        if bitd < 8:
            # sub-byte samples pack MSB-first, rows byte-aligned:
            # unpack to bits, regroup per sample, weigh back together
            bits = np.unpackbits(sub, axis=1)
            per = bits[:, : (stride * 8 // bitd) * bitd].reshape(
                ph, -1, bitd
            )
            weights = (1 << np.arange(bitd - 1, -1, -1)).astype(np.uint8)
            vals = (per * weights).sum(axis=2).astype(np.uint8)[:, :pw]
            return vals.reshape(ph, pw, 1), pos
        return sub.reshape(ph, pw, channels), pos

    if interlace == 0:
        got = unfilter(w, h, 0)
        if got is None:
            return None
        px = got[0]
    else:  # Adam7: 7 passes, each filtered as its own sub-image
        ADAM7 = (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        )
        px = np.zeros((h, w, channels), np.uint8)
        pos = 0
        for x0, y0, dx, dy in ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes no scanlines at all
            got = unfilter(pw, ph, pos)
            if got is None:
                return None
            sub, pos = got
            px[y0::dy, x0::dx] = sub
    if colort == 0:
        if bitd < 8:  # scale sub-byte gray to full range (spec sample
            # depth scaling: v * 255 / maxval, exact for these depths)
            px = (px.astype(np.uint16) * 255 // ((1 << bitd) - 1)).astype(
                np.uint8
            )
        return np.repeat(px, 3, axis=2)
    if colort == 2:
        return np.ascontiguousarray(px)
    if colort == 3:
        if plte is None or int(px[..., 0].max()) >= len(plte):
            return None
        return plte[px[..., 0]]
    if colort == 4:
        return np.repeat(px[..., :1], 3, axis=2)
    return np.ascontiguousarray(px[..., :3])  # colort == 6


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> list[int] | None:
    """GIF-variant LZW decode (LSB-first bit packing, variable code
    width 3..12).  Code-width growth follows giflib exactly: a counter
    starting at EOI+1 ticks on EVERY code read and the width grows when
    it EXCEEDS ``1 << code_size`` — one read earlier than a
    dictionary-adds counter would grow, which is the classic decoder
    compensation for lagging the encoder's table by one entry.  The
    dictionary machine itself is the shared core in sources/lzw.py
    (also the PDF /LZWDecode early-change variant)."""
    from knowledge_model_spark.sources.lzw import lzw_decode

    return lzw_decode(
        data, min_code_size, lsb_first=True, growth="giflib",
        expected=expected,
    )


def decode_gif(b: bytes) -> np.ndarray | None:
    """Real GIF87a/89a decode with zero new dependencies: container
    parse + the stdlib-Python LZW decoder above.  First image frame
    only; local color table overrides global; interlaced row order
    (8/8, 8/8+4, 4/4+2, 2/2+1 passes) is de-interleaved.  Returns
    (H, W, 3) uint8 RGB or None (caller falls through to the seam)."""
    import struct

    if not b or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    if len(b) < 13:
        return None
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if len(b) < i + n * 3:
            return None
        gct = np.frombuffer(b, np.uint8, n * 3, i).reshape(-1, 3)
        i += n * 3
    while i < len(b):
        blk = b[i]
        if blk == 0x21:  # extension: label byte then sub-block chain
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
        elif blk == 0x2C:  # image descriptor
            if i + 10 > len(b):
                return None
            _x0, _y0, iw, ih, ip = struct.unpack_from("<HHHHB", b, i + 1)
            i += 10
            ct = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                if len(b) < i + n * 3:
                    return None
                ct = np.frombuffer(b, np.uint8, n * 3, i).reshape(-1, 3)
                i += n * 3
            if ct is None or iw <= 0 or ih <= 0 or i >= len(b):
                return None
            mcs = b[i]
            i += 1
            if not (2 <= mcs <= 8):
                return None
            data = bytearray()
            while i < len(b) and b[i] != 0:
                sz = b[i]
                data += b[i + 1 : i + 1 + sz]
                i += 1 + sz
            idx = _gif_lzw_decode(bytes(data), mcs, iw * ih)
            if idx is None:
                return None
            arr = np.array(idx, np.uint8).reshape(ih, iw)
            if ip & 0x40:  # interlaced: stream rows land in pass order
                order = [
                    *range(0, ih, 8),
                    *range(4, ih, 8),
                    *range(2, ih, 4),
                    *range(1, ih, 2),
                ]
                de = np.zeros_like(arr)
                de[order] = arr
                arr = de
            if int(arr.max()) >= len(ct):
                return None
            return ct[arr]
        else:  # 0x3B trailer or junk
            return None
    return None


def _packbits_decode(data: bytes) -> bytes | None:
    """Apple PackBits (TIFF spec §9): n in 0..127 → n+1 literal bytes;
    n in 129..255 → next byte repeated 257−n times; n == 128 is a NOOP
    (unlike PDF RunLengthDecode, where 128 is EOD)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            i += 1
            continue
        if ln <= 127:
            if i + 2 + ln > n:
                return None
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            if i + 1 >= n:
                return None
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def decode_tiff(b: bytes) -> np.ndarray | None:
    """Baseline TIFF → RGB uint8.  Supports both endiannesses, 8-bit
    samples, 1/3/4 samples per pixel (alpha dropped), photometric
    WhiteIsZero / BlackIsZero / RGB, strip layout, compression none /
    LZW / PackBits, horizontal differencing (Predictor 2), and — r8,
    the scanned-document shapes — 1-bit CCITT fax strips: compression
    2 (G3 MH), 3 (T.4 G3 1-D/2-D per T4Options), 4 (T.6 G4), through
    the shared ``sources/ccitt.py`` decoders.  TIFF LZW IS the PDF
    early-change variant (MSB-first, grows one code early — the
    historic off-by-one PDF inherited), so the shared core in
    sources/lzw.py decodes both.  Tiled, palette, planar, 16-bit,
    JPEG-in-TIFF, LSB FillOrder, and CCITT uncompressed-mode files
    return None (the declared seam).  Conformance anchor: the
    stdlib-shipped externally-written ``python.tiff`` must match the
    same image's external PNG/BMP/PPM pixel-for-pixel through this
    repo's decoders."""
    import struct

    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        return None
    e = "<" if b[:2] == b"II" else ">"
    if struct.unpack(e + "H", b[2:4])[0] != 42:
        return None
    (ifd,) = struct.unpack(e + "I", b[4:8])
    if ifd + 2 > len(b):
        return None
    (n_ent,) = struct.unpack(e + "H", b[ifd : ifd + 2])
    tags: dict[int, tuple] = {}
    for i in range(n_ent):
        ent = b[ifd + 2 + 12 * i : ifd + 14 + 12 * i]
        if len(ent) < 12:
            return None
        tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
        size = _TIFF_TYPE_SIZE.get(typ, 0) * cnt
        if size == 0:
            continue
        if size <= 4:
            raw = ent[8 : 8 + size]
        else:
            (off,) = struct.unpack(e + "I", ent[8:12])
            raw = b[off : off + size]
            if len(raw) < size:
                return None
        if typ == 3:
            tags[tag] = struct.unpack(e + "%dH" % cnt, raw)
        elif typ == 4:
            tags[tag] = struct.unpack(e + "%dI" % cnt, raw)
        elif typ == 1:
            tags[tag] = tuple(raw)

    def one(tag: int, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w, h = one(256), one(257)
    comp, photo = one(259, 1), one(262)
    spp = one(277, 1)
    pred = one(317, 1)
    rps = one(278, h)
    offs, cnts = tags.get(273), tags.get(279)
    if not (w and h and offs and cnts) or photo not in (0, 1, 2):
        return None
    if comp in (2, 3, 4):
        # CCITT fax strips (r8, r7 verdict item 4): compression 2 = G3
        # MH with byte-aligned rows (TIFF 6 §10), 3 = T.4 G3 (T4Options
        # bit 0 selects 2-D mode, bit 2 fill-to-byte — both framed by
        # the EOLs sources/ccitt.py already consumes), 4 = T.6 G4.
        # Each strip is an independent fax stream of exactly its strip
        # rows.  Seams (honest refusal): uncompressed-mode option bit,
        # LSB FillOrder, tiles, palette/multi-sample bilevel.
        bits = tags.get(258, (1,) * spp)
        if photo not in (0, 1) or spp != 1 or tuple(bits) != (1,):
            return None
        if pred != 1 or one(322) or one(266, 1) != 1:
            return None
        t4, t6 = one(292, 0), one(293, 0)
        if (comp == 3 and t4 & 0b10) or (comp == 4 and t6 & 0b10):
            return None  # uncompressed mode: seam
        from knowledge_model_spark.sources.ccitt import (
            g3_1d_decode,
            g3_mixed_decode,
            g4_decode,
        )

        parts: list[np.ndarray] = []
        for si, (o, c) in enumerate(zip(offs, cnts)):
            data = b[o : o + c]
            if len(data) < c:
                return None
            nrows = min(rps, h - si * rps)
            if comp == 2:
                bm = g3_1d_decode(data, w, rows=nrows, byte_align=True)
            elif comp == 3 and (t4 & 1):
                bm = g3_mixed_decode(data, w, rows=nrows)
            elif comp == 3:
                bm = g3_1d_decode(data, w, rows=nrows)
            else:
                bm = g4_decode(data, w, rows=nrows)
            if bm is None:
                return None
            parts.append(bm)
        bm = np.concatenate(parts, axis=0)
        if bm.shape != (h, w):
            return None
        # fax sense: a "black" run is display-black under the standard
        # WhiteIsZero (0); under BlackIsZero (1) the sense inverts
        g = np.where(bm, 0, 255) if photo == 0 else np.where(bm, 255, 0)
        return np.repeat(g.astype(np.uint8)[..., None], 3, axis=2)
    bits = tags.get(258, (8,) * spp)
    if any(x != 8 for x in bits) or spp not in (1, 3, 4):
        return None
    if comp not in (1, 5, 32773) or pred not in (1, 2) or one(322):
        return None  # tiles (322=TileWidth), exotic compression: seam
    if photo == 2 and spp < 3:
        return None
    row_bytes = w * spp
    out = bytearray()
    for si, (o, c) in enumerate(zip(offs, cnts)):
        data = b[o : o + c]
        if len(data) < c:
            return None
        nrows = min(rps, h - si * rps)
        if comp == 1:
            dec = bytes(data)
        elif comp == 5:
            from knowledge_model_spark.sources.lzw import lzw_decode

            sym = lzw_decode(data, 8, lsb_first=False, growth="pdf")
            if sym is None:
                return None
            dec = bytes(sym)
        else:
            dec = _packbits_decode(data)
            if dec is None:
                return None
        if len(dec) < nrows * row_bytes:
            return None
        out += dec[: nrows * row_bytes]
    if len(out) < h * row_bytes:
        return None
    px = np.frombuffer(bytes(out), np.uint8)[: h * row_bytes].reshape(h, w, spp)
    if pred == 2:
        # horizontal differencing: samples are deltas from the left
        # neighbor per channel — invert with a mod-256 running sum
        px = (np.cumsum(px.astype(np.uint32), axis=1) & 0xFF).astype(np.uint8)
    if photo == 2:
        return np.ascontiguousarray(px[..., :3])
    g = px[..., 0]
    if photo == 0:
        g = 255 - g
    return np.repeat(g[..., None], 3, axis=2)


def encode_simple_tiff(
    img: np.ndarray,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
) -> bytes:
    """Minimal little-endian strip TIFF writer (fixtures and round-trip
    tests): 8-bit RGB, compression ``none`` / ``lzw`` / ``packbits``,
    optional horizontal differencing, multi-strip."""
    import struct

    h, w = img.shape[:2]
    img = np.ascontiguousarray(img[..., :3].astype(np.uint8))
    rps = rows_per_strip or h
    if predictor == 2:
        first = img[:, :1, :].astype(np.int16)
        diffs = np.diff(img.astype(np.int16), axis=1)
        img = (np.concatenate([first, diffs], axis=1) & 0xFF).astype(np.uint8)
    strips = []
    for y0 in range(0, h, rps):
        raw = img[y0 : y0 + rps].tobytes()
        if compression == "lzw":
            from knowledge_model_spark.sources.lzw import lzw_encode_pdf

            strips.append(lzw_encode_pdf(raw))
        elif compression == "packbits":
            # literal-only PackBits (valid, if uncompressed)
            enc = bytearray()
            for i in range(0, len(raw), 128):
                chunk = raw[i : i + 128]
                enc += bytes([len(chunk) - 1]) + chunk
            strips.append(bytes(enc))
        else:
            strips.append(raw)
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773}[compression]
    n_strips = len(strips)
    # layout: header(8) | strip data | bits array | offsets | counts | IFD
    pos = 8
    strip_offs = []
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    bits_at = pos
    pos += 6
    offs_at, cnts_at = pos, pos + 4 * n_strips
    pos += 8 * n_strips
    ifd_at = pos

    def entry(tag: int, typ: int, cnt: int, val: int) -> bytes:
        return struct.pack("<HHII", tag, typ, cnt, val)

    ents = [
        entry(256, 3, 1, w),
        entry(257, 3, 1, h),
        entry(258, 3, 3, bits_at),
        entry(259, 3, 1, comp_tag),
        entry(262, 3, 1, 2),
        entry(273, 4, n_strips, strip_offs[0] if n_strips == 1 else offs_at),
        entry(277, 3, 1, 3),
        entry(278, 3, 1, rps),
        entry(279, 4, n_strips, len(strips[0]) if n_strips == 1 else cnts_at),
        entry(317, 3, 1, predictor),
    ]
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    for s in strips:
        out += s
    out += struct.pack("<3H", 8, 8, 8)
    out += struct.pack("<%dI" % n_strips, *strip_offs)
    out += struct.pack("<%dI" % n_strips, *[len(s) for s in strips])
    out += struct.pack("<H", len(ents)) + b"".join(ents) + struct.pack("<I", 0)
    return bytes(out)


def encode_bilevel_tiff(
    bitmap: np.ndarray,
    compression: str = "g4",
    rows_per_strip: int | None = None,
    photometric: int = 0,
) -> bytes:
    """Minimal bilevel (1-bit) little-endian strip TIFF writer — the
    encoder twin of decode_tiff's CCITT branch (fixtures and
    round-trip tests): ``compression`` one of ``"mh"`` (tag 2, G3 MH
    with byte-aligned rows), ``"g3_1d"`` / ``"g3_2d"`` (tag 3 with
    T4Options bit 0 selecting 2-D), ``"g4"`` (tag 4).  ``bitmap`` is
    display-black=True; ``photometric`` 1 inverts the stored run sense
    the way the decoder expects."""
    import struct

    from knowledge_model_spark.sources.ccitt import (
        g3_1d_encode,
        g3_mixed_encode,
        g4_encode,
    )

    bitmap = np.asarray(bitmap, bool)
    h, w = bitmap.shape
    rps = rows_per_strip or h
    sense = bitmap if photometric == 0 else ~bitmap
    strips: list[bytes] = []
    for y0 in range(0, h, rps):
        blk = sense[y0 : y0 + rps]
        if compression == "mh":
            strips.append(g3_1d_encode(blk, byte_align=True))
        elif compression == "g3_1d":
            strips.append(g3_1d_encode(blk, with_eol=True))
        elif compression == "g3_2d":
            strips.append(g3_mixed_encode(blk, k=4))
        elif compression == "g4":
            strips.append(g4_encode(blk))
        else:
            raise ValueError(f"unknown bilevel compression {compression!r}")
    comp_tag = {"mh": 2, "g3_1d": 3, "g3_2d": 3, "g4": 4}[compression]
    n_strips = len(strips)
    pos = 8
    strip_offs = []
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    offs_at, cnts_at = pos, pos + 4 * n_strips
    pos += 8 * n_strips
    ifd_at = pos

    def entry(tag: int, typ: int, cnt: int, val: int) -> bytes:
        return struct.pack("<HHII", tag, typ, cnt, val)

    def dim_entry(tag: int, val: int) -> bytes:
        # SHORT silently wraps at 65536 (the 4-byte field holds the
        # value, but a conforming reader takes only 2 bytes for type
        # 3) — emit LONG for large dimensions, SHORT otherwise
        return entry(tag, 4 if val > 0xFFFF else 3, 1, val)

    ents = [
        dim_entry(256, w),
        dim_entry(257, h),
        entry(258, 3, 1, 1),
        entry(259, 3, 1, comp_tag),
        entry(262, 3, 1, photometric),
        entry(273, 4, n_strips, strip_offs[0] if n_strips == 1 else offs_at),
        entry(277, 3, 1, 1),
        dim_entry(278, rps),
        entry(279, 4, n_strips, len(strips[0]) if n_strips == 1 else cnts_at),
    ]
    if comp_tag == 3:
        ents.append(entry(292, 4, 1, 1 if compression == "g3_2d" else 0))
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    for s in strips:
        out += s
    out += struct.pack("<%dI" % n_strips, *strip_offs)
    out += struct.pack("<%dI" % n_strips, *[len(s) for s in strips])
    out += struct.pack("<H", len(ents)) + b"".join(ents) + struct.pack("<I", 0)
    return bytes(out)


_EXIF_IFD0_TAGS = {271: "make", 272: "model", 274: "orientation", 306: "datetime"}
_EXIF_SUB_TAGS = {33434: "exposure", 34855: "iso", 40962: "pixel_x", 40963: "pixel_y"}
_EXIF_POINTER_TAG = 34665


def _parse_tiff_ifd(b: bytes, e: str, off: int) -> dict[int, tuple]:
    """One TIFF IFD at ``off`` → {tag: value-tuple}.  Types BYTE/ASCII/
    SHORT/LONG/RATIONAL; anything else (or any out-of-bounds offset) is
    skipped, never raised — EXIF blocks in the wild are routinely
    truncated and a metadata scan must not fail the row."""
    import struct

    if off + 2 > len(b):
        return {}
    (n_ent,) = struct.unpack(e + "H", b[off : off + 2])
    tags: dict[int, tuple] = {}
    for i in range(n_ent):
        ent = b[off + 2 + 12 * i : off + 14 + 12 * i]
        if len(ent) < 12:
            break
        tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
        size = _TIFF_TYPE_SIZE.get(typ, 0) * cnt
        if size == 0 or cnt > 1 << 20:
            continue
        if size <= 4:
            raw = ent[8 : 8 + size]
        else:
            (voff,) = struct.unpack(e + "I", ent[8:12])
            raw = b[voff : voff + size]
            if len(raw) < size:
                continue
        if typ == 2:  # ASCII, NUL-terminated
            tags[tag] = (raw.split(b"\0", 1)[0].decode("ascii", "replace"),)
        elif typ == 3:
            tags[tag] = struct.unpack(e + "%dH" % cnt, raw)
        elif typ == 4:
            tags[tag] = struct.unpack(e + "%dI" % cnt, raw)
        elif typ == 5:  # RATIONAL: (num, den) pairs
            vals = struct.unpack(e + "%dI" % (2 * cnt), raw)
            tags[tag] = tuple(zip(vals[0::2], vals[1::2]))
        elif typ == 1:
            tags[tag] = tuple(raw)
    return tags


def parse_exif(b: bytes) -> dict | None:
    """EXIF metadata from a JPEG (APP1 "Exif\\0\\0" segment) or a bare
    TIFF byte string → flat dict, or None when no EXIF block exists.

    Fields: byte_order ("II"/"MM"), make, model, orientation, datetime
    (IFD0) and iso, pixel_x, pixel_y, exposure_num/exposure_den (Exif
    sub-IFD via tag 34665).  Absent tags are None.  Malformed payloads
    degrade to partial dicts or None — never an exception (same honest
    contract as every decoder in this module).  The training-pipeline
    use is metadata-conditioned filtering/sampling (orientation
    normalization, capture-time splits) without decoding pixels.
    """
    import struct

    tiff = None
    if b[:2] == b"\xff\xd8":  # JPEG: scan segments for the EXIF APP1
        pos = 2
        while pos + 2 <= len(b) and b[pos] == 0xFF:
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte — resync on the next 0xFF
                pos += 1
                continue
            # standalone markers carry NO length field (TEM, RSTn, SOI)
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2
                continue
            if pos + 4 > len(b):
                break
            ln = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
            if marker == 0xE1 and b[pos + 4 : pos + 10] == b"Exif\x00\x00":
                tiff = b[pos + 10 : pos + 2 + ln]
                break
            if marker == 0xDA:  # start of scan — no more metadata
                break
            pos += 2 + ln
    elif b[:2] in (b"II", b"MM"):
        tiff = b
    if tiff is None or len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
        return None
    e = "<" if tiff[:2] == b"II" else ">"
    if struct.unpack(e + "H", tiff[2:4])[0] != 42:
        return None
    (ifd0_off,) = struct.unpack(e + "I", tiff[4:8])
    ifd0 = _parse_tiff_ifd(tiff, e, ifd0_off)
    out: dict = {"byte_order": tiff[:2].decode()}
    for tag, name in _EXIF_IFD0_TAGS.items():
        v = ifd0.get(tag)
        out[name] = v[0] if v else None
    sub: dict[int, tuple] = {}
    # type-confused pointers (a bitflipped type field can make the value
    # a str or rational tuple) must degrade, not raise — the
    # never-raises contract
    ptr = ifd0.get(_EXIF_POINTER_TAG, (None,))[0]
    if isinstance(ptr, int):
        sub = _parse_tiff_ifd(tiff, e, ptr)
    for tag, name in _EXIF_SUB_TAGS.items():
        v = sub.get(tag)
        out[name] = v[0] if v else None
    exp = out.pop("exposure", None)
    if isinstance(exp, tuple) and len(exp) == 2:
        out["exposure_num"], out["exposure_den"] = int(exp[0]), int(exp[1])
    else:  # absent, or type-confused into a scalar/str
        out["exposure_num"], out["exposure_den"] = None, None
    return out


def build_exif_app1(fields: dict, endian: str = "<") -> bytes:
    """Encoder twin of :func:`parse_exif`: EXIF fields → an APP1 segment
    body ("Exif\\0\\0" + TIFF block with IFD0 and the Exif sub-IFD).
    Layout: header(8) | IFD0 | ExifIFD | value area.  Both byte orders,
    so the parser's "MM" path has a genuine producer in tests."""
    import struct

    e = endian
    order = b"II" if e == "<" else b"MM"

    def ifd0_entries():
        ents = []
        for tag, name in sorted(_EXIF_IFD0_TAGS.items()):
            v = fields.get(name)
            if v is None:
                continue
            if isinstance(v, str):
                ents.append((tag, 2, v.encode("ascii") + b"\0"))
            else:
                ents.append((tag, 3, struct.pack(e + "H", int(v))))
        return ents

    def sub_entries():
        ents = []
        if fields.get("exposure_num") is not None:
            ents.append(
                (33434, 5, struct.pack(
                    e + "II",
                    int(fields["exposure_num"]), int(fields["exposure_den"]),
                ))
            )
        for tag, name in ((34855, "iso"),):
            if fields.get(name) is not None:
                ents.append((tag, 3, struct.pack(e + "H", int(fields[name]))))
        for tag, name in ((40962, "pixel_x"), (40963, "pixel_y")):
            if fields.get(name) is not None:
                ents.append((tag, 4, struct.pack(e + "I", int(fields[name]))))
        return ents

    i0, i1 = ifd0_entries(), sub_entries()
    n0 = len(i0) + 1  # + the ExifIFD pointer entry
    ifd0_at = 8
    sub_at = ifd0_at + 2 + 12 * n0 + 4
    val_at = sub_at + 2 + 12 * len(i1) + 4
    values = bytearray()

    def pack_entries(ents, extra=()):
        nonlocal values
        packed = []
        for tag, typ, raw in ents:
            cnt = len(raw) // _TIFF_TYPE_SIZE[typ] if typ != 2 else len(raw)
            if typ == 5:
                cnt = len(raw) // 8
            if len(raw) <= 4:
                field = raw + b"\0" * (4 - len(raw))
            else:
                field = struct.pack(e + "I", val_at + len(values))
                values += raw
            packed.append(struct.pack(e + "HHI", tag, typ, cnt) + field)
        for tag, typ, cnt, val in extra:
            packed.append(
                struct.pack(e + "HHI", tag, typ, cnt) + struct.pack(e + "I", val)
            )
        packed.sort(key=lambda p: struct.unpack(e + "H", p[:2])[0])
        return packed

    p0 = pack_entries(i0, extra=[(_EXIF_POINTER_TAG, 4, 1, sub_at)])
    p1 = pack_entries(i1)
    tiff = bytearray(order + struct.pack(e + "HI", 42, ifd0_at))
    tiff += struct.pack(e + "H", len(p0)) + b"".join(p0) + struct.pack(e + "I", 0)
    tiff += struct.pack(e + "H", len(p1)) + b"".join(p1) + struct.pack(e + "I", 0)
    tiff += values
    return b"Exif\x00\x00" + bytes(tiff)


def insert_jpeg_app1(jpeg: bytes, app1_body: bytes) -> bytes:
    """Insert an APP1 segment right after SOI — where camera firmware
    writes it (CIPA DC-008 §4.5.4)."""
    import struct

    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    return jpeg[:2] + seg + jpeg[2:]


def decode_image_any(b: bytes) -> np.ndarray | None:
    """Try every in-container REAL image codec in cheapest-probe order
    (each starts with a magic-byte check): Netpbm P1-P6, BMP, PNG, GIF,
    TIFF (strips; LZW via the shared early-change core), Sun Raster,
    SGI, and sequential+progressive JPEG (sources/jpeg.py — pure
    numpy/stdlib)."""
    from knowledge_model_spark.sources.jpeg import decode_jpeg

    for dec in (decode_ppm, decode_bmp, decode_png, decode_gif,
                decode_tiff, decode_ras, decode_sgi, decode_xbm,
                decode_jpeg):
        img = dec(b)
        if img is not None:
            return img
    return None


def _mulaw_expand(u: np.ndarray) -> np.ndarray:
    """ITU-T G.711 μ-law byte → float32 in [-1, 1] (table formula:
    complement, then mantissa/exponent expand with the +33 bias)."""
    u = (~u) & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant.astype(np.int32) << 1) + 33) << exp) - 33
    out = np.where(sign, -mag, mag).astype(np.float32)
    return out / 8031.0  # max magnitude of the expansion


def _alaw_expand(a: np.ndarray) -> np.ndarray:
    """ITU-T G.711 A-law byte → float32 in [-1, 1] (0x55 toggle, then
    segment expand)."""
    a = a ^ 0x55
    sign = (a & 0x80) != 0
    exp = (a >> 4) & 0x07
    mant = (a & 0x0F).astype(np.int32)
    mag = np.where(
        exp == 0,
        (mant << 1) + 1,
        ((mant << 1) + 33) << (exp - 1),
    )
    # NOTE the inverted sign convention vs μ-law: after the 0x55
    # toggle, a SET sign bit means POSITIVE (CCITT alaw2lin)
    out = np.where(sign, mag, -mag).astype(np.float32)
    return out / 4032.0  # max magnitude of the expansion


# IMA ADPCM tables (IMA ADPCM reference / audioop's stepsizeTable)
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_adpcm_run(nibbles, pred: int, index: int):
    """Decode a run of IMA ADPCM nibbles from (pred, index) state;
    returns (samples, pred, index).  Identical arithmetic to audioop's
    Intel/DVI adpcm2lin (the conformance oracle in tests); WAV-IMA
    merely frames it into blocks with a (pred, index) header and packs
    the FIRST sample in the LOW nibble where audioop packs it high."""
    out = []
    for delta in nibbles:
        step = _IMA_STEPS[index]
        diff = step >> 3
        if delta & 4:
            diff += step
        if delta & 2:
            diff += step >> 1
        if delta & 1:
            diff += step >> 2
        pred = pred - diff if delta & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX[delta & 7]))
        out.append(pred)
    return out, pred, index


def _decode_wav_ima_adpcm(data: bytes, block_align: int, channels: int):
    """WAV-IMA ADPCM (fmt 0x11) data chunk → mono float32 waveform.
    Each block: per-channel 4-byte header (pred int16 — which IS the
    block's first output sample — index uint8, reserved), then nibble
    data in 4-byte-per-channel interleave; low nibble first."""
    import struct

    if block_align <= 4 * channels:
        return None
    per_ch: list[list[int]] = [[] for _ in range(channels)]
    for off in range(0, len(data) - (4 * channels) + 1, block_align):
        block = data[off : off + block_align]
        if len(block) < 4 * channels:
            break
        states = []
        for ch in range(channels):
            pred = struct.unpack_from("<h", block, ch * 4)[0]
            index = min(88, block[ch * 4 + 2])
            per_ch[ch].append(pred)
            states.append((pred, index))
        body = block[4 * channels :]
        # data interleaves 4-byte (8-nibble) words per channel
        for word_at in range(0, len(body) - 3, 4 * channels):
            for ch in range(channels):
                chunk = body[word_at + ch * 4 : word_at + ch * 4 + 4]
                nibbles = []
                for byte in chunk:
                    nibbles.append(byte & 0x0F)  # low nibble FIRST
                    nibbles.append(byte >> 4)
                pred, index = states[ch]
                decoded, pred, index = _ima_adpcm_run(nibbles, pred, index)
                states[ch] = (pred, index)
                per_ch[ch].extend(decoded)
    if not per_ch[0]:
        return None
    n = min(len(c) for c in per_ch)
    stacked = np.stack([np.array(c[:n], np.float32) for c in per_ch])
    return stacked.mean(axis=0) / 32768.0


def decode_wav_pcm16(b: bytes) -> tuple[np.ndarray, int] | None:
    """RIFF WAV → (mono float32 waveform in [-1,1], sample_rate).

    Formats: PCM 8 (unsigned) / 16 / 24 / 32-bit (fmt 1; 8/24/32
    anchored against the stdlib's externally-written pluck-pcm*.wav),
    IEEE float32 (fmt 3), G.711 A-law (fmt 6) and μ-law (fmt 7), and
    IMA ADPCM (fmt 0x11) — the encodings stdlib arithmetic decodes
    exactly; stereo downmixes by mean; None for anything else
    (MS-ADPCM/MP3-in-WAV remain the librosa/ffmpeg seam)."""
    import struct

    if not b or not b.startswith(b"RIFF") or b[8:12] != b"WAVE":
        return None
    i = 12
    data = rate = channels = audio_fmt = None
    block_align = 0
    bps = 16
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack_from("<I", b, i + 4)[0]
        body = b[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                return None
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            block_align = struct.unpack_from("<H", body, 12)[0]
            bps = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt == 0xFFFE and len(body) >= 26:
                # WAVE_FORMAT_EXTENSIBLE: the real format is the first
                # two bytes of the SubFormat GUID (pluck-pcm24-ext.wav)
                audio_fmt = struct.unpack_from("<H", body, 24)[0]
            if audio_fmt == 1 and bps not in (8, 16, 24, 32):
                return None
            if audio_fmt == 3 and bps != 32:
                return None  # float64 WAV: seam
            if audio_fmt not in (1, 3, 6, 7, 0x11):
                return None
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks pad to even
    if data is None or rate is None:
        return None
    if audio_fmt == 0x11:  # IMA ADPCM: blocks decode + downmix inside
        wave = _decode_wav_ima_adpcm(data, block_align, max(1, channels or 1))
        return None if wave is None else (wave, int(rate))
    if audio_fmt == 1:
        wave = _pcm_to_float(data, bps, "<", unsigned8=True)
        if wave is None:
            return None
    elif audio_fmt == 3:  # IEEE float32, already in [-1, 1]
        wave = np.frombuffer(
            data[: len(data) - len(data) % 4], dtype="<f4"
        ).astype(np.float32)
    elif audio_fmt == 6:
        wave = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
    else:  # 7: μ-law
        wave = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    if channels and channels > 1:
        n = (len(wave) // channels) * channels
        wave = wave[:n].reshape(-1, channels).mean(axis=1)
    return wave, int(rate)


def _pcm_to_float(
    data: bytes, bps: int, endian: str, unsigned8: bool = False
) -> np.ndarray | None:
    """Integer PCM bytes → float32 in [-1, 1].  ``endian`` is '<' or
    '>'; WAV's 8-bit is unsigned, AIFF/AU's is signed.  A trailing
    partial sample (truncated file) is dropped, not crashed on."""
    if bps in (16, 24, 32):
        data = data[: len(data) - len(data) % (bps // 8)]
    if bps == 8:
        x = np.frombuffer(data, np.uint8).astype(np.float32)
        return (x - 128.0) / 128.0 if unsigned8 else (
            np.frombuffer(data, np.int8).astype(np.float32) / 128.0
        )
    if bps == 16:
        return np.frombuffer(data, f"{endian}i2").astype(np.float32) / 32768.0
    if bps == 24:
        n = len(data) // 3
        raw = np.frombuffer(data, np.uint8, count=n * 3).reshape(n, 3)
        if endian == "<":
            x = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
        else:
            x = (
                raw[:, 2].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 0].astype(np.int32) << 16)
            )
        x = (x ^ 0x800000) - 0x800000  # sign-extend 24 bits
        return x.astype(np.float32) / 8388608.0
    if bps == 32:
        return np.frombuffer(data, f"{endian}i4").astype(np.float32) / 2147483648.0
    return None


def _downmix(wave: np.ndarray, channels: int) -> np.ndarray:
    if channels > 1:
        n = (len(wave) // channels) * channels
        wave = wave[:n].reshape(-1, channels).mean(axis=1).astype(np.float32)
    return wave


def decode_aiff(b: bytes) -> tuple[np.ndarray, int] | None:
    """AIFF / AIFF-C → (mono float32 waveform in [-1,1], sample_rate):
    big-endian PCM 8/16/24/32 (AIFF-C 'NONE'/'sowt' too) plus G.711
    'ulaw'/'alaw' AIFC, COMM's 80-bit extended-float sample rate parsed
    exactly.  Anchored against the stdlib's externally-written
    pluck-pcm*.aiff / pluck-*.aifc vs their WAV twins."""
    import struct

    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF", b"AIFC"):
        return None
    is_aifc = b[8:12] == b"AIFC"
    i = 12
    channels = bps = rate = None
    comp = b"NONE"
    ssnd = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack_from(">I", b, i + 4)[0]
        body = b[i + 8 : i + 8 + size]
        if cid == b"COMM":
            if len(body) < 18:
                return None
            channels, _nframes, bps = struct.unpack_from(">HIH", body, 0)
            ext = body[8:18]  # 80-bit extended float sample rate
            sign = ext[0] >> 7
            exp = ((ext[0] & 0x7F) << 8 | ext[1]) - 16383
            mant = int.from_bytes(ext[2:10], "big")
            if mant == 0:
                return None
            rate = int(round((-1 if sign else 1) * mant * 2.0 ** (exp - 63)))
            if is_aifc and len(body) >= 22:
                comp = body[18:22]
        elif cid == b"SSND":
            if len(body) < 8:
                return None
            off = struct.unpack_from(">I", body, 0)[0]
            ssnd = body[8 + off :]
        i += 8 + size + (size & 1)
    if ssnd is None or rate is None or channels is None:
        return None
    if comp in (b"NONE", b"none"):
        wave = _pcm_to_float(ssnd, bps, ">")
    elif comp == b"sowt":  # little-endian PCM AIFC
        wave = _pcm_to_float(ssnd, bps, "<")
    elif comp in (b"ulaw", b"ULAW"):
        wave = _mulaw_expand(np.frombuffer(ssnd, np.uint8))
    elif comp in (b"alaw", b"ALAW"):
        wave = _alaw_expand(np.frombuffer(ssnd, np.uint8))
    else:
        return None  # exotic AIFC compressor: seam
    if wave is None:
        return None
    return _downmix(wave, channels), int(rate)


def decode_au(b: bytes) -> tuple[np.ndarray, int] | None:
    """Sun/NeXT .au/.snd → (mono float32 waveform in [-1,1], rate):
    encodings 1 (G.711 μ-law), 2/3/4/5 (signed PCM 8/16/24/32,
    big-endian), 27 (A-law).  Anchored against the stdlib's
    pluck-*.au vs their WAV twins."""
    import struct

    if len(b) < 24 or b[:4] != b".snd":
        return None
    _, off, _size, enc, rate, channels = struct.unpack(">6I", b[:24])
    if off < 24 or off > len(b) or channels < 1:
        return None
    data = b[off:]
    if enc == 1:
        wave = _mulaw_expand(np.frombuffer(data, np.uint8))
    elif enc in (2, 3, 4, 5):
        wave = _pcm_to_float(data, 8 * (enc - 1), ">")
    elif enc == 27:
        wave = _alaw_expand(np.frombuffer(data, np.uint8))
    else:
        return None  # float/double/ADPCM .au: seam
    if wave is None:
        return None
    return _downmix(wave, channels), int(rate)


def encode_simple_aiff(
    pcm16: np.ndarray, rate: int, sowt: bool = False
) -> bytes:
    """Minimal mono PCM-16 AIFF writer (fixtures): plain big-endian
    AIFF, or AIFF-C 'sowt' (little-endian) when ``sowt``."""
    import struct

    n = len(pcm16)
    nbits = max(1, int(rate).bit_length())
    ext = struct.pack(
        ">HQ", 16383 + nbits - 1, (int(rate) << (64 - nbits)) & (2**64 - 1)
    )
    comm = struct.pack(">HIH", 1, n, 16) + ext
    if sowt:
        # AIFC: compression type + empty pstring name (len 0 + pad)
        comm += b"sowt\x00\x00"
        data = pcm16.astype("<i2").tobytes()
        form_type = b"AIFC"
    else:
        data = pcm16.astype(">i2").tobytes()
        form_type = b"AIFF"
    ssnd = struct.pack(">II", 0, 0) + data
    chunks = b""
    if sowt:
        chunks += b"FVER" + struct.pack(">II", 4, 0xA2805140)
    chunks += b"COMM" + struct.pack(">I", len(comm)) + comm
    chunks += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + form_type + chunks


def encode_simple_au(pcm: np.ndarray, rate: int, bps: int = 16) -> bytes:
    """Minimal mono signed-PCM Sun .au writer (fixtures): 8/16/24/32."""
    import struct

    if bps == 24:
        x = pcm.astype(np.int32)
        data = b"".join(
            int(v).to_bytes(3, "big", signed=True) for v in x
        )
    else:
        data = pcm.astype(f">i{bps // 8}").tobytes()
    enc = {8: 2, 16: 3, 24: 4, 32: 5}[bps]
    return struct.pack(
        ">4s5I", b".snd", 24, len(data), enc, int(rate), 1
    ) + data


def decode_audio_any(b: bytes) -> tuple[np.ndarray, int] | None:
    """Try every in-container REAL audio codec in magic-byte order:
    RIFF WAV, AIFF/AIFF-C, Sun .au, FLAC (r11, sources/flac.py)."""
    from knowledge_model_spark.sources.flac import decode_flac

    for dec in (decode_wav_pcm16, decode_aiff, decode_au, decode_flac):
        out = dec(b)
        if out is not None:
            return out
    return None


def decode_avi_frames(b: bytes) -> tuple[list[np.ndarray], float] | None:
    """RIFF AVI video demux → (frames as (H, W, 3) uint8 RGB, fps):
    uncompressed DIB ('00db' chunks, 24-bit BI_RGB bottom-up BGR rows
    padded to 4 bytes — the BMP raster) and — r8, r7 verdict item 5 —
    MJPEG ('00dc' chunks whose body is a complete JPEG file, decoded
    by the in-repo sources/jpeg.py; pure composition of the existing
    demux and the existing JPEG decoder).  None for non-AVI payloads,
    other compressed codecs ('00dc' without a JPEG SOI: H.264/VP9 —
    the ffmpeg seam), or an MJPEG clip ANY of whose frames fails to
    decode (skipping it would misalign every later frame index).

    This makes video demux REAL in-container for the two container
    layouts stdlib+numpy arithmetic can parse; real-world H.264/VP9
    stays on the ffmpeg seam, same rule as arithmetic-coded JPEG.
    """
    import struct

    if not b or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    us_per_frame = w = h = None
    bad_jpeg = False  # a frame we RECOGNIZED but could not decode

    def walk(start: int, end: int):
        nonlocal us_per_frame, w, h, bad_jpeg
        frames: list[np.ndarray] = []
        i = start
        while i + 8 <= end:
            cid = b[i : i + 4]
            size = struct.unpack_from("<I", b, i + 4)[0]
            body_at = i + 8
            if cid == b"LIST":
                frames += walk(body_at + 4, body_at + size)
            elif cid == b"avih" and size >= 40:
                us_per_frame = struct.unpack_from("<I", b, body_at)[0]
                w, h = struct.unpack_from("<ii", b, body_at + 32)
            elif cid.endswith(b"db") and w and h:
                row = (w * 3 + 3) & ~3
                need = row * abs(h)
                if size >= need:
                    rows = np.frombuffer(
                        b, np.uint8, need, body_at
                    ).reshape(abs(h), row)
                    img = rows[:, : w * 3].reshape(abs(h), w, 3)[..., ::-1]
                    frames.append(img[::-1] if h > 0 else img)
            elif (
                cid.endswith(b"dc")
                and b[body_at : body_at + 2] == b"\xff\xd8"
            ):
                from knowledge_model_spark.sources.jpeg import decode_jpeg

                img = decode_jpeg(bytes(b[body_at : body_at + size]))
                if img is not None:
                    frames.append(img)
                else:
                    # honest refusal: silently skipping a recognized
                    # MJPEG frame would misalign every later frame
                    # index/timestamp (sample_frames maps sampled
                    # times onto list positions)
                    bad_jpeg = True
            i = body_at + size + (size & 1)  # chunks pad to even
        return frames

    frames = walk(12, len(b))
    if bad_jpeg or not frames or not us_per_frame:
        return None
    return frames, 1e6 / us_per_frame


def encode_simple_avi(
    frames: list[np.ndarray],
    fps: float = 10.0,
    codec: str = "dib",
    quality: int = 90,
) -> bytes:
    """Minimal well-formed AVI writer (fixtures): avih + one 'vids'
    stream header + frame chunks, the layout :func:`decode_avi_frames`
    and any standard player read.  ``codec`` ``"dib"`` writes
    uncompressed '00db' BGR rasters; ``"mjpg"`` (r8) writes Motion
    JPEG — each frame a complete JPEG file in a '00dc' chunk, encoded
    by the in-repo sources/jpeg.py at ``quality``."""
    import struct

    h, w = frames[0].shape[:2]
    row = (w * 3 + 3) & ~3
    us = int(round(1e6 / fps))

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(typ: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", typ + body)

    if codec == "mjpg":
        from knowledge_model_spark.sources.jpeg import encode_jpeg

        payloads = [encode_jpeg(np.ascontiguousarray(f[..., :3]), quality)
                    for f in frames]
        fourcc, strf_comp, cid = b"MJPG", struct.unpack("<I", b"MJPG")[0], b"00dc"
        buf_size = max(len(p) for p in payloads)
    elif codec == "dib":
        payloads = None
        fourcc, strf_comp, cid = b"DIB ", 0, b"00db"
        buf_size = row * h
    else:
        raise ValueError(f"unknown AVI codec {codec!r}")

    avih = struct.pack(
        "<10I", us, buf_size * int(fps), 0, 0x10, len(frames), 0, 1,
        buf_size, w, h,
    ) + b"\x00" * 16
    strh = (
        b"vids" + fourcc + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1,
        int(round(fps)), 0, len(frames), buf_size, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, strf_comp, buf_size, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b""
    if codec == "mjpg":
        for p in payloads:
            movi_body += chunk(cid, p)
    else:
        for f in frames:
            raster = bytearray()
            for y in range(h - 1, -1, -1):  # bottom-up BGR, rows pad to 4
                r = f[y][:, ::-1].tobytes()
                raster += r + b"\x00" * (row - len(r))
            movi_body += chunk(cid, bytes(raster))
    movi = lst(b"movi", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _real_image_features(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an image and compute REAL pixel statistics: per-channel
    means/stds, luminance mean/std, 8-bin luma histogram — exactly
    FEATURE_DIM values, all in [0, 1]."""
    img = decode_image_any(payload)
    if img is None:
        raise NotImplementedError(
            "exotic formats (arithmetic/lossless JPEG, …) require Pillow — "
            "not in container; REAL decode supports P6 PPM, 24-bit BMP, "
            "8-bit PNG, GIF, and sequential+progressive JPEG"
        )
    x = img.astype(np.float64) / 255.0
    luma = 0.2126 * x[..., 0] + 0.7152 * x[..., 1] + 0.0722 * x[..., 2]
    hist, _ = np.histogram(luma, bins=8, range=(0.0, 1.0))
    hist = hist / max(1, luma.size)
    vec = np.concatenate(
        [
            x.reshape(-1, 3).mean(axis=0),
            x.reshape(-1, 3).std(axis=0),
            [float(luma.mean()), float(luma.std())],
            hist,
        ]
    ).astype(np.float32)
    return int(img.shape[1]), int(img.shape[0]), vec


def _stub_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic pseudo-embedding of a binary payload: sha256-seeded
    byte statistics.  Stands in for a real image encoder."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4], dtype=np.uint32)
    vec = (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)
    n = float(np.linalg.norm(vec))
    return vec / n if n else vec


def image_features(media: DataFrame, decode: str = "DETERMINISTIC") -> DataFrame:
    """media(media_id, payload, width, height, …) → per-image features.

    REAL mode is the seam where PIL/torchvision would decode; the
    surrounding plan (Arrow batching, schema, partition parallelism) is
    identical in both modes.
    """
    if decode not in ("DETERMINISTIC", "REAL"):
        raise ValueError("decode must be DETERMINISTIC or REAL")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "REAL":
                # genuine decode (PPM/BMP/PNG/GIF): dimensions come from
                # the pixel data, features are real image statistics
                trip = pdf["payload"].map(_real_image_features)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "width": trip.map(lambda t: t[0]).astype("int32"),
                        "height": trip.map(lambda t: t[1]).astype("int32"),
                        "n_bytes": pdf["payload"].map(
                            lambda b: len(b) if b is not None else 0
                        ),
                        "features": trip.map(lambda t: t[2].tolist()),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"].fillna(0).astype("int32"),
                    "height": pdf["height"].fillna(0).astype("int32"),
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "features": pdf["payload"].map(
                        lambda b: _stub_features(b).tolist()
                    ),
                }
            )

    cols = ["media_id", "payload", "width", "height"]
    return media.select(*cols).mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def sample_avi_frames_real(
    payload: bytes, every_ms: int
) -> list[tuple[int, int, bytes]]:
    """REAL demux of one AVI payload → [(frame_index, ts_ms, P6-PPM
    bytes)] sampled every ``every_ms``.  Shared by :func:`sample_frames`
    and fused mux→demux kernels that keep the container bytes inside one
    Python stage (the video payload is the heavy column — callers that
    produce AND demux it in the same task never ship it across the
    JVM↔Python boundary at all)."""
    decoded = decode_avi_frames(payload)
    if decoded is None:
        raise NotImplementedError(
            "compressed video (H.264/VP9/...) requires ffmpeg — not in "
            "container; REAL demux supports uncompressed-DIB AVI"
        )
    frames, fps = decoded
    n_total = len(frames)
    dur_ms = n_total * 1000.0 / fps
    out: list[tuple[int, int, bytes]] = []
    i = 0
    t = 0.0
    while t < dur_ms:
        k = min(n_total - 1, int(t * fps / 1000.0))
        img = frames[k]
        h, w = img.shape[:2]
        ppm = b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img).tobytes()
        out.append((i, int(t), ppm))
        i += 1
        t += every_ms
    return out


def sample_frames(
    media: DataFrame, every_ms: int = 1000, decode: str = "DETERMINISTIC"
) -> DataFrame:
    """video rows → one row per sampled frame (1-to-N mapInPandas).

    DETERMINISTIC mode slices the payload bytes per frame index so batch
    shapes and row explosion are real.  REAL mode genuinely demuxes
    uncompressed-DIB AVI (:func:`decode_avi_frames`) and emits each
    sampled frame re-encoded as P6 PPM — a payload the downstream REAL
    image kernels decode, so video→frame→features composes end to end
    in-container; compressed codecs raise at the ffmpeg seam.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_index": [],
                "frame_ts_ms": [],
                "frame_payload": [],
            }
            for _, row in pdf.iterrows():
                if decode == "REAL":
                    for i, ts, ppm in sample_avi_frames_real(
                        row["payload"] or b"", every_ms
                    ):
                        out["media_id"].append(row["media_id"])
                        out["frame_index"].append(i)
                        out["frame_ts_ms"].append(ts)
                        out["frame_payload"].append(ppm)
                    continue
                duration = int(row["duration_ms"] or 0)
                payload = row["payload"] or b""
                n_frames = max(1, duration // every_ms)
                step = max(1, len(payload) // n_frames) if payload else 1
                for i in range(n_frames):
                    out["media_id"].append(row["media_id"])
                    out["frame_index"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    out["frame_payload"].append(payload[i * step : (i + 1) * step])
            yield pd.DataFrame(out)

    cols = ["media_id", "payload", "duration_ms"]
    return media.select(*cols).mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


AUDIO_WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_index", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("rms", T.FloatType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def audio_features(
    media: DataFrame, window_ms: int = 500, decode: str = "DETERMINISTIC"
) -> DataFrame:
    """audio rows → one row per analysis window with waveform statistics
    (RMS energy, zero-crossing count) — the 1-to-N windowed shape every
    audio featurizer (VAD, language-ID, loudness normalization) uses.

    DETERMINISTIC mode treats the payload bytes as an int8 waveform
    sliced into ``window_ms`` windows scaled by ``duration_ms``, so batch
    shapes, explosion factors, and numeric kernels are real; REAL mode is
    the librosa/ffmpeg seam (not in this container).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "window_index": [],
                "start_ms": [],
                "rms": [],
                "zero_crossings": [],
            }
            for _, row in pdf.iterrows():
                if decode == "REAL":
                    # genuine numpy decode: windows cut by the REAL
                    # sample rate; WAV, AIFF/AIFC, and .au all route
                    decoded = decode_audio_any(row["payload"] or b"")
                    if decoded is None:
                        raise NotImplementedError(
                            "compressed audio (MP3/OGG/…) requires librosa/"
                            "ffmpeg — not in container; REAL decode supports "
                            "WAV/AIFF/AIFC/.au (PCM, float32, G.711, ADPCM)"
                        )
                    wave, rate = decoded
                    step = max(1, rate * window_ms // 1000)
                    n_win = max(1, -(-len(wave) // step))  # ceil
                else:
                    duration = int(row["duration_ms"] or 0)
                    wave = np.frombuffer(row["payload"] or b"", dtype=np.int8).astype(
                        np.float32
                    )
                    n_win = max(1, duration // window_ms)
                    step = max(1, len(wave) // n_win) if len(wave) else 1
                for i in range(n_win):
                    w = wave[i * step : (i + 1) * step]
                    rms = float(np.sqrt(np.mean(w**2))) if len(w) else 0.0
                    zc = int(((w[:-1] * w[1:]) < 0).sum()) if len(w) > 1 else 0
                    out["media_id"].append(row["media_id"])
                    out["window_index"].append(i)
                    out["start_ms"].append(i * window_ms)
                    out["rms"].append(rms)
                    out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    cols = ["media_id", "payload", "duration_ms"]
    return media.select(*cols).mapInPandas(kernel, AUDIO_WINDOWS_SCHEMA)


def make_synthetic_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic synthetic media table for tests (payload bytes derive
    from media_id)."""
    rows = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.col("id"), F.lit(4)) * 160 + 320).cast("int").alias("width"),
        (F.pmod(F.col("id"), F.lit(3)) * 120 + 240).cast("int").alias("height"),
        (F.pmod(F.col("id"), F.lit(7)) * 1000 + 3000).alias("duration_ms"),
        F.create_map(F.lit("src"), F.lit("synthetic")).alias("meta"),
    )
    return rows


def arrow_byte_stats(df):
    """Per-row byte statistics through ``mapInArrow`` — the Arrow-native
    sibling of the mapInPandas kernels above: batches stay as
    ``pyarrow.RecordBatch`` end to end (no pandas materialization, no
    object boxing), which is the right call for pure-binary kernels
    where pandas would only add a copy.  Completes the §2.10 map-family
    surface (mapInPandas / applyInPandas / cogroup / mapInArrow).

    Emits (doc_id, n_bytes, first_byte, byte_sum_mod) per row of ``df``'s
    (doc_id, payload) columns.
    """
    import pyarrow as pa

    out_schema = "doc_id long, n_bytes long, first_byte int, byte_sum_mod long"

    def kernel(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            payloads = batch.column("payload")
            n_bytes, first, sums = [], [], []
            for buf in payloads:
                b = buf.as_py() or b""
                n_bytes.append(len(b))
                first.append(b[0] if b else -1)
                sums.append(sum(b) % 1_000_003)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.to_pylist(), type=pa.int64()),
                    pa.array(n_bytes, type=pa.int64()),
                    pa.array(first, type=pa.int32()),
                    pa.array(sums, type=pa.int64()),
                ],
                names=["doc_id", "n_bytes", "first_byte", "byte_sum_mod"],
            )

    return df.select("doc_id", "payload").mapInArrow(kernel, out_schema)


# ------------------------------------------------- perceptual hashing


def _ahash64(img: np.ndarray) -> int:
    """Average-hash (aHash) of an RGB image: luma → 8×8 average pooling
    → threshold at the pooled mean → 63-bit signature (top bit masked so
    the value stays positive in a Spark LongType, matching the SimHash
    bit domain and its block-banding machinery)."""
    x = img.astype(np.float64) / 255.0
    luma = 0.2126 * x[..., 0] + 0.7152 * x[..., 1] + 0.0722 * x[..., 2]
    h, w = luma.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    pooled = np.array(
        [
            [luma[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean() for j in range(8)]
            for i in range(8)
        ]
    )
    bits = (pooled > pooled.mean()).ravel()
    out = 0
    for i, b in enumerate(bits):
        out |= int(b) << i
    return out & ((1 << 63) - 1)


def perceptual_hash(media: DataFrame, decode: str = "DETERMINISTIC") -> DataFrame:
    """media(media_id, payload, …) → (id, simhash): 63-bit perceptual
    signature per image, ready for
    :func:`operators.dedup.hash64_hamming_pairs`.

    REAL mode computes a genuine aHash over the in-container-decodable
    formats (P6 PPM / 24-bit BMP / 8-bit PNG / GIF — same codec seam
    rules as :func:`image_features`); DETERMINISTIC derives the signature from
    sha256 of the payload bytes, which preserves one real property —
    byte-identical payloads collide at distance 0 — so the downstream
    dedup plumbing is fully exercisable on arbitrary binaries.
    """
    if decode not in ("DETERMINISTIC", "REAL"):
        raise ValueError("decode must be DETERMINISTIC or REAL")

    def _sig(b: bytes) -> int:
        if decode == "REAL":
            img = decode_image_any(b)
            if img is None:
                raise NotImplementedError(
                    "exotic formats require Pillow — not in container; REAL "
                    "aHash supports P6 PPM, 24-bit BMP, 8-bit PNG, GIF, "
                    "and sequential+progressive JPEG"
                )
            return _ahash64(img)
        digest = hashlib.sha256(b or b"").digest()
        return int.from_bytes(digest[:8], "big") & ((1 << 63) - 1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["media_id"].astype("int64"),
                    "simhash": pdf["payload"].map(_sig).astype("int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    return media.select("media_id", "payload").mapInPandas(kernel, schema)


VAD_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("seg_index", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("mean_rms", T.DoubleType()),
    ]
)


def audio_vad_segments(
    media: DataFrame,
    frame_ms: int = 20,
    threshold: float = 0.1,
    decode: str = "DETERMINISTIC",
) -> DataFrame:
    """Energy-based voice-activity segmentation: frame the waveform at
    ``frame_ms``, mark frames with RMS > ``threshold`` active, emit one
    row per CONTIGUOUS active run — (media_id, seg_index, start_ms,
    end_ms, n_frames, mean_rms).  The speech-segment extraction step an
    audio training pipeline runs before transcription/feature caching
    (silence never reaches the model), and the 1-to-segments shape that
    complements :func:`audio_features`' fixed windows.

    REAL mode decodes RIFF PCM-16 WAV (genuine numpy, real sample
    rate); DETERMINISTIC mode treats payload bytes as an int8 waveform
    scaled to [-1, 1] over ``duration_ms`` — batch shapes, framing and
    run-length logic identical, so tests pin the full kernel.
    Fixed absolute threshold keeps results deterministic across
    partitionings (no per-batch adaptive statistics).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "seg_index": [],
                "start_ms": [],
                "end_ms": [],
                "n_frames": [],
                "mean_rms": [],
            }
            for _, row in pdf.iterrows():
                if decode == "REAL":
                    decoded = decode_audio_any(row["payload"] or b"")
                    if decoded is None:
                        raise NotImplementedError(
                            "compressed audio (MP3/OGG/…) requires librosa/"
                            "ffmpeg — not in container; REAL decode supports "
                            "WAV/AIFF/AIFC/.au (PCM, float32, G.711, ADPCM)"
                        )
                    wave, rate = decoded
                    step = max(1, rate * frame_ms // 1000)
                else:
                    duration = int(row["duration_ms"] or 0)
                    wave = (
                        np.frombuffer(row["payload"] or b"", dtype=np.int8).astype(
                            np.float32
                        )
                        / 128.0
                    )
                    n_frames_total = max(1, duration // frame_ms)
                    step = max(1, len(wave) // n_frames_total) if len(wave) else 1
                n_fr = max(0, -(-len(wave) // step))
                seg = None  # (start_frame, rms_sum, n)
                seg_idx = 0
                for i in range(n_fr):
                    w = wave[i * step : (i + 1) * step]
                    rms = float(np.sqrt(np.mean(w**2))) if len(w) else 0.0
                    if rms > threshold:
                        if seg is None:
                            seg = [i, 0.0, 0]
                        seg[1] += rms
                        seg[2] += 1
                    elif seg is not None:
                        out["media_id"].append(row["media_id"])
                        out["seg_index"].append(seg_idx)
                        out["start_ms"].append(seg[0] * frame_ms)
                        out["end_ms"].append((seg[0] + seg[2]) * frame_ms)
                        out["n_frames"].append(seg[2])
                        out["mean_rms"].append(seg[1] / seg[2])
                        seg_idx += 1
                        seg = None
                if seg is not None:
                    out["media_id"].append(row["media_id"])
                    out["seg_index"].append(seg_idx)
                    out["start_ms"].append(seg[0] * frame_ms)
                    out["end_ms"].append((seg[0] + seg[2]) * frame_ms)
                    out["n_frames"].append(seg[2])
                    out["mean_rms"].append(seg[1] / seg[2])
            yield pd.DataFrame(out)

    cols = ["media_id", "payload", "duration_ms"]
    return media.select(*cols).mapInPandas(kernel, VAD_SEGMENTS_SCHEMA)


# ------------------------------------------------------------- image resize


def resize_image(
    px: np.ndarray, out_h: int, out_w: int, method: str = "bilinear"
) -> np.ndarray:
    """(H, W, 3) uint8 → (out_h, out_w, 3) uint8, pure numpy — the
    resize stage of a multimodal preprocessing pipeline (thumbnails,
    model-input normalization; torchvision's Resize is the library
    analog the container lacks).

    ``nearest``: center-aligned integer mapping src_i = ⌊(2i+1)·H /
    (2·out_H)⌋ — exact integer arithmetic, fully deterministic, and on
    an integer-factor downscale it picks the same pixels as strided
    slicing (hand-pinned in tests).  ``bilinear``: half-pixel-center
    sampling with edge clamping (the align_corners=False convention
    every DL framework defaults to), vectorized float64, rounded
    half-away-from-zero to uint8.
    """
    h, w = px.shape[:2]
    if (h, w) == (out_h, out_w):
        return np.ascontiguousarray(px[..., :3])
    if method == "nearest":
        yi = ((2 * np.arange(out_h) + 1) * h) // (2 * out_h)
        xi = ((2 * np.arange(out_w) + 1) * w) // (2 * out_w)
        return px[yi[:, None], xi[None, :], :3]
    if method != "bilinear":
        raise ValueError("method must be nearest or bilinear")
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    p = px[..., :3].astype(np.float64)
    top = p[y0[:, None], x0[None, :]] * (1 - fx) + p[y0[:, None], x1[None, :]] * fx
    bot = p[y1[:, None], x0[None, :]] * (1 - fx) + p[y1[:, None], x1[None, :]] * fx
    out = top * (1 - fy) + bot * fy
    return np.floor(out + 0.5).astype(np.uint8)
