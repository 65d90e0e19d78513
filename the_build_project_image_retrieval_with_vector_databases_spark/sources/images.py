"""Multimodal (image/audio/video) column handling (SURVEY §1.1, §2.1
S1/S3/S4; north-star multimodal extension).

Design: media are opaque ``binary`` columns with typed metadata columns
alongside. The scan is Spark's ``binaryFile`` source (path-glob filtered,
recursive); decode / feature-extraction run as Arrow-batched
``mapInPandas`` so the per-batch Python cost amortizes and model/codec
state loads once per partition iterator — the distributed analogue of the
reference's ``@st.cache_resource`` model caching (``app.py:30``).

The compressed-image libraries (PIL/torch) are NOT in this container, so
``decode_images`` defaults to a clearly-marked deterministic stub for
oracle-reproducible runs — but the REAL decode path is executable here
too: dependency-free pure-numpy codecs for PPM/PGM, 24-bit BMP, 8-bit
PNG, and baseline JPEG — every upload format the reference accepts,
``app.py:78`` — (``decoder="auto"`` → built-in parsers, then PIL only
for formats outside that set, e.g. progressive JPEG), plus
:func:`embed_images_pure` running decode → resize → pool → projection →
L2-normalize on actual pixels.
``decode_images(decoder="pil")`` and :func:`embed_images_torch` carry
the reference's PIL/torch bodies when those libraries are importable.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The Python-worker closures below call this module's functions. A
# worker need not have the package on its path, so cloudpickle ships
# the module's functions with each closure rather than importing them
# there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Optional real codecs/models — absent in this container; every consumer
# takes a `decoder=`/loader argument so the stub stays the default for
# oracle-reproducible runs even where PIL/torch ARE installed.
try:  # pragma: no cover - container has no PIL
    from PIL import Image as _PILImage

    _HAVE_PIL = True
except Exception:
    _PILImage = None
    _HAVE_PIL = False

try:  # pragma: no cover - container has no torch
    import torch as _torch

    _HAVE_TORCH = True
except Exception:
    _torch = None
    _HAVE_TORCH = False

IMAGE_GLOB = "*.{jpg,jpeg,png}"  # reference upload filter, app.py:78

DECODED_SCHEMA = (
    "path string, length long, category string, "
    "width int, height int, n_channels int, decode_ok boolean"
)


def scan_image_folder(
    spark: SparkSession, root: str, glob: str = "*.jpg"
) -> DataFrame:
    """S1: recursive image-folder scan; folder name ⇒ category (reference
    ``datasets.ImageFolder``, ``train_model.py:40``)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return df.withColumn(
        "category", F.regexp_extract(F.col("path"), r"/([^/]+)/[^/]+$", 1)
    )


def _stub_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decoder (the oracle-reproducible default).

    Derives a plausible (width, height, channels) from the payload hash.
    The hash runs over the *hex encoding* of the bytes so a SQL oracle can
    reproduce it (``md5(lower(hex(content)))`` — DuckDB's md5 takes
    VARCHAR only).
    """
    if payload is None or len(payload) < 4:
        raise ValueError("truncated payload")  # real codecs fail on short magic
    h = hashlib.md5(bytes(payload).hex().encode()).hexdigest()
    return 64 + int(h[0:2], 16) % 192, 64 + int(h[2:4], 16) % 192, 3


def _pil_decode(payload: bytes) -> tuple[int, int, int]:
    """Real decoder — the reference's body (``utils/precompute_features.py:174``,
    ``app.py:158-160``): open, force RGB, read dimensions. Only reachable
    when PIL is importable."""
    import io

    img = _PILImage.open(io.BytesIO(bytes(payload))).convert("RGB")
    return img.width, img.height, 3


# ---------------------------------------------------------------------------
# Dependency-free REAL codecs: PPM (P5/P6), BMP (24-bit BI_RGB), and PNG
# (8-bit, stdlib zlib + per-scanline unfilter). These parse actual headers
# and pixel rasters with numpy — no PIL — so the real-decode code path
# (header parse → raster validate → RGB array) is executable and tested in
# this container, not only behind a skipif gate. JPEG still requires PIL.
# ---------------------------------------------------------------------------


def _parse_ppm(payload: bytes):
    """Netpbm binary: P6 (RGB) / P5 (gray) → (h, w, 3) uint8 array.

    Header = magic, then width/height/maxval tokens separated by
    whitespace/comments, then exactly one whitespace byte, then the raster.
    """
    import numpy as np
    import re

    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    # tokenize the header: strip '#...\n' comments, take 3 ints after magic
    pos, tokens = 2, []
    while len(tokens) < 3:
        m = re.match(rb"(?:\s+|#[^\n]*\n)+(\d+)", payload[pos:])
        if not m:
            raise ValueError("truncated PPM header")
        tokens.append(int(m.group(1)))
        pos += m.end()
    width, height, maxval = tokens
    if not (0 < maxval < 65536 and width > 0 and height > 0):
        raise ValueError("bad PPM header values")
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    pos += 1  # the single whitespace byte before the raster
    channels = 3 if magic == b"P6" else 1
    need = width * height * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    if raster.size < need:
        raise ValueError("truncated PPM raster")
    arr = raster.reshape(height, width, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)  # force RGB like .convert("RGB")
    return arr


def _parse_bmp(payload: bytes):
    """Windows BMP, uncompressed 24-bit BI_RGB → (h, w, 3) uint8 array.

    Handles the standard quirks: little-endian headers, BGR byte order,
    bottom-up row storage, rows padded to 4-byte boundaries, negative
    height = top-down.
    """
    import struct

    import numpy as np

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("BITMAPCOREHEADER unsupported")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = row_bytes * height
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=data_offset)
    if raster.size < need:
        raise ValueError("truncated BMP raster")
    rows = raster.reshape(height, row_bytes)[:, : width * 3]
    arr = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR → RGB
    if not top_down:
        arr = arr[::-1]  # bottom-up storage → top-down array
    return np.ascontiguousarray(arr)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _parse_png(payload: bytes):
    """PNG (one of the reference's two accepted upload formats,
    ``app.py:78``) → (h, w, 3) uint8 RGB array, dependency-free: chunk
    walk, zlib-inflate the IDAT stream, per-scanline unfilter (filter
    types 0–4), then color-type normalization to RGB exactly as PIL's
    ``convert("RGB")`` would (gray replicated, alpha dropped, palette
    looked up).

    Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), non-interlaced — i.e. what encoders emit
    for photographic/screenshot content. 16-bit, sub-byte depths, and
    Adam7 interlace raise (→ ``decode_ok = false`` rows); JPEG is the
    one reference format that genuinely needs PIL.
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = bitdepth = colortype = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # chunk header + data + CRC
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if bitdepth != 8:
        raise ValueError(f"{bitdepth}-bit PNG unsupported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colortype)
    if channels is None:
        raise ValueError(f"bad PNG color type {colortype}")
    if width == 0 or height == 0:
        raise ValueError("bad PNG dimensions")
    if width * height > 64_000_000:
        # allocation guard, same rationale as the JPEG cap: header dims
        # drive the buffer sizes before any raster data is validated
        raise ValueError(f"PNG dimensions {width}x{height} exceed decoder cap")
    stride = width * channels
    need = (stride + 1) * height
    try:
        # bounded inflate: a zip-bomb IDAT (tiny file → gigabytes of
        # zeros) stops at exactly the raster size the header promises
        raw = zlib.decompressobj().decompress(bytes(idat), need)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(raw) < need:
        raise ValueError("truncated PNG raster")
    scan = np.frombuffer(raw, dtype=np.uint8, count=need).reshape(
        height, stride + 1
    )
    # Per-scanline unfilter. Rows depend on the fully reconstructed row
    # above, so the row loop is sequential; filters 1/3/4 additionally
    # recurse on the pixel to the left, so those run per-byte. int32
    # working copies keep the sums exact before the mod-256 fold.
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels
    for y in range(height):
        f = scan[y, 0]
        cur = scan[y, 1:].astype(np.int32)
        if f == 0:  # None
            rec = cur
        elif f == 1:  # Sub
            rec = cur
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 3:  # Average
            rec = cur
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = cur
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        rec &= 0xFF
        out[y] = rec
        prev = rec
    arr = out.reshape(height, width, channels)
    if colortype == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        if int(arr.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of range")
        arr = palette[arr[:, :, 0]]
    elif colortype == 0:
        arr = np.repeat(arr, 3, axis=2)
    elif colortype == 4:
        arr = np.repeat(arr[:, :, :1], 3, axis=2)
    elif colortype == 6:
        arr = arr[:, :, :3]
    return np.ascontiguousarray(arr)


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_BASIS = None  # lazily-built 8×8 separable DCT-III basis matrix


def _idct_basis():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import numpy as np

        u, x = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        m = np.cos((2 * x + 1) * u * np.pi / 16.0) / 2.0
        m[0, :] /= np.sqrt(2.0)
        _IDCT_BASIS = m
    return _IDCT_BASIS


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing; stops (raises StopIteration) at any real marker."""

    __slots__ = ("data", "pos", "buf", "n")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):  # truncated mid-entropy-data
            raise StopIteration
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise StopIteration
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:  # a real marker terminates the segment
                raise StopIteration
            self.pos += 2
        else:
            self.pos += 1
        self.buf = b
        self.n = 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self.n = 0


def _huff_table(counts, symbols):
    """Canonical JPEG Huffman table → {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _JpegBits, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """JPEG F.12 sign extension of an s-bit magnitude."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _parse_jpeg(payload: bytes):
    """ValueError-only wrapper around :func:`_parse_jpeg_inner` — the
    decode_pixels contract is 'unsupported/corrupt input raises
    ValueError', but malformed headers can surface as IndexError /
    KeyError / struct.error from the marker walk (short segments,
    dangling table ids). Callers map ValueError to decode_ok=false."""
    import struct

    try:
        return _parse_jpeg_inner(payload)
    except (IndexError, KeyError, struct.error, ZeroDivisionError) as e:
        raise ValueError(f"malformed JPEG: {type(e).__name__}: {e}") from e


def _parse_jpeg_inner(payload: bytes):
    """Baseline JFIF JPEG → (h, w, 3) uint8 RGB array, dependency-free —
    the reference's PRIMARY corpus format (uploads accept jpg/jpeg,
    reference ``app.py:78``; the Caltech101 corpus is ``.jpg``,
    ``README.md:24-36``). With it, no reference image format needs
    PIL.

    Supported: baseline/extended sequential Huffman DCT (SOF0/SOF1),
    8-bit samples, 1 or 3 components, any sampling factors (4:4:4,
    4:2:2, 4:2:0, ...), restart markers (DRI/RSTn). Progressive (SOF2)
    and arithmetic coding raise (→ ``decode_ok = false`` rows).

    Pinned arithmetic, verified block-exactly in tests/test_jpeg.py
    against an independent textbook reconstruction: dequantized
    coefficients → separable float64 IDCT (basis
    c(u)/2·cos((2x+1)uπ/16)) → +128 → round-half-even → clip 0..255;
    chroma upsampling is sample replication; color transform is the
    JFIF/CCIR-601 matrix, rounded then clipped. (libjpeg's integer
    "islow" IDCT and fancy upsampling differ by ±1 LSB on some samples;
    this decoder pins the mathematically-defined float inverse instead —
    the contract a from-scratch engine can actually test.)

    At 100 TB the cluster decode path is a native codec behind the same
    ``mapInPandas`` seam (``decode_images(decoder="pil")``); this pure
    path is the CI/fallback codec, exact and dependency-free.
    """
    import struct

    import numpy as np

    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (one or more tables, zigzag order)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, i).astype(np.int32)
                    i += 128
                qt[tq] = tbl
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1
            precision, h, w, ncomp = seg[0], (seg[1] << 8) | seg[2], (
                seg[3] << 8
            ) | seg[4], seg[5]
            if precision != 8:
                raise ValueError(f"{precision}-bit JPEG unsupported")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                hi, vi = hv >> 4, hv & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):  # T.81 B.2.2
                    raise ValueError(f"bad JPEG sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise ValueError("progressive JPEG unsupported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG coding unsupported")
        elif marker == 0xC4:  # DHT (one or more tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                nsym = sum(counts)
                symbols = list(seg[i + 17 : i + 17 + nsym])
                huff[(tc, th)] = _huff_table(counts, symbols)
                i += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = seg[0]
            scan = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                    for c in range(ns)]
            pos += seglen
            break
        pos += seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("bad JPEG dimensions")
    if h * w > 64_000_000:
        # allocation guard: the component planes are allocated from the
        # HEADER dims before any entropy data is read, so a crafted
        # 20-byte file claiming 65535x65535 would otherwise reserve
        # ~34 GB per plane. 64 MP covers every real corpus image; the
        # cap turns the attack into a decode_ok=false row.
        raise ValueError(f"JPEG dimensions {w}x{h} exceed decoder cap")
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    order = []  # (hi, vi, qtbl, dc_table, ac_table) per scan component
    for cid, dc_id, ac_id in scan:
        hi, vi, tq = by_id[cid]
        order.append((hi, vi, qt[tq], huff[(0, dc_id)], huff[(1, ac_id)]))
    hmax = max(c[0] for c in order)
    vmax = max(c[1] for c in order)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for hi, vi, _, _, _ in order
    ]
    basis = _idct_basis()
    br = _JpegBits(data, pos)
    preds = [0] * len(order)
    coef = np.zeros(64, dtype=np.int64)
    mcu_count = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and (
                    mcu_count % restart_interval == 0
                ):
                    br.align()
                    if not (
                        br.pos + 1 < len(br.data)
                        and br.data[br.pos] == 0xFF
                        and 0xD0 <= br.data[br.pos + 1] <= 0xD7
                    ):
                        raise ValueError("missing JPEG restart marker")
                    br.pos += 2
                    preds = [0] * len(order)
                mcu_count += 1
                for ci, (hi, vi, q, dct, act) in enumerate(order):
                    for by in range(vi):
                        for bx in range(hi):
                            coef[:] = 0
                            s = _huff_decode(br, dct)
                            diff = _extend(br.bits(s), s) if s else 0
                            preds[ci] += diff
                            coef[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(br, act)
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("JPEG AC index overflow")
                                coef[k] = _extend(br.bits(s), s)
                                k += 1
                            block = np.zeros(64, dtype=np.float64)
                            block[_ZIGZAG] = coef * q
                            spatial = basis.T @ block.reshape(8, 8) @ basis
                            y0 = (my * vi + by) * 8
                            x0 = (mx * hi + bx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
    except StopIteration:
        raise ValueError("truncated JPEG entropy stream") from None
    # upsample to full resolution (sample replication), crop, level-shift
    out = []
    for ci, (hi, vi, _, _, _) in enumerate(order):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        out.append(p[:h, :w] + 128.0)
    if len(out) == 1:
        gray = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return np.ascontiguousarray(np.repeat(gray[:, :, None], 3, axis=2))
    if len(out) != 3:
        raise ValueError(f"unsupported JPEG component count {len(out)}")
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.ascontiguousarray(
        np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    )


def decode_pixels(payload: bytes):
    """Decode a payload to an (h, w, 3) uint8 RGB array.

    Dispatches on magic bytes: PPM/PGM, 24-bit BMP, 8-bit PNG, and
    baseline JPEG decode with the built-in pure-numpy parsers (no
    dependencies); anything else falls through to PIL when importable,
    else raises (callers' per-row error tolerance turns that into a
    ``decode_ok = false`` row).
    """
    payload = bytes(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _parse_ppm(payload)
    if payload[:2] == b"BM":
        return _parse_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _parse_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _parse_jpeg(payload)
    if _HAVE_PIL:
        import io

        import numpy as np

        img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        return np.asarray(img, dtype=np.uint8)
    raise ValueError("unsupported image format (PPM/BMP built in; PIL absent)")


def _pure_decode(payload: bytes) -> tuple[int, int, int]:
    """Real-decode body over the dependency-free codecs: parse the actual
    header and raster, return true (width, height, channels)."""
    arr = decode_pixels(payload)
    return arr.shape[1], arr.shape[0], arr.shape[2]


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resize via numpy fancy indexing — the dependency-
    free stand-in for PIL's ``Image.resize`` (reference preprocessing
    ``utils/__init__.py:28-33``); exact same (h, w, 3) contract."""
    import numpy as np

    h, w = arr.shape[:2]
    rows = np.minimum((np.arange(height) * h) // height, h - 1)
    cols = np.minimum((np.arange(width) * w) // width, w - 1)
    return arr[rows[:, None], cols[None, :]]


def decode_images(df: DataFrame, decoder: str = "stub") -> DataFrame:
    """S3: binary → decoded metadata via Arrow-batched mapInPandas.

    ``decoder``: ``"stub"`` (default — deterministic, oracle-checkable),
    ``"pil"`` (PIL only, requires PIL), or ``"auto"`` (real-codec chain:
    built-in pure-numpy PPM/BMP/PNG parsers, then PIL for JPEG when
    importable; unsupported payloads become ``decode_ok = false``
    rows). The stub stays the default so correctness runs are
    reproducible on any container; flipping one argument carries the real
    codecs through the identical distributed plumbing (schema, Arrow
    batching, per-row error tolerance).

    Per-row failures null the row out instead of failing the job
    (F2 error-tolerant map, reference ``utils/precompute_features.py:167-182``).
    """
    if decoder == "pil" and not _HAVE_PIL:
        raise RuntimeError("decoder='pil' requested but PIL is not importable")
    decode = {"pil": _pil_decode, "auto": _pure_decode}.get(decoder, _stub_decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init goes here (load codec/model ONCE per task)
        for pdf in it:
            out = []
            for path, length, category, content in zip(
                pdf["path"], pdf["length"], pdf["category"], pdf["content"]
            ):
                try:
                    w, hgt, c = decode(content)
                    out.append((path, length, category, w, hgt, c, True))
                except Exception:
                    out.append((path, length, category, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "path",
                    "length",
                    "category",
                    "width",
                    "height",
                    "n_channels",
                    "decode_ok",
                ],
            )

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def embed_images_torch(
    df: DataFrame,
    model_loader,
    dim: int,
    content_col: str = "content",
    batch_size: int = 64,
) -> DataFrame:
    """P1+P2 real path — decode → preprocess → batched forward → L2
    normalize, the reference's per-image loop (``app.py:158-168``,
    ``utils/__init__.py:28-53``, ``src/model.py:51-58``) re-shaped for
    Spark: ``model_loader()`` (e.g. construct + ``torch.load`` a
    checkpoint, the S9 pattern) runs ONCE per partition iterator — the
    distributed analogue of ``@st.cache_resource`` (``app.py:30``) — and
    images flow through in (batch, 3, 224, 224) tensors instead of the
    reference's batch=1. Requires torch + PIL (importable check at call
    time, so the module loads anywhere)."""
    if not (_HAVE_TORCH and _HAVE_PIL):
        raise RuntimeError("embed_images_torch requires torch and PIL")
    import io

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_loader()  # once per task: the checkpoint load (S9)
        model.eval()
        mean = np.array([0.485, 0.456, 0.406], dtype=np.float32)
        std = np.array([0.229, 0.224, 0.225], dtype=np.float32)
        with _torch.no_grad():
            for pdf in it:
                embs = []
                for start in range(0, len(pdf), batch_size):
                    chunk = pdf[content_col].iloc[start : start + batch_size]
                    imgs = []
                    for payload in chunk:
                        img = _PILImage.open(io.BytesIO(bytes(payload)))
                        img = img.convert("RGB").resize((224, 224))
                        arr = np.asarray(img, dtype=np.float32) / 255.0
                        imgs.append(((arr - mean) / std).transpose(2, 0, 1))
                    t = _torch.from_numpy(np.stack(imgs))
                    feats = model.extract_features(t).cpu().numpy()
                    if feats.shape[1] != dim:
                        raise ValueError(
                            f"model emitted {feats.shape[1]}-dim features, "
                            f"caller declared dim={dim}"
                        )
                    feats /= np.maximum(
                        np.linalg.norm(feats, axis=1, keepdims=True), 1e-12
                    )
                    embs.extend(feats.astype(np.float32))
                yield pdf.drop(columns=[content_col]).assign(embedding=embs)

    fields = ", ".join(
        f"{c} {t}" for c, t in df.dtypes if c != content_col
    )
    return df.mapInPandas(batches, schema=f"{fields}, embedding array<float>")


def embed_images_pure(
    df: DataFrame,
    dim: int = 64,
    content_col: str = "content",
    size: int = 224,
    pool: int = 8,
) -> DataFrame:
    """P1+P2 over the dependency-free codecs: REAL pixel math end-to-end
    in any container — decode (PPM/BMP numpy parsers) → nearest-neighbor
    resize to ``size``² → scale to [0, 1] → ``pool``×``pool`` average-pool
    → seeded random projection → L2 normalize.

    The same pipeline shape as :func:`embed_images_torch` (reference
    ``app.py:158-168`` / ``utils/__init__.py:28-53``) with the torch
    forward replaced by one BLAS matmul per Arrow batch over broadcast
    weights (the S9 checkpoint pattern). Rows that fail decode embed as
    null with ``decode_ok = false`` (F2).
    """
    import numpy as np

    feat_dim = pool * pool * 3
    weights = np.random.default_rng(0xBEEF ^ dim).standard_normal((feat_dim, dim))
    bweights = df.sparkSession.sparkContext.broadcast(weights)
    keep = [c for c, _ in df.dtypes if c != content_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = bweights.value  # per-partition init: "load the checkpoint" once
        for pdf in it:
            feats, oks = [], []
            for payload in pdf[content_col]:
                try:
                    arr = resize_nearest(decode_pixels(payload), size, size)
                    arr = arr.astype(np.float64) / 255.0
                    # average-pool to (pool, pool, 3): exact block means
                    arr = arr.reshape(pool, size // pool, pool, size // pool, 3)
                    feats.append(arr.mean(axis=(1, 3)).ravel())
                    oks.append(True)
                except Exception:
                    feats.append(np.zeros(feat_dim))
                    oks.append(False)
            mat = np.stack(feats) @ w  # one matmul per Arrow batch
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            embs = [
                row.astype(np.float32) if ok else None
                for row, ok in zip(mat, oks)
            ]
            yield pdf[keep].assign(embedding=embs, decode_ok=oks)

    fields = ", ".join(f"{c} {t}" for c, t in df.dtypes if c != content_col)
    return df.mapInPandas(
        batches, schema=f"{fields}, embedding array<float>, decode_ok boolean"
    )


def int_projection_weights(feat_dim: int, dim: int, scale: int = 64):
    """Seeded integer projection matrix (feat_dim × dim): the float
    Gaussian weights of :func:`embed_images_pure`'s family, quantized to
    ``round(w·scale)`` and clipped to ±255. Shared by the Spark embed
    (:func:`embed_images_int`) AND the DuckDB oracle (which inlines the
    same ints as SQL literals), so the projection is reproducible by
    construction."""
    import numpy as np

    w = np.random.default_rng(0xBEEF ^ dim).standard_normal((feat_dim, dim))
    return np.clip(np.round(w * scale), -255, 255).astype(np.int64)


def embed_images_int(
    df: DataFrame,
    dim: int = 16,
    content_col: str = "content",
    size: int = 32,
    pool: int = 8,
) -> DataFrame:
    """ORACLE-EXACT variant of :func:`embed_images_pure`: decode →
    nearest-resize to ``size``² → ``pool``×``pool`` block SUMS (uint8
    ints, not float means) → quantized-integer projection → raw int64
    embedding (``array<long>``, unnormalized).

    Every step through the projection is EXACT integer arithmetic, so
    summation order is irrelevant and a SQL engine reproduces the
    embedding bit-for-bit from the raster bytes — this is what upgrades
    the flagship ``image_knn_pipeline`` from a rows-only check to a
    full DuckDB oracle. Range audit: block sums ≤ (size/pool)²·255,
    |weights| ≤ 255 ⇒ |e_j| ≤ feat_dim·4080·255 ≈ 2.0e8; pairwise
    products ≤ 4e16 and the dim-term (16) dots ≤ 6.4e17 — all inside
    int64 (scaling ``dim`` up revisits this bound: 192 terms would reach
    7.7e18, uncomfortably close to 2^63).
    Cosine/normalization happen downstream in fold-mirrored expressions
    (``functions.vector``), not here. Failed decodes embed as null with
    ``decode_ok = false`` (F2), same as the float path.
    """
    import numpy as np

    feat_dim = pool * pool * 3
    wq = int_projection_weights(feat_dim, dim)
    bweights = df.sparkSession.sparkContext.broadcast(wq)
    keep = [c for c, _ in df.dtypes if c != content_col]
    block = size // pool

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = bweights.value
        for pdf in it:
            feats, oks = [], []
            for payload in pdf[content_col]:
                try:
                    arr = resize_nearest(decode_pixels(payload), size, size)
                    arr = arr.astype(np.int64)
                    arr = arr.reshape(pool, block, pool, block, 3)
                    feats.append(arr.sum(axis=(1, 3)).ravel())
                    oks.append(True)
                except Exception:
                    feats.append(np.zeros(feat_dim, dtype=np.int64))
                    oks.append(False)
            mat = np.stack(feats) @ w  # exact int64 matmul
            embs = [
                [int(v) for v in row] if ok else None
                for row, ok in zip(mat, oks)
            ]
            yield pdf[keep].assign(embedding=embs, decode_ok=oks)

    fields = ", ".join(f"{c} {t}" for c, t in df.dtypes if c != content_col)
    return df.mapInPandas(
        batches, schema=f"{fields}, embedding array<long>, decode_ok boolean"
    )


def stub_embed_text(df: DataFrame, text_col: str, dim: int = 64) -> DataFrame:
    """P2 stand-in: deterministic pseudo-embedding, L2-normalized — lets
    the full index-build pipeline (sample → embed → normalize → write) run
    end-to-end without torch.

    Exercises the real S9 checkpoint pattern (reference ``torch.load`` at
    ``app.py:41-42`` / ``utils/precompute_features.py:130-131``): the
    "model weights" (a seeded projection matrix standing in for the
    checkpoint state-dict) are **broadcast once** from the driver and
    materialized once per partition iterator — swap the matrix for real
    weights + a torch forward and nothing else changes. Features are
    md5-derived per row, then pushed through the broadcast projection as
    one BLAS matmul per Arrow batch (A7's contiguous-matrix execution)."""
    import numpy as np

    weights = np.random.default_rng(0xC0FFEE).standard_normal((32, dim))
    bweights = df.sparkSession.sparkContext.broadcast(weights)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = bweights.value  # per-partition init: "load the checkpoint" once
        for pdf in it:
            feats = np.array(
                [
                    np.frombuffer(
                        hashlib.md5(t.encode()).digest()
                        + hashlib.md5(b"salt:" + t.encode()).digest(),
                        dtype=np.uint8,
                    )
                    for t in pdf[text_col].astype(str)
                ],
                dtype=np.float64,
            )  # (N, 32) batch matrix
            mat = (feats - 127.5) @ w  # one matmul per Arrow batch
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            yield pdf.assign(embedding=list(mat.astype(np.float32)))

    fields = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    return df.mapInPandas(batches, schema=f"{fields}, embedding array<float>")
