"""Multimodal (image/audio/video) column plumbing for training-data pipelines.

Media ride as opaque ``binary`` columns with typed metadata; decode /
feature-extraction are Arrow-batched ``mapInPandas`` kernels.

Decode is REAL for codec-free formats: PPM/PGM/BMP images, zlib-
compressed PNG (``decode_png`` — pure stdlib inflate + full filter-set
unfilter, every legal bit depth, palette, Adam7) and PCM WAV audio all
decode with pure NumPy/stdlib; ``image_feature_decoder`` dispatches the
image formats on magic bytes. Feature extraction is real too — 8×8
block-mean luminance (the classic aHash-style perceptual embedding) for
images, per-window RMS energy + zero-crossing rate for audio. Formats
that need external codecs (JPEG/GIF, mp3/video) go through the
runtime-detected adapters ``pil_feature_decoder`` /
``soundfile_feature_decoder``; without the codec they raise
``NotImplementedError`` eagerly (``require_decoder``), as does
``decode_fn=None``. The dedup path downstream of decode is the same
either way: features → hyperplane-LSH buckets → candidate pairs → cosine
verify (operators/ann.py), identical to the text path's shape.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, feature array<float>, feat_dim int"


def require_decoder(kind: str) -> Callable[[bytes], np.ndarray]:
    """Codec-dependent formats (JPEG/GIF/mp3/video) need PIL, soundfile or
    ffmpeg. PPM/PGM/BMP/PNG/WAV decode is available codec-free:
    ``image_feature_decoder`` / ``wav_feature_decoder``."""
    raise NotImplementedError(
        f"no {kind} codec in this module; pass decode_fn= explicitly "
        "(JPEG/GIF/WebP: pil_feature_decoder(); FLAC/OGG: "
        "soundfile_feature_decoder(); codec-free PPM/PGM/BMP/PNG: "
        "image_feature_decoder(); WAV: wav_feature_decoder())"
    )


# ---------------------------------------------------------------------------
# Real, codec-free decoders (pure NumPy/stdlib)
# ---------------------------------------------------------------------------


def _pnm_header(payload: bytes, magic: bytes, fmt: str) -> tuple[int, int, int]:
    """Parse a binary PNM header (P5/P6): whitespace-separated tokens with
    ``#`` comments, maxval ≤ 255. Returns (width, height, raster_offset)."""
    if not payload or not payload.startswith(magic):
        raise ValueError(f"not a binary {fmt} ({magic.decode()}) payload")
    # tokenize the header byte-by-byte (comments run to end of line)
    tokens: list[bytes] = []
    i = 2
    cur = b""
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            # a comment is whitespace-equivalent and may START mid-token
            # ('100#c\n200'): flush the current token first, or width and
            # height merge into one number
            if cur:
                tokens.append(cur)
                cur = b""
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            if cur:
                tokens.append(cur)
                cur = b""
        else:
            cur += c
        i += 1
    if len(tokens) < 3:
        raise ValueError(f"truncated {fmt} header")
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"16-bit {fmt} not supported")
    return w, h, i


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (H, W, 3) uint8 array."""
    w, h, i = _pnm_header(payload, b"P6", "PPM")
    raster = payload[i : i + w * h * 3]
    if len(raster) < w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def decode_pgm(payload: bytes) -> np.ndarray:
    """Binary PGM (P5, grayscale) → (H, W) uint8 array. Same header
    grammar as PPM; one byte per pixel."""
    w, h, i = _pnm_header(payload, b"P5", "PGM")
    raster = payload[i : i + w * h]
    if len(raster) < w * h:
        raise ValueError("truncated PGM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w).copy()


def encode_pgm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P5\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) → (H, W, 3)
    uint8 RGB array. Pure struct/NumPy: handles the 4-byte row padding and
    the bottom-up (positive height) / top-down (negative height) raster
    orders. The third codec-free real format next to PPM/PGM."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    raster = payload[data_offset : data_offset + stride * h]
    if len(raster) < stride * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → uncompressed 24-bit bottom-up BMP."""
    import struct

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = (
        np.ascontiguousarray(img[::-1, :, ::-1], dtype=np.uint8).reshape(h, -1)
    )
    raster = rows.tobytes()
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + len(raster), 0, 0, 54,
        40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0,
    )
    return header + raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel in the RASTER (3 = palette: 1 index byte
# per pixel, expanded through PLTE after unfiltering)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: Adam7 interlace pass grid: (x0, y0, dx, dy) per pass, RFC 2083 §2.6
_ADAM7_GRID = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_passes(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes for a w×h image as
    (x0, y0, dx, dy, pass_width, pass_height)."""
    out = []
    for x0, y0, dx, dy in _ADAM7_GRID:
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            out.append((x0, y0, dx, dy, wp, hp))
    return out


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """length + type + data + CRC32 framing (shared by all encoders)."""
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


#: channel count → PNG color type (gray / gray+alpha / RGB / RGBA)
_PNG_COLOR_TYPE_BY_CH = {1: 0, 2: 4, 3: 2, 4: 6}


def _png_assemble(
    w: int,
    h: int,
    depth: int,
    color_type: int,
    interlace: int,
    body: bytes,
    extra: tuple = (),
) -> bytes:
    """SIG + IHDR (+ extra chunks, e.g. PLTE/tRNS) + deflated IDAT + IEND
    — the one container-assembly path every encoder shares."""
    import struct
    import zlib

    out = _PNG_SIG + _png_chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace),
    )
    for ctype, data in extra:
        out += _png_chunk(ctype, data)
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(body, 6))
        + _png_chunk(b"IEND", b"")
    )


# decompression-bomb guard: deflate expands up to ~1000x, so a small
# crafted IDAT could otherwise allocate GBs per executor task in a
# pipeline whose stated job is deduping untrusted media. 256 MiB decoded
# raster ≈ a 9200² RGBA image — far beyond any dedup-feature use here.
_PNG_MAX_RASTER_BYTES = 1 << 28


def _png_unfilter(data_arr: np.ndarray, h: int, w: int, ch: int) -> np.ndarray:
    """Reverse RFC 2083 scanline filtering. ``data_arr`` is (h, stride+1)
    uint8: one filter-type byte then the filtered scanline. Returns
    (h, w, ch) uint8.

    None/Sub/Up rows have no cross-lane serial dependency and unfilter in
    one vectorized step per scanline (Sub is a per-lane prefix sum, Up a
    shifted add). Average/Paeth rows depend on BOTH the left pixel and
    the previous scanline — a 2D wavefront — so when any row uses them
    the whole image runs as an anti-diagonal sweep: every cell (y, x) on
    diagonal y+x=d depends only on diagonals d-1 and d-2, so each sweep
    step updates a full diagonal of pixels in vectorized NumPy through
    zero-copy strided views (h+w steps total instead of h*w*ch Python
    byte ops — ~40x faster on a 512² Paeth-filtered RGB image, and it
    handles per-row mixed filter types, which real libpng adaptive
    output is)."""
    from numpy.lib.stride_tricks import as_strided

    ft = data_arr[:, 0].astype(np.int64)
    bad = ft[(ft < 0) | (ft > 4)]
    if bad.size:
        raise ValueError(f"unknown PNG filter type {int(bad[0])}")
    raw = data_arr[:, 1:].astype(np.int16).reshape(h, w, ch)
    if not np.any(ft >= 3):
        out = np.zeros((h, w, ch), dtype=np.int16)
        prev = np.zeros((w, ch), dtype=np.int16)
        for y in range(h):
            f = ft[y]
            if f == 0:
                out[y] = raw[y]
            elif f == 1:  # Sub: per-lane prefix sum
                out[y] = np.cumsum(raw[y].astype(np.int32), axis=0) % 256
            else:  # Up
                out[y] = (raw[y] + prev) % 256
            prev = out[y]
        return out.astype(np.uint8)
    # Anti-diagonal wavefront over a zero-padded plane: pad one top row
    # and one left pixel-column of zeros so the a/b/c neighbor reads
    # (left, up, up-left) never need boundary branches — the pad IS the
    # spec's "treat out-of-image pixels as zero".
    recP = np.zeros((h + 1, w + 1, ch), dtype=np.int16)
    rawP = np.zeros((h + 1, w + 1, ch), dtype=np.int16)
    rawP[1:, 1:] = raw
    ftP = np.zeros(h + 1, dtype=np.int64)
    ftP[1:] = ft
    # ONE diag-major strided view per plane, built up front: element
    # [d, i] aliases cell (y=i, x=d-i), so each sweep step is plain basic
    # indexing instead of a fresh as_strided call. Rows of the view with
    # d-i outside [0, w] alias addresses we never touch (the y0/y1 loop
    # bounds below keep every access to real in-bounds cells).
    sy, sx, sc = recP.strides
    Arec = as_strided(recP, shape=(h + w + 1, h + 1, ch), strides=(sx, sy - sx, sc))
    Araw = as_strided(rawP, shape=(h + w + 1, h + 1, ch), strides=(sx, sy - sx, sc))
    # preallocated temporaries (sliced to each diagonal's length): the
    # sweep's cost is NumPy call overhead, so every op below is out=
    uniform = int(ft[0]) if (ft == ft[0]).all() else None
    T1 = np.empty((h + 1, ch), dtype=np.int16)
    T2 = np.empty_like(T1)
    T3 = np.empty_like(T1)
    M1 = np.empty((h + 1, ch), dtype=bool)
    M2 = np.empty_like(M1)

    def paeth_pred(a, b, c, n):
        pa = np.subtract(b, c, out=T1[:n])  # |p-a| for p=a+b-c
        np.abs(pa, out=pa)
        pb = np.subtract(a, c, out=T2[:n])
        np.abs(pb, out=pb)
        pc = np.add(a, b, out=T3[:n])
        np.subtract(pc, c, out=pc)
        np.subtract(pc, c, out=pc)
        np.abs(pc, out=pc)
        np.less_equal(pa, pb, out=M1[:n])
        np.less_equal(pa, pc, out=M2[:n])
        np.logical_and(M1[:n], M2[:n], out=M1[:n])
        np.less_equal(pb, pc, out=M2[:n])
        pred = np.where(M2[:n], b, c)
        np.copyto(pred, a, where=M1[:n])
        return pred

    for d in range(2, h + w + 1):
        y0 = max(1, d - w)
        y1 = min(h, d - 1)
        if y1 < y0:
            continue
        n = y1 - y0 + 1
        a = Arec[d - 1, y0 : y0 + n]  # left
        b = Arec[d - 1, y0 - 1 : y0 - 1 + n]  # up
        c = Arec[d - 2, y0 - 1 : y0 - 1 + n]  # up-left
        x = Araw[d, y0 : y0 + n]
        if uniform == 4:  # all-Paeth image (libpng's dominant choice)
            pred = paeth_pred(a, b, c, n)
        elif uniform == 3:
            pred = np.add(a, b, out=T1[:n])
            np.right_shift(pred, 1, out=pred)
        else:  # mixed filter types along the diagonal (uniform 0/1/2
            # images never reach the wavefront, so uniform is 3, 4, or
            # None here)
            f2 = ftP[y0 : y0 + n, None]
            paeth = paeth_pred(a, b, c, n)
            pred = np.where(
                f2 == 1,
                a,
                np.where(
                    f2 == 2,
                    b,
                    np.where(
                        f2 == 3,
                        (a + b) >> 1,
                        np.where(f2 == 4, paeth, np.zeros_like(a)),
                    ),
                ),
            )
        cur = Arec[d, y0 : y0 + n]
        np.add(x, pred, out=cur)
        np.bitwise_and(cur, 255, out=cur)
    return recP[1:, 1:].astype(np.uint8)


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode: chunk walk + CRC check + size-capped zlib
    inflate + vectorized wavefront unfilter (None/Sub/Up/Average/Paeth —
    the full RFC 2083 filter set; see ``_png_unfilter``). Gray /
    gray+alpha / RGB / RGBA / palette (color types 0/4/2/6/3, palette via
    PLTE with optional tRNS → alpha) at every legal bit depth — 1/2/4-bit
    packed rows are unpacked MSB-first (gray scaled exactly to 8-bit),
    16-bit samples downsample to the high byte — both non-interlaced and
    Adam7-interlaced (each pass unfiltered independently, scattered into
    place by strided assignment). Returns
    (H, W) uint8 for grayscale, else (H, W, C). The fourth real
    codec-free format next to PPM/PGM/BMP — and the first COMPRESSED
    one, so the production-adapter contract
    (tests/test_multimodal_codecs.py) runs un-skipped in this sandbox.

    Untrusted-input hardening: the expected raster size is computed from
    IHDR BEFORE inflating and the stream is inflated with an output cap
    (``zlib.decompressobj(...).decompress(data, max_length)``), so a
    crafted high-ratio deflate payload cannot allocate beyond the
    declared dimensions, and declared dimensions themselves are capped
    at ``_PNG_MAX_RASTER_BYTES``. A stream that inflates to MORE than
    the declared raster is rejected outright."""
    import struct
    import zlib

    if not payload or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    ihdr = None
    idat: list[bytes] = []
    plte: bytes | None = None
    trns: bytes | None = None
    i = len(_PNG_SIG)
    while i + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, i), payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        if len(data) < length or i + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, i + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IEND":
            break
        i += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    ch = _PNG_CHANNELS.get(color_type)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    # legal (color type → bit depth) matrix, RFC 2083 §4.1.1: sub-byte
    # depths exist only for gray and palette; 16-bit never for palette
    allowed_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                      4: (8, 16), 6: (8, 16)}[color_type]
    if depth not in allowed_depths:
        raise ValueError(
            f"bit depth {depth} invalid for PNG color type {color_type}"
        )
    palette: np.ndarray | None = None
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG (color type 3) missing PLTE chunk")
        if len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError(f"malformed PLTE length {len(plte)}")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if trns is not None and len(trns) > len(palette):
            raise ValueError("tRNS longer than palette")
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PNG dimensions {w}x{h}")
    passes = (
        _adam7_passes(w, h) if interlace == 1 else [(0, 0, 1, 1, w, h)]
    )

    def _scanline_bytes(wp: int) -> int:
        return (wp * ch * depth + 7) // 8

    # filter "left" distance: whole bytes per pixel, floored to 1 for the
    # sub-byte depths (RFC 2083: filters always operate on BYTES)
    bpp = max(1, (ch * depth) // 8)
    expected = sum(hp * (_scanline_bytes(wp) + 1) for *_xyd, wp, hp in passes)
    if expected > _PNG_MAX_RASTER_BYTES:
        raise ValueError(
            f"PNG raster {expected} bytes exceeds cap {_PNG_MAX_RASTER_BYTES}"
        )
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected)
    if len(raw) < expected:
        raise ValueError("truncated PNG raster")
    # one more capped pull: returns pending output whether it was retained
    # internally (max_length truncation) or still sits in unconsumed_tail.
    # NOT flush(): its arg is only an initial buffer size — flush returns
    # ALL remaining output, which would be the very bomb this guards.
    if d.decompress(d.unconsumed_tail, 1):
        raise ValueError("PNG IDAT inflates beyond the declared raster size")

    def _decode_block(block: bytes, wp: int, hp: int) -> np.ndarray:
        """One (sub-)image: unfilter the packed byte rows, then expand to
        (hp, wp, ch) uint8 pixels according to the bit depth."""
        sb = _scanline_bytes(wp)
        arr = np.frombuffer(block, dtype=np.uint8).reshape(hp, sb + 1)
        # the unfilter kernel thinks in (row, unit, byte) where unit =
        # bpp bytes; packed scanlines are a whole number of units
        rec = _png_unfilter(arr, hp, sb // bpp, bpp).reshape(hp, sb)
        if depth == 8:
            return rec.reshape(hp, wp, ch)
        if depth == 16:
            # network byte order: high byte first; downsample to 8-bit by
            # taking it (the standard 16→8 reduction)
            return rec.reshape(hp, wp, ch, 2)[:, :, :, 0]
        # sub-byte gray / palette indices: unpack d-bit codes, MSB first
        bits = np.unpackbits(rec, axis=1).reshape(hp, -1, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        vals = (bits * weights).sum(axis=2).astype(np.uint8)[:, :wp]
        if color_type == 0:
            # exact d-bit → 8-bit scaling: 255/(2^d-1) is integral here
            vals = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return vals[:, :, None]

    if interlace == 0:
        img = _decode_block(raw, w, h)
    else:
        # Adam7: each pass is an independently filtered sub-image —
        # unfilter per pass, scatter into place via strided assignment
        img = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, wp, hp in passes:
            n = hp * (_scanline_bytes(wp) + 1)
            img[y0::dy, x0::dx] = _decode_block(raw[off : off + n], wp, hp)
            off += n
    if palette is not None:
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of PLTE range")
        rgb = palette[idx]  # (H, W, 3)
        if trns is None:
            return rgb.copy()
        alpha_lut = np.full(len(palette), 255, dtype=np.uint8)
        alpha_lut[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
        return np.dstack([rgb, alpha_lut[idx]])
    return img[:, :, 0].copy() if ch == 1 else img


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W[, C]) uint8 → non-interlaced 8-bit PNG. ``filter_type``
    applies one RFC 2083 filter (0–4) to every scanline — the decode
    tests use it to exercise each unfilter path against real zlib-
    compressed bytes. Filtering is fully vectorized (the RECON plane is
    already known when encoding, unlike decoding)."""
    arr = np.ascontiguousarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = _PNG_COLOR_TYPE_BY_CH.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch}")
    body = _png_filter_body(arr, filter_type)
    return _png_assemble(w, h, 8, color_type, 0, body)


def _png_sample_bytes(arr: np.ndarray) -> np.ndarray:
    """(H, W, C) uint8 or uint16 → the raster BYTE matrix PNG filters see
    (uint16 samples become network-order byte pairs). Shared by the
    16-bit-capable encoders."""
    if arr.dtype != np.uint16:
        return arr
    hp, wp, ch = arr.shape
    return arr.astype(">u2").view(np.uint8).reshape(hp, wp, ch * 2)


def _png_filter_body(arr: np.ndarray, filter_type: int) -> bytes:
    """Apply one RFC 2083 filter to every scanline of (H, W, C) uint8;
    returns the raw (pre-deflate) raster: filter byte + filtered row per
    scanline. Fully vectorized (the RECON plane is already known when
    encoding, unlike decoding). Shared by the plain and Adam7 encoders."""
    h, w, ch = arr.shape
    if not 0 <= filter_type <= 4:
        raise ValueError(f"unknown PNG filter type {filter_type}")
    rows = arr.reshape(h, w * ch).astype(np.int16)
    left = np.zeros_like(rows)
    left[:, ch:] = rows[:, :-ch]
    up = np.zeros_like(rows)
    up[1:] = rows[:-1]
    upleft = np.zeros_like(rows)
    upleft[1:, ch:] = rows[:-1, :-ch]
    if filter_type == 0:
        filtered = rows
    elif filter_type == 1:
        filtered = rows - left
    elif filter_type == 2:
        filtered = rows - up
    elif filter_type == 3:
        filtered = rows - ((left + up) >> 1)
    else:
        p = left + up - upleft
        pa = np.abs(p - left)
        pb = np.abs(p - up)
        pc = np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
        )
        filtered = rows - pred
    return np.concatenate(
        [np.full((h, 1), filter_type, dtype=np.uint8),
         (filtered % 256).astype(np.uint8)],
        axis=1,
    ).tobytes()


def encode_png_adam7(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W[, C]) uint8 (→ 8-bit) or uint16 (→ 16-bit) → Adam7-INTERLACED
    PNG: each of the seven passes is extracted by the RFC 2083 §2.6 grid,
    filtered as an independent sub-image, and the concatenated pass
    rasters deflate into one IDAT. Fixture-side twin of ``decode_png``'s
    interlace path (real crawl PNGs are sometimes interlaced for
    progressive rendering)."""
    wide = np.asarray(img).dtype == np.uint16
    arr = np.ascontiguousarray(img, dtype=np.uint16 if wide else np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = _PNG_COLOR_TYPE_BY_CH.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch}")
    body = b"".join(
        _png_filter_body(
            _png_sample_bytes(np.ascontiguousarray(arr[y0::dy, x0::dx])),
            filter_type,
        )
        for x0, y0, dx, dy, _wp, _hp in _adam7_passes(w, h)
    )
    return _png_assemble(w, h, 16 if wide else 8, color_type, 1, body)


def encode_png16(img16: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W[, C]) uint16 → 16-bit PNG (network byte order). Fixture-side
    twin of ``decode_png``'s 16-bit path (which downsamples to the high
    byte); filtering runs on the packed byte matrix with the correct
    2·C-byte pixel distance."""
    arr = np.ascontiguousarray(img16, dtype=np.uint16)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = _PNG_COLOR_TYPE_BY_CH.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch}")
    body = _png_filter_body(_png_sample_bytes(arr), filter_type)
    return _png_assemble(w, h, 16, color_type, 0, body)


def encode_png_lowdepth(
    codes: np.ndarray,
    depth: int,
    palette: np.ndarray | None = None,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """(H, W) d-bit codes (d ∈ 1/2/4) → sub-byte PNG: grayscale when
    ``palette`` is None (codes are raw d-bit gray levels the decoder
    scales to 8-bit), else color-type-3 with packed palette indices —
    the favicon-grade shape small crawl images actually use. Rows are
    bit-packed MSB-first per RFC 2083; filtering runs on the packed
    bytes (bpp = 1)."""
    if depth not in (1, 2, 4):
        raise ValueError(f"low-depth encoder supports 1/2/4, got {depth}")
    arr = np.ascontiguousarray(codes, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("codes must be (H, W)")
    if int(arr.max(initial=0)) >= (1 << depth):
        raise ValueError(f"code out of range for depth {depth}")
    if palette is not None:
        pal = np.ascontiguousarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= (
            1 << depth
        ):
            raise ValueError("palette must be (N<=2^depth, 3) uint8")
        if int(arr.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
    h, w = arr.shape

    def pack_rows(sub: np.ndarray) -> bytes:
        # MSB-first d-bit packing, each row padded to a whole byte
        hp, wp = sub.shape
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        bits = ((sub[:, :, None] & weights) > 0).astype(np.uint8)
        sb = (wp * depth + 7) // 8
        row_bits = np.zeros((hp, sb * 8), dtype=np.uint8)
        row_bits[:, : wp * depth] = bits.reshape(hp, wp * depth)
        packed = np.packbits(row_bits, axis=1)  # (hp, sb)
        return _png_filter_body(packed[:, :, None], filter_type)

    if interlace:
        body = b"".join(
            pack_rows(np.ascontiguousarray(arr[y0::dy, x0::dx]))
            for x0, y0, dx, dy, _wp, _hp in _adam7_passes(w, h)
        )
    else:
        body = pack_rows(arr)
    return _png_assemble(
        w,
        h,
        depth,
        0 if palette is None else 3,
        1 if interlace else 0,
        body,
        extra=() if palette is None else ((b"PLTE", pal.tobytes()),),
    )


def encode_png_palette(
    indices: np.ndarray,
    palette: np.ndarray,
    trns: bytes | None = None,
    filter_type: int = 0,
) -> bytes:
    """(H, W) uint8 palette indices + (N≤256, 3) uint8 palette → 8-bit
    color-type-3 PNG (optional tRNS alpha table). Real crawl images are
    often palette-quantized; this is the fixture-side twin of
    ``decode_png``'s PLTE path."""
    idx = np.ascontiguousarray(indices, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("palette indices must be (H, W)")
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
        raise ValueError("palette must be (N<=256, 3) uint8")
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("palette index out of range")
    if trns is not None and len(trns) > len(pal):
        raise ValueError("tRNS longer than palette")
    h, w = idx.shape
    body = _png_filter_body(idx[:, :, None], filter_type)
    extra = [(b"PLTE", pal.tobytes())]
    if trns is not None:
        extra.append((b"tRNS", trns))
    return _png_assemble(w, h, 8, 3, 0, body, extra=tuple(extra))


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (mono float32 in [-1, 1], sample_rate). stdlib ``wave``
    handles the RIFF framing; NumPy converts/downmixes."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as f:
        rate = f.getframerate()
        n_ch = f.getnchannels()
        width = f.getsampwidth()
        raw = f.readframes(f.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif width == 3:  # 24-bit little-endian signed PCM
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float32) / float(1 << 23)
    elif width == 4:  # 32-bit signed PCM (stdlib wave is PCM-only)
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / float(1 << 31)
    else:
        raise ValueError(f"unsupported sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, rate


def encode_wav(x: np.ndarray, rate: int) -> bytes:
    import io
    import wave

    pcm = np.clip(np.asarray(x, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(pcm16.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Real feature extraction (vectorized NumPy, no codec deps)
# ---------------------------------------------------------------------------


def image_feature(img: np.ndarray, grid: int = 8) -> np.ndarray:
    """8×8 block-mean luminance, mean-centered and L2-normalized — the
    perceptual aHash embedding. Arbitrary (H, W) bins to the grid with a
    single bincount (no per-block Python loop)."""
    h, w = img.shape[:2]
    gray = (
        img.astype(np.float32)
        if img.ndim == 2  # grayscale (PGM / PIL mode "L")
        else img.astype(np.float32)[:, :, :3].mean(axis=2)
    )
    rb = np.arange(h, dtype=np.int64) * grid // h
    cb = np.arange(w, dtype=np.int64) * grid // w
    bins = (rb[:, None] * grid + cb[None, :]).ravel()
    sums = np.bincount(bins, weights=gray.ravel(), minlength=grid * grid)
    counts = np.bincount(bins, minlength=grid * grid)
    means = (sums / np.maximum(counts, 1)).astype(np.float32)
    v = means - means.mean()
    n = float(np.linalg.norm(v))
    if n > 0:
        return v / n
    m = float(np.linalg.norm(means))
    if m > 0:
        return means / m  # constant non-black frame
    # all-black frame: a zero vector would make cosine NULL downstream
    # (try_divide) and silently drop even byte-identical duplicates — map
    # every dead frame to one canonical unit vector instead, so identical
    # blanks still bucket together and verify at cosine 1.0
    out = np.zeros(grid * grid, dtype=np.float32)
    out[0] = 1.0
    return out


def audio_feature(x: np.ndarray, n_windows: int = 32) -> np.ndarray:
    """Per-window RMS energy + zero-crossing rate (2·n_windows dims),
    L2-normalized. Window sums via ``reduceat`` — no Python loop."""
    n = len(x)
    if n == 0:
        return np.zeros(2 * n_windows, dtype=np.float32)
    bounds = (np.arange(n_windows, dtype=np.int64) * n) // n_windows
    sq = np.add.reduceat(x.astype(np.float64) ** 2, bounds)
    sb = np.signbit(x).astype(np.int8)
    crossings = np.concatenate([[0.0], np.abs(np.diff(sb)).astype(np.float64)])
    zc = np.add.reduceat(crossings, bounds)
    widths = np.diff(np.append(bounds, n))
    # reduceat quirk: a zero-width window (duplicate bounds when
    # n < n_windows) yields x[bounds[i]], NOT 0 — without masking, a
    # short clip double-counts samples into phantom windows
    empty = widths == 0
    sq[empty] = 0.0
    zc[empty] = 0.0
    feat = np.concatenate(
        [np.sqrt(sq / np.maximum(widths, 1)), zc / np.maximum(widths, 1)]
    ).astype(np.float32)
    norm = float(np.linalg.norm(feat))
    if norm > 0:
        return feat / norm
    # all-silent clip: same canonical-unit treatment as image_feature —
    # a zero feature would NULL the cosine and drop identical silences
    feat[0] = 1.0
    return feat


def wav_feature_decoder(n_windows: int = 32) -> Callable[[bytes], np.ndarray]:
    """payload → 64-dim energy/ZCR feature (decode_wav + audio_feature)."""

    def decode(payload: bytes) -> np.ndarray:
        x, _rate = decode_wav(payload)
        return audio_feature(x, n_windows)

    return decode


def decode_image(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch over every codec-free image decoder
    (PNG/BMP/PPM/PGM) — the realistic crawl shape where one binary column
    carries whatever formats the web served. JPEG and GIF magic raise
    ``NotImplementedError`` via ``require_decoder`` (their production path
    is ``pil_feature_decoder()``); unrecognized magic raises ValueError
    (same totality contract as each decoder)."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        require_decoder("JPEG")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        require_decoder("GIF")
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"P5":
        return decode_pgm(payload)
    raise ValueError(
        f"unrecognized image magic {bytes(payload[:8])!r} "
        "(codec-free formats: PNG/BMP/PPM/PGM)"
    )


def image_feature_decoder(grid: int = 8) -> Callable[[bytes], np.ndarray]:
    """payload (any codec-free format) → 64-dim perceptual feature.
    Alpha never feeds luminance: RGBA drops to RGB, gray+alpha to gray."""

    def decode(payload: bytes) -> np.ndarray:
        arr = decode_image(payload)
        if arr.ndim == 3 and arr.shape[2] == 2:
            arr = arr[:, :, 0]
        elif arr.ndim == 3 and arr.shape[2] == 4:
            arr = arr[:, :, :3]
        return image_feature(arr, grid)

    return decode


def pil_feature_decoder(grid: int = 8) -> Callable[[bytes], np.ndarray]:
    """Production image decode: any PIL-readable payload (JPEG/PNG/WebP/…)
    → perceptual feature. Runtime-detected — raises the standard stub error
    when Pillow is absent (this sandbox), so the same call site works the
    day a codec exists (tests/test_multimodal_codecs.py skip-if-no-PIL)."""
    try:
        from PIL import Image
    except ImportError:
        require_decoder("PIL image")

    def decode(payload: bytes) -> np.ndarray:
        import io

        with Image.open(io.BytesIO(payload)) as im:
            arr = np.asarray(im.convert("RGB"))
        return image_feature(arr, grid)

    return decode


def soundfile_feature_decoder(
    n_windows: int = 32,
) -> Callable[[bytes], np.ndarray]:
    """Production audio decode: any libsndfile-readable payload (FLAC/OGG/
    WAV/…) → energy/ZCR feature. Runtime-detected like the PIL path."""
    try:
        import soundfile
    except ImportError:
        require_decoder("soundfile audio")

    def decode(payload: bytes) -> np.ndarray:
        import io

        x, _rate = soundfile.read(io.BytesIO(payload), dtype="float32")
        if x.ndim > 1:
            x = x.mean(axis=1)
        return audio_feature(x, n_windows)

    return decode


def deterministic_fake_decoder(dim: int = 64) -> Callable[[bytes], np.ndarray]:
    """Content-addressed fake 'decode': bytes → unit vector seeded by a
    CRC of the payload. Byte-identical media → identical features, so the
    whole downstream near-dup path is exercised realistically."""
    import zlib

    def decode(payload: bytes) -> np.ndarray:
        rng = np.random.default_rng(zlib.crc32(payload or b""))
        v = rng.standard_normal(dim).astype(np.float32)
        return v / np.linalg.norm(v)

    return decode


def _decode_chunk(
    pdf: pd.DataFrame, decode_fn: Callable[[bytes], np.ndarray]
) -> pd.DataFrame:
    # NULL payloads carry no content: drop the row (the empty-set skip
    # convention, functions/fast_shingle.py) instead of handing None to
    # decode_fn — one null row would otherwise fail the task 4× and
    # abort the whole multi-TB extract job
    pdf = pdf[pdf["payload"].notna()]
    feats = [decode_fn(p) for p in pdf["payload"]]
    # explicit dtypes: an all-NULL chunk yields an EMPTY frame, and
    # pandas' default empty-column dtype (float64) breaks the Arrow
    # list<float> conversion for the feature column
    return pd.DataFrame(
        {
            "media_id": pd.Series(
                pdf["media_id"].to_numpy(), dtype="int64"
            ),
            "feature": pd.Series(
                [f.tolist() for f in feats], dtype="object"
            ),
            "feat_dim": pd.Series(
                [len(f) for f in feats], dtype="int64"
            ),
        }
    )


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], np.ndarray] | None = None,
    batch_limit_bytes: int = 256 << 20,
) -> DataFrame:
    """media(binary payload) → (media_id, feature, feat_dim).

    ``mapInPandas`` so each Arrow batch holds full binary payloads exactly
    once; heavy rows are bounded by repartitioning upstream (payload column
    never passes through a shuffle here — narrow map over the scan).
    ``batch_limit_bytes`` bounds how many payload bytes are DECODED per
    chunk: an Arrow batch of large media rows is split so decoded feature
    lists never hold more than the cap's worth of source payloads at once.
    """
    if decode_fn is None:
        require_decoder("media")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            start = 0
            acc = 0
            for i, p in enumerate(pdf["payload"]):
                acc += len(p) if p is not None else 0
                # flush BEFORE exceeding the cap (each chunk keeps >=1 row
                # so a single over-cap payload still decodes)
                if acc > batch_limit_bytes and i > start:
                    yield _decode_chunk(pdf.iloc[start:i], decode_fn)
                    start, acc = i, len(p) if p is not None else 0
            if start < len(pdf):
                yield _decode_chunk(pdf.iloc[start:], decode_fn)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def media_near_dup(
    media: DataFrame,
    decode_fn: Callable[[bytes], np.ndarray] | None = None,
    cosine_threshold: float = 0.98,
    n_tables: int = 8,
    bits_per_table: int = 12,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cosine): near-duplicate media via hyperplane-LSH bucket
    join + exact cosine verify — the image-dedup workload named in the
    reference's notes. ``decode_fn`` maps one payload to its feature
    (``image_feature_decoder()``, ``wav_feature_decoder()``, or the
    PIL/soundfile adapters)."""
    from lsh_qd_spark.operators.ann import cosine_expr, hyperplane_coefficients, make_hyperplane_udf
    from lsh_qd_spark.operators.pairs import candidate_pairs

    # eager localCheckpoint: feats has THREE consumers in one action (the
    # bucketing explode plus both sides of the verify join) — on a lazy
    # plan the mapInPandas decode kernel re-runs per consumer and rescans
    # the binary payload column three times; decode dominates the job
    # with real codecs. Same discipline as pipeline._MULTI_CONSUMER_STAGES.
    feats = extract_features(media, decode_fn).localCheckpoint(eager=True)
    udf = make_hyperplane_udf(
        hyperplane_coefficients(n_tables, bits_per_table, dim, seed),
        bits_per_table,
    )
    keyed = feats.select(
        F.col("media_id").alias("doc_id"),
        F.posexplode(udf(F.col("feature"))).alias("band_idx", "band_key"),
    )
    cand = candidate_pairs(
        keyed.select("doc_id", "band_idx", "band_key"),
        alpha=1,
        max_bucket_size=10_000,
    )
    side = feats.select(F.col("media_id").alias("_id"), F.col("feature").alias("_f"))
    return (
        cand.join(side.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnRenamed("_f", "f_a")
        .join(side.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumnRenamed("_f", "f_b")
        .select(
            "id_a",
            "id_b",
            cosine_expr(F.col("f_a"), F.col("f_b")).alias("cosine"),
        )
        .where(F.col("cosine") >= cosine_threshold)
    )
