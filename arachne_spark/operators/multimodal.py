"""Multimodal binary-column plumbing.

Treats image/audio/video payloads as opaque ``binary`` columns with
typed metadata, following the mediainfo (M-entity) capability of the
reference (commons endpoint selection, /root/reference/src/
pheidippides.cpp:36-39).  Everything that is pure structure or
lossless coding decodes FOR REAL from the public specs — no codec
library in this container, none needed; only the perceptual entropy
coders (MP3/AAC/OGG samples, non-MJPEG video pixels) keep
clearly-labeled stubs.  Every format's structure is walked once, by
one layout function, through the bounded ``_Reader``: a declared
size the payload cannot back, or an allocation past ``_MAX_PIXELS``,
raises ``Malformed``, and the ``_never_raise`` boundary on each
public decoder turns it into None.  JPEG's one marker walk
(``_jpeg_segments``) serves both the header decode and the T.81
decoder, and one BITMAPINFOHEADER parse (``_dib_header``), one
header gate (``_dib_ok``) and one palette read (``_dib_palette``)
serve BMP files, ICO DIB entries and the AVI video ``strf``.  Only the coded data past the structure —
JPEG scans, FLAC frames, RLE and MS Video 1 blocks, sample arrays —
is read outside the reader, by each codec's own loop.  The Spark
side — schema, Arrow batch shape, ``mapInPandas`` iterator
signature, fan-out row production, binary output columns, partition
preservation — is real and tested throughout:

* ``binary_meta``       — per-payload typed metadata (1 row / input);
* ``frame_sample``      — every-nth frame extraction (N rows / input
  — the fan-out shape of real video sampling), hash-checked against
  a byte-level DuckDB oracle (q42); REAL frames for AVI (movi
  chunks), MP4 (sample-table byte ranges) and animated GIF
  (re-wrapped standalone frames), fixed-stride slicing stub
  otherwise;
* ``resize_meta``       — decode → target-dimension computation with
  aspect preserved; thumbnail bytes are REAL nearest-neighbor
  resampled pixels for every pixel-decodable format (every legal
  PNG via ``decode_png_pixels`` — stdlib-zlib inflate + per-row
  unfilter, palette/16-bit/sub-byte/Adam7 included — binary PPM,
  GIF via pure-Python LZW, TIFF — uncompressed, LZW, Deflate,
  PackBits and JPEG strips, Predictor-2 undone — and JPEG —
  sequential AND progressive — via a from-spec T.81 decoder: Huffman
  entropy decode, Annex-G multi-scan coefficient accumulation,
  dequantize + numpy IDCT + YCbCr→RGB) and BMP; REAL SAMPLE decode
  for WAV PCM/IEEE-float AND lossless FLAC (rice-coded residuals,
  fixed/LPC predictors, stereo decorrelation — RFC 9639);
  payload-prefix stub only for the remaining entropy-coded formats
  (MP3/AAC/OGG samples);
* ``extract_features``  — payload → float feature vector: REAL
  grid-pooled luminance features for the pixel-decodable formats and
  a REAL byte-distribution gist (per-bin byte counts; cosine-
  compatible by scale invariance) for everything else — no stubbed
  feature path remains; the output column shape (array<float>) feeds
  the ANN operators directly (operators/ann.py) — binary in,
  searchable embedding out, end-to-end.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class Malformed(ValueError):
    """A declared size, offset or count that the payload cannot back,
    or an allocation past its cap — the one error every structure
    walk raises."""


# adversarial dimension-claim bound for every pixel allocation sized
# from a declared field (PNG, GIF, TIFF, BMP, JPEG, composed video);
# header-only decodes have no such bound — metadata is cheap
_MAX_PIXELS = 1 << 22

# what hostile bytes can make a decoder raise; MemoryError and
# everything else propagate (the capped sweeps rely on seeing them)
_HOSTILE = (ValueError, IndexError, KeyError, struct.error, OverflowError,
            zlib.error)


def _never_raise(fn):
    """The never-raise boundary of a public decoder or frame
    extractor: malformed input yields None, so one hostile payload
    cannot fail an Arrow batch."""

    @functools.wraps(fn)
    def guarded(payload):
        try:
            return fn(payload)
        except _HOSTILE:
            return None

    return guarded


def _need(count: int, limit: int) -> int:
    """The one bounds check: a size or count declared by the payload
    must not exceed what backs it — the bytes left in a ``_Reader``
    range, or an allocation cap such as ``_MAX_PIXELS``."""
    if not 0 <= count <= limit:
        raise Malformed(f"declared {count} exceeds {limit}")
    return count


class _Reader:
    """Bounded cursor over ``data[pos:end]`` with typed reads in one
    byte order; every read and sub-range is checked against ``end``.
    The structure walks (ISO-BMFF boxes, RIFF/IFF chunks, EBML
    elements) live here and yield (type, body reader) pairs."""

    __slots__ = ("data", "pos", "end", "order")

    def __init__(self, data: bytes, pos: int = 0, end: int | None = None,
                 order: str = "big"):
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else end
        self.order = order

    @property
    def remaining(self) -> int:
        return self.end - self.pos

    def take(self, n: int) -> bytes:
        p = self.pos
        self.pos = p + _need(n, self.end - p)
        return self.data[p:self.pos]

    def skip(self, n: int) -> None:
        self.pos += _need(n, self.end - self.pos)

    def sub(self, n: int) -> "_Reader":
        p = self.pos
        self.pos = p + _need(n, self.end - p)
        return _Reader(self.data, p, self.pos, self.order)

    def uint(self, n: int) -> int:
        return int.from_bytes(self.take(n), self.order)

    def u8(self) -> int:
        p = self.pos
        self.pos = p + _need(1, self.end - p)
        return self.data[p]

    def u16(self) -> int:
        return int.from_bytes(self.take(2), self.order)

    def u24(self) -> int:
        return int.from_bytes(self.take(3), self.order)

    def u32(self) -> int:
        return int.from_bytes(self.take(4), self.order)

    def unpack(self, fmt: str) -> tuple:
        """Typed fields or a whole table at once (``struct`` codes
        without a byte-order prefix, e.g. "HHI" or "12I"), bounds-
        checked once."""
        fmt = (">" if self.order == "big" else "<") + fmt
        return struct.unpack(fmt, self.take(struct.calcsize(fmt)))

    def boxes(self):
        """ISO-BMFF box table (u32 size incl. header, 1 = u64
        largesize, 0 = to the end of the range); the boxes must tile
        the range."""
        while self.pos < self.end:
            start = self.pos
            size, btype = self.u32(), self.take(4)
            if size == 1:
                size = self.uint(8)
                if size < 16:
                    raise Malformed("largesize too small")
            elif size == 0:
                size = self.end - start
            elif size < 8:
                raise Malformed("box size below header size")
            yield btype, self.sub(size - (self.pos - start))

    def chunks(self):
        """RIFF (little-endian) / IFF (big-endian) chunk table: fourcc +
        u32 size, bodies padded to even offsets; every chunk must fit
        the range (the final pad byte may lie past it)."""
        while self.pos < self.end:
            fourcc, size = self.take(4), self.u32()
            yield fourcc, self.sub(size)
            self.pos += size & 1

    def vint(self, is_id: bool = False) -> int | None:
        """One EBML variable-length integer (RFC 8794): the lead
        byte's first set bit gives the width; IDs keep the marker bit,
        sizes clear it and read the all-ones 'unknown size' as None."""
        if self.pos >= self.end or not self.data[self.pos]:
            raise Malformed("ebml: bad vint lead byte")
        ln = 9 - self.data[self.pos].bit_length()
        val = int.from_bytes(self.take(ln), "big")
        if is_id:
            return val
        val &= (1 << (7 * ln)) - 1
        return None if val == (1 << (7 * ln)) - 1 else val

    def svint(self) -> int:
        """Signed EBML vint (Matroska lacing deltas): the unsigned
        value minus 2^(7·width−1) − 1."""
        start = self.pos
        val = self.vint()
        if val is None:
            raise Malformed("ebml: all-ones signed vint")
        return val - ((1 << (7 * (self.pos - start) - 1)) - 1)

    def ebml_elements(self):
        """EBML element table (ID vint + size vint + body); the table
        must tile the range.  An unknown size is lawful only for the
        Segment (streamed Matroska), which then runs to the end."""
        while self.pos < self.end:
            eid, size = self.vint(is_id=True), self.vint()
            if size is None:
                if eid != 0x18538067:
                    raise Malformed("ebml: unknown size outside Segment")
                yield eid, self.sub(self.remaining)
                return
            yield eid, self.sub(size)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# legal bit depths per colour type, PNG spec §11.2.2
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),  # greyscale
    2: (8, 16),           # truecolour
    3: (1, 2, 4, 8),      # indexed
    4: (8, 16),           # grey+alpha
    6: (8, 16),           # truecolour+alpha
}


def _png_layout(data: bytes) -> tuple | None:
    """The one PNG structure walk, no codec library: fixed 8-byte
    magic, first chunk a 13-byte IHDR whose CRC32 verifies
    (zlib.crc32 over type+data — stdlib, not a codec) with legal field
    values, then the chunk table — every chunk before IEND must fit
    the payload, an IDAT must appear and the walk must reach IEND (no
    inflation).  Returns (w, h, bit_depth, color_type, interlace,
    idat stream, last PLTE) or None."""
    r = _Reader(data)
    if (len(data) < 33 or r.take(8) != PNG_MAGIC or r.u32() != 13
            or r.take(4) != b"IHDR"):
        return None
    w, h = r.u32(), r.u32()
    depth, color, compression, filt, interlace = r.take(5)
    if zlib.crc32(data[12:29]) != r.u32():
        return None
    if not (0 < w < 2**31 and 0 < h < 2**31):
        return None
    if depth not in _PNG_DEPTHS.get(color, ()):
        return None
    if compression != 0 or filt != 0 or interlace not in (0, 1):
        return None
    idat, plte = [], None
    while r.remaining >= 8:
        clen, ctype = r.u32(), r.take(4)
        if ctype == b"IEND":
            if not idat:
                return None
            return w, h, depth, color, interlace, b"".join(idat), plte
        body = r.take(clen)
        r.skip(4)  # crc
        if ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
    return None


def _decode_png(payload: bytes) -> dict | None:
    """PNG header decode: dimensions from ``_png_layout``."""
    layout = _png_layout(bytes(payload))
    if layout is None:
        return None
    return {"format": "png", "width": layout[0], "height": layout[1]}


def _png_unfilter(
    raw: bytes, h: int, stride: int, bpp: int, off: int
) -> tuple[bytes, int] | None:
    """Invert the five per-row PNG filters (None/Sub/Up/Average/Paeth,
    spec §9) over ``h`` scanlines of ``stride`` bytes starting at
    ``raw[off]`` — one Adam7 pass, or the whole image when
    non-interlaced.  Returns (unfiltered rows, next offset), or None
    on truncation / an illegal filter byte."""
    need = h * (stride + 1)
    if off + need > len(raw):
        return None
    out = bytearray(h * stride)
    prev = bytes(stride)
    for y in range(h):
        base = off + y * (stride + 1)
        ft = raw[base]
        row = bytearray(raw[base + 1:base + 1 + stride])
        if ft == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                b = prev[x]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = (
                    a
                    if pa <= pb and pa <= pc
                    else (b if pb <= pc else c)
                )
                row[x] = (row[x] + pr) & 0xFF
        elif ft != 0:
            return None
        out[y * stride:(y + 1) * stride] = row
        prev = row
    return bytes(out), off + need


# Adam7 pass origins/steps (x0, y0, dx, dy), PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


@_never_raise
def decode_png_pixels(payload: bytes | None) -> dict | None:
    """REAL PNG pixel decode via stdlib zlib — no codec library:
    inflate the concatenated IDAT stream and invert the five per-row
    filters (None/Sub/Up/Average/Paeth, PNG spec §9) scanline by
    scanline.  Covers every legal PNG format: the 8-bit
    direct formats (color types 0 grey, 2 RGB, 4 grey+alpha, 6 RGBA),
    palette images (color type 3 at bit depths 1/2/4/8: MSB-first
    index unpack + PLTE lookup → RGB), sub-byte grayscale (depths
    1/2/4, rescaled to 8-bit by v*255/(2^d-1)), 16-bit samples
    (reduced to 8-bit by the high byte, the spec's sample-depth
    scaling), and Adam7 interlace (spec §8.2: seven independently
    filtered reduced images scattered back onto the pixel grid; empty
    passes contribute zero stream bytes).  Returns
    ``{"width", "height", "channels", "pixels"}`` with ``pixels`` =
    height rows of width*channels bytes, or None; never raises on
    adversarial bytes (structural validation via ``_png_layout``,
    zlib/length failures → None).  Per-byte Python is fine here: this
    runs inside Arrow batches on THUMBNAIL-SCALE work (a deployment
    decoding full-size photos swaps in an Arrow-native codec, same
    mapInPandas plumbing)."""
    layout = payload and _png_layout(bytes(payload))
    if not layout:
        return None
    w, h, bit_depth, color_type, interlace, idat, plte = layout
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    # a CRC-valid IHDR can still claim huge dims over a tiny (or
    # zip-bomb) IDAT: bound the pixel grid before any allocation
    _need(w * h, _MAX_PIXELS)
    # cap the inflate at the largest legal filtered-stream size
    # (≤ 8 bytes/pixel + one filter byte per scanline, interlace
    # adds at most one short row per pass) so a zip-bomb IDAT
    # cannot expand past the declared image
    d = zlib.decompressobj()
    raw = d.decompress(idat, (w * 8 + 2) * h + 4096)
    if d.unconsumed_tail:
        return None
    # packed formats (palette at any depth, sub-byte grayscale) carry
    # one sample VALUE per pixel; byte-aligned formats carry bpp raw
    # bytes per pixel — decode each pass and scatter onto the full
    # pixel grid (the non-interlaced image is a single full-size pass)
    packed = color_type == 3 or bit_depth < 8
    if color_type == 3 and (plte is None or not plte or len(plte) % 3):
        return None
    if packed:
        vals = bytearray(w * h)  # one sample value per pixel
        mask = (1 << bit_depth) - 1
        per_byte = 8 // bit_depth
    else:
        sample_bytes = bit_depth // 8
        bpp = channels * sample_bytes
        out = bytearray(w * h * bpp)  # full-image sample bytes
    passes = ((0, 0, 1, 1),) if interlace == 0 else _ADAM7
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        if packed:
            # filters act on the packed index bytes: bpp = 1, stride =
            # the scanline's packed byte length (PNG spec §9: "bpp is
            # rounded up to one" for sub-byte depths)
            stride_p, bpp_p = (pw * bit_depth + 7) // 8, 1
        else:
            stride_p, bpp_p = pw * bpp, bpp
        res = _png_unfilter(raw, ph, stride_p, bpp_p, off)
        if res is None:
            return None
        rows, off = res
        if packed:
            for py in range(ph):
                base = py * stride_p
                trow = (y0 + py * dy) * w + x0
                for px in range(pw):
                    b = rows[base + px // per_byte]
                    shift = 8 - bit_depth * (px % per_byte + 1)
                    vals[trow + px * dx] = (b >> shift) & mask
        else:
            for py in range(ph):
                base = py * stride_p
                trow = (y0 + py * dy) * w + x0
                for px in range(pw):
                    t = (trow + px * dx) * bpp
                    s = base + px * bpp
                    out[t:t + bpp] = rows[s:s + bpp]
    if off != len(raw):  # the passes must tile the stream exactly
        return None
    if color_type == 3:
        n_entries = len(plte) // 3
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(vals):
            if idx >= n_entries:
                return None  # spec: out-of-range index is an error
            rgb[i * 3:i * 3 + 3] = plte[idx * 3:idx * 3 + 3]
        return {
            "width": w, "height": h, "channels": 3,
            "pixels": bytes(rgb),
        }
    if bit_depth < 8:  # sub-byte grayscale → 8-bit rescale
        return {
            "width": w, "height": h, "channels": 1,
            "pixels": bytes(v * 255 // mask for v in vals),
        }
    if bit_depth == 16:  # high byte = the spec's depth rescale
        return {
            "width": w, "height": h, "channels": channels,
            "pixels": bytes(out[::2]),
        }
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "pixels": bytes(out),
    }


def _netpbm_layout(data: bytes) -> tuple | None:
    """The one binary-netpbm header walk (P6 PPM / P5 PGM):
    whitespace- and comment-tolerant tokens for width, height and
    maxval, then exactly one whitespace byte before the pixel array,
    whose declared length must be present.  Returns (format, w, h,
    maxval, pixel offset) or None."""
    toks: list[bytes] = []
    i, n = 2, len(data)
    while len(toks) < 3 and i < n:
        c = data[i:i + 1]
        if c == b"#":  # comment runs to end of line
            while i < n and data[i:i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while (
                j < n
                and not data[j:j + 1].isspace()
                and data[j:j + 1] != b"#"
            ):
                j += 1
            toks.append(data[i:j])
            i = j
    if len(toks) < 3 or i >= n:
        return None
    w, h, maxval = (int(t) for t in toks)
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        return None
    per_px = (3 if data[:2] == b"P6" else 1) * (2 if maxval > 255 else 1)
    if n - (i + 1) < w * h * per_px:
        return None
    return ("ppm" if data[:2] == b"P6" else "pgm"), w, h, maxval, i + 1


@_never_raise
def _ppm_pixels(payload: bytes | None) -> dict | None:
    """Raw pixel extraction for binary PPM (P6, maxval <= 255): the
    header is ``_netpbm_layout``'s; pixels are the w*h*3 bytes after
    it.  Same return shape as ``decode_png_pixels``."""
    data = bytes(payload or b"")
    # decode_image routes an ftyp at bytes 4-8 to HEIF before netpbm
    if data[:2] != b"P6" or data[4:8] == b"ftyp":
        return None
    layout = _netpbm_layout(data)
    # 2-byte samples are out of scope (like 16-bit PNG)
    if layout is None or layout[3] > 255:
        return None
    _, w, h, _, start = layout
    return {
        "width": w,
        "height": h,
        "channels": 3,
        "pixels": data[start:start + w * h * 3],
    }


def _nn_resize(
    pixels: bytes, w: int, h: int, ch: int, ow: int, oh: int
) -> bytes:
    """Deterministic nearest-neighbor resample (source index =
    floor(out_index * in_size / out_size)) — the thumbnail codec."""
    out = bytearray(ow * oh * ch)
    for oy in range(oh):
        sy = oy * h // oh
        for ox in range(ow):
            si = (sy * w + ox * w // ow) * ch
            oi = (oy * ow + ox) * ch
            out[oi:oi + ch] = pixels[si:si + ch]
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int, npix: int) -> bytes | None:
    """GIF-variant LZW decode (LSB-first variable-width codes, CLEAR /
    END control codes, 12-bit ceiling) — pure algorithm, no codec
    library.  Returns exactly ``npix`` index bytes or None."""
    if not 2 <= min_code <= 8:
        return None
    clear, end = 1 << min_code, (1 << min_code) + 1
    code_size = min_code + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total_bits = 0, len(data) * 8
    while len(out) < npix:
        if bitpos + code_size > total_bits:
            return None
        byte_i = bitpos // 8
        window = int.from_bytes(data[byte_i:byte_i + 4], "little")
        code = (window >> (bitpos % 8)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:  # the KwKwK case
                entry = prev + prev[:1]
            else:
                return None
            if next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
        out.extend(entry)
        prev = entry
    return bytes(out[:npix]) if len(out) >= npix else None


def _gif_subblocks(r: _Reader) -> bytes:
    """One GIF sub-block chain (size-prefixed blocks ending at a 0
    terminator), joined; Malformed if it runs off the payload."""
    out = []
    while size := r.u8():
        out.append(r.take(size))
    return b"".join(out)


def _gif_layout(data: bytes) -> tuple | None:
    """The one GIF block walk, shared by the header, pixel, frame and
    compose decoders: logical screen (width, height, flags,
    background index), the global colour table, then extension and
    image blocks up to the 0x3B trailer or the payload end.  Each
    image is (left, top, w, h, flags, palette — local else global —,
    palette bits, raw LZW block incl. the min-code byte, min code,
    joined LZW data, (disposal, transparent index) of the last
    graphic control extension before it).  Returns (sw, sh, flags,
    bg_index, gct, images, trailer reached) or None; raises Malformed
    when a table or sub-block chain runs off the payload."""
    n = len(data)
    if n < 14 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    r = _Reader(data, 6, order="little")
    sw, sh, flags, bg_index, _ = r.unpack("HHBBB")
    gct = r.take(3 * (2 << (flags & 7))) if flags & 0x80 else None
    images: list[tuple] = []
    gce = (0, None)
    while r.pos < n:
        i = r.pos
        b = r.u8()
        if b == 0x3B:  # trailer
            return sw, sh, flags, bg_index, gct, images, True
        if b == 0x21:  # extension: label + sub-blocks
            if data[i + 1:i + 2] == b"\xf9" and i + 7 < n and (
                    data[i + 2] == 4):
                packed = data[i + 3]
                gce = ((packed >> 2) & 7,
                       data[i + 6] if packed & 1 else None)
            r.skip(1)
            _gif_subblocks(r)
        elif b == 0x2C:  # image descriptor
            if r.remaining < 9:
                return None
            left, top, iw, ih, lflags = r.unpack("HHHHB")
            pal, bits = gct, (flags & 7 if gct is not None else 0)
            if lflags & 0x80:  # local colour table
                bits = lflags & 7
                pal = r.take(3 * (2 << bits))
            start = r.pos
            min_code = r.u8()
            lzw = _gif_subblocks(r)
            images.append((left, top, iw, ih, lflags, pal, bits,
                           data[start:r.pos], min_code, lzw, gce))
            gce = (0, None)
        else:
            return None
    return sw, sh, flags, bg_index, gct, images, False


def _gif_header(layout: tuple | None) -> dict | None:
    """``decode_image``'s GIF gate over ``_gif_layout``: positive
    logical-screen dims, at least one image descriptor AND the
    trailer — "GIF89a" followed by junk fails, same contract as the
    PNG chunk walk."""
    if layout is None:
        return None
    sw, sh, _, _, _, images, trailer = layout
    if sw <= 0 or sh <= 0 or not images or not trailer:
        return None
    return {"format": "gif", "width": sw, "height": sh}


def _decode_gif(payload: bytes) -> dict | None:
    """GIF header decode: the logical-screen dims (``_gif_header``)."""
    return _gif_header(_gif_layout(bytes(payload)))


def _gif_indices(image: tuple) -> bytes | None:
    """One GIF image's palette indices in display order: LZW decode
    (``_lzw_decode``), every index inside the palette, interlaced rows
    (4 passes) put back in order.  None if the stream is bad."""
    _, _, iw, ih, lflags, pal, _, _, min_code, lzw, _ = image
    idx = _lzw_decode(lzw, min_code, iw * ih)
    if idx is None or max(idx) * 3 + 2 >= len(pal):
        return None
    if lflags & 0x40:  # interlaced: rows arrive in 4 passes
        rows = [idx[r * iw:(r + 1) * iw] for r in range(ih)]
        order = (
            list(range(0, ih, 8)) + list(range(4, ih, 8))
            + list(range(2, ih, 4)) + list(range(1, ih, 2))
        )
        deinter: list[bytes] = [b""] * ih
        for src, dst in enumerate(order):
            deinter[dst] = rows[src]
        idx = b"".join(deinter)
    return idx


@_never_raise
def decode_gif_pixels(payload: bytes | None) -> dict | None:
    """REAL GIF pixel decode — LZW is pure bit-twiddling, no codec
    library: the FIRST image of ``_gif_layout`` (local or global
    colour table), its index stream decoded and de-interlaced
    (``_gif_indices``) and mapped through the palette to RGB bytes.
    Frames after the first (animation) are out of scope — the first
    frame is the thumbnail/feature source.  Same return shape as
    ``decode_png_pixels`` (channels = 3); None on anything malformed,
    never raises."""
    layout = _gif_layout(bytes(payload or b""))
    if _gif_header(layout) is None:
        return None
    image = layout[5][0]
    iw, ih, pal = image[2], image[3], image[5]
    if pal is None or iw <= 0 or ih <= 0:
        return None
    # bound the LZW output target (hostile dims would otherwise let
    # max-length dictionary entries expand ~4096x)
    _need(iw * ih, _MAX_PIXELS)
    idx = _gif_indices(image)
    if idx is None:
        return None
    return {
        "width": iw,
        "height": ih,
        "channels": 3,
        "pixels": bytes(v for k in idx for v in pal[3 * k:3 * k + 3]),
    }


# SOF markers that carry frame dimensions: C0-C3, C5-C7, C9-CB, CD-CF
# (C4 = DHT, C8 = JPG extension, CC = DAC — no dimensions)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# markers without a length field (T.81 B.1.1.3): TEM, RST0-7, SOI
_JPEG_STANDALONE = frozenset((0x01, *range(0xD0, 0xD9)))


def _jpeg_segments(data: bytes):
    """The one JPEG marker walk (T.81 B.1): SOI, then fill bytes and
    the standalone markers (TEM, RSTn, SOI) skipped, each
    length-bearing segment yielded as (marker, body reader), and EOI
    yielded as (0xD9, None), which ends the walk.  After an SOS
    segment the caller decodes the entropy-coded data that starts at
    ``body.end``; the walk resumes at the next marker that is neither
    stuffed (FF00) nor RSTn — where ``_JpegBits``, which stops at any
    other marker, left off — and ends if there is none.  A byte other
    than a marker where one is due, or a length the payload cannot
    back, raises ``Malformed``."""
    r = _Reader(data)
    if r.take(2) != b"\xff\xd8":
        raise Malformed("jpeg: no SOI")
    while r.remaining >= 2:
        if r.u8() != 0xFF:
            raise Malformed("jpeg: marker expected")
        marker = data[r.pos]
        if marker == 0xFF:  # fill byte
            continue
        r.pos += 1
        if marker in _JPEG_STANDALONE:
            continue
        if marker == 0xD9:
            yield marker, None
            return
        size = r.u16()
        if size < 2:
            raise Malformed("jpeg: segment length below 2")
        body = r.sub(size - 2)
        yield marker, body
        if marker == 0xDA:
            i = r.pos
            while ((i := data.find(b"\xff", i, len(data) - 1)) >= 0
                   and (not data[i + 1] or 0xD0 <= data[i + 1] <= 0xD7)):
                i += 2
            if i < 0:
                return
            r.pos = i


def _decode_jpeg(payload: bytes) -> dict | None:
    """JPEG frame-header decode, no codec library: the marker walk
    (``_jpeg_segments``) up to the first SOF, whose body gives
    (precision, height, width, components).  The walk itself is the
    structural validation — arbitrary text after an SOI prefix fails
    it — and an SOS or EOI before any SOF fails the decode."""
    for marker, body in _jpeg_segments(payload):
        if marker in (0xD9, 0xDA):
            return None
        if marker in _JPEG_SOF:
            precision, h, w, ncomp = body.unpack("BHHB")
            if not w or not h:
                return None
            if precision not in (8, 12, 16) or ncomp not in (1, 3, 4):
                return None
            return {"format": "jpeg", "width": w, "height": h}
    return None


# Baseline-JPEG pixel decode (ITU-T T.81 sequential DCT, Huffman):
# zigzag scan order, the 8x8 DCT-III basis, canonical Huffman tables
# from the DHT BITS/HUFFVAL encoding, and an MSB-first bit reader over
# the byte-stuffed entropy-coded segment.  Everything below is from
# the public spec — no codec library.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_dct_basis() -> "np.ndarray":
    c = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            c[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_JPEG_DCT_C = _jpeg_dct_basis()


def _jpeg_huff_table(
    bits: bytes, vals: bytes
) -> dict[tuple[int, int], int]:
    """(code length, code value) -> symbol, from DHT's BITS/HUFFVAL
    canonical encoding (T.81 C.2)."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first reader over an entropy-coded segment: removes 0xFF00
    byte stuffing, pads with 1-bits at a real marker (spec-legal scan
    tail — one fill's worth at most, so a scan cannot decode its
    blocks from padding alone), raises ValueError on payload underrun;
    restart markers are consumed byte-aligned via ``align_restart``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.pad = 0  # padding bytes fed since the scan or restart

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                raise ValueError("scan underrun")
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0x00:
                    self.pos += 2
                elif nxt is None:
                    raise ValueError("scan underrun")
                else:  # marker reached: 1-bit padding, stay put
                    self.pad += 1
                    if self.pad > 4:
                        raise Malformed("scan padding past one fill")
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def huff_decode(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")

    def align_restart(self, n: int) -> None:
        self.acc = 0
        self.nbits = 0
        self.pad = 0
        d, p = self.data, self.pos
        if p + 2 > len(d) or d[p] != 0xFF or d[p + 1] != 0xD0 + (n & 7):
            raise ValueError("missing restart marker")
        self.pos = p + 2


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


@_never_raise
def decode_jpeg_pixels(payload: bytes | None) -> dict | None:
    """REAL baseline-JPEG pixel decode from the public T.81 spec — no
    codec library: the marker walk (``_jpeg_segments``) collects
    DQT/DHT/SOF/DRI/SOS, each scan is Huffman-decoded block by block
    into a per-component coefficient store (DC prediction + AC
    run/size codes, restart markers honored), and one pass
    dequantizes, un-zigzags and IDCTs the store with the exact 8x8
    float basis (numpy), nearest-upsamples chroma and converts YCbCr
    to RGB by the JFIF matrix.  A SEQUENTIAL frame (SOF0/1) finishes
    right after its one scan; a PROGRESSIVE frame (SOF2) accumulates
    T.81 Annex G scans — DC first and refinement scans, AC first
    scans with EOB runs and ZRL, and AC refinement scans with
    position-synchronized correction bits — and finishes at EOI.
    Scope: Huffman 8-bit (SOF0/1/2), 1 or 3 components, sampling
    factors 1-4 — the overwhelming majority of web JPEGs; arithmetic,
    12-bit and CMYK return None and stay on the metadata-only path.
    Same return shape as ``decode_png_pixels``; never raises on
    adversarial bytes (dimension claims bounded by ``_MAX_PIXELS``).
    Per-symbol Python bit-reading is fine here: thumbnail-scale work
    inside Arrow batches, same contract as the PNG unfilter loop."""
    data = bytes(payload or b"")
    qt: dict[int, "np.ndarray"] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (width, height, components, coefficient store)
    progressive = False
    dri = n_scans = 0
    for marker, body in _jpeg_segments(data):
        if marker == 0xD9:  # EOI: ends a progressive frame
            if progressive and n_scans:
                return _jpeg_finish(*frame, qt)
            return None
        if marker == 0xDB:  # DQT (possibly several tables)
            while body.remaining:
                pq, tq = divmod(body.u8(), 16)
                if pq > 1:
                    return None
                qt[tq] = np.array(body.unpack("64H" if pq else "64B"),
                                  dtype=float)
        elif marker == 0xC4:  # DHT (possibly several tables)
            while body.remaining >= 17:
                tc, th = divmod(body.u8(), 16)
                bits = body.take(16)
                vals = body.take(sum(bits))
                if tc > 1:
                    return None
                (huff_ac if tc else huff_dc)[th] = (
                    _jpeg_huff_table(bits, vals)
                )
        elif marker in (0xC0, 0xC1, 0xC2):  # Huffman DCT frames
            frame = _jpeg_frame(body)
            if frame is None:
                return None
            progressive = marker == 0xC2
        elif marker in _JPEG_SOF:  # arithmetic/lossless/12-bit
            return None
        elif marker == 0xDD:  # DRI
            dri = body.u16()
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            comps = frame[2]
            ns = body.u8()
            scan = []
            for _ in range(ns):
                cs, t = body.u8(), body.u8()
                ci = next(
                    (k for k, c in enumerate(comps) if c[0] == cs), None
                )
                if ci is None:
                    return None
                scan.append((ci, huff_dc.get(t >> 4), huff_ac.get(t & 15)))
            ss, se, a = body.unpack("3B")
            bits = _JpegBits(data, body.end)
            if not progressive:  # Ss/Se/Ah/Al are fixed (0, 63, 0, 0)
                if ns != len(comps) or any(None in e for e in scan):
                    return None
                _jpeg_decode_scan(bits, scan, frame, 0, 63, 0, 0, dri)
                return _jpeg_finish(*frame, qt)
            n_scans += 1
            ah, al = a >> 4, a & 15
            if (not ns or n_scans > 64 or ss > se or se > 63 or al > 13
                    or (ss == 0 and se != 0) or (ss and ns != 1)):
                return None
            # DC first scans decode with a DC table, AC scans with an AC
            # table; DC refinement reads raw bits
            if (ss or not ah) and None in [e[2 if ss else 1] for e in scan]:
                return None
            _jpeg_decode_scan(bits, scan, frame, ss, se, ah, al, dri)
    return None


def _jpeg_frame(body: _Reader) -> tuple | None:
    """SOF0/1/2 → (width, height, components, coefficient store); each
    component is (id, h sampling, v sampling, quant table, tight block
    columns, tight block rows), and its store holds int32 zigzag
    coefficients over the padded MCU grid."""
    precision, h, w, nc = body.unpack("BHHB")
    if precision != 8 or not w or not h:
        return None
    _need(w * h, _MAX_PIXELS)
    if nc not in (1, 3):
        return None
    raw = [body.unpack("3B") for _ in range(nc)]
    samp = [(hv >> 4, hv & 15) for _, hv, _ in raw]
    if not all(1 <= ch <= 4 and 1 <= cv <= 4 for ch, cv in samp):
        return None
    hmax = max(ch for ch, _ in samp)
    vmax = max(cv for _, cv in samp)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    comps, coefs = [], []
    for (cid, _, tq), (ch, cv) in zip(raw, samp):
        # tight grid for non-interleaved scans (T.81 A.2.2):
        # ceil(ceil(dim * sampling / max_sampling) / 8)
        tw = -(-(-(-w * ch // hmax)) // 8)
        th = -(-(-(-h * cv // vmax)) // 8)
        comps.append((cid, ch, cv, tq, tw, th))
        coefs.append(np.zeros((mcus_y * cv, mcus_x * ch, 64), np.int32))
    return w, h, comps, coefs


def _jpeg_blocks(bits, scan, comps, coefs, dri):
    """The one block loop of every scan (T.81 A.2): MCU by MCU in
    interleaved order when the scan has several components, one block
    per MCU over the component's tight grid when it has one (A.2.2).
    Every ``dri`` MCUs the next restart marker is consumed.  Yields
    (scan entry, coefficient block, restart), restart being True on
    an MCU's first block right after a marker."""
    ci = scan[0][0]
    if len(scan) == 1:
        cols, rows = comps[ci][4:6]
        units = [(scan[0], 1, 1)]
    else:
        cols = coefs[ci].shape[1] // comps[ci][1]
        rows = coefs[ci].shape[0] // comps[ci][2]
        units = [(e, comps[e[0]][1], comps[e[0]][2]) for e in scan]
    rst_n = 0
    for m in range(cols * rows):
        restart = bool(dri and m and m % dri == 0)
        if restart:
            bits.align_restart(rst_n)
            rst_n = (rst_n + 1) & 7
        my, mx = divmod(m, cols)
        for entry, ch, cv in units:
            store = coefs[entry[0]]
            for by in range(my * cv, my * cv + cv):
                for bx in range(mx * ch, mx * ch + ch):
                    yield entry, store[by, bx], restart
                    restart = False


def _jpeg_decode_scan(bits, scan, frame, ss, se, ah, al, dri):
    """Decode one scan's entropy-coded data into the coefficient
    store.  ``scan`` lists (component, DC table, AC table).  A
    sequential scan is (Ss, Se, Ah, Al) = (0, 63, 0, 0); progressive
    scans (T.81 G.1.2) are DC first/refinement (Ss = Se = 0) or AC
    first/refinement over Ss..Se with EOB runs, at bit position Al."""
    _, _, comps, coefs = frame
    preds = [0] * len(coefs)
    eobrun = 0
    p1 = 1 << al
    m1 = -p1
    for (ci, dc, ac), blk, restart in _jpeg_blocks(bits, scan, comps,
                                                   coefs, dri):
        if restart:
            preds = [0] * len(coefs)
            eobrun = 0
        k = ss
        if ss == 0:
            if ah == 0:  # DC diff at precision al
                t = bits.huff_decode(dc)
                if t > 11:
                    raise ValueError("bad DC category")
                preds[ci] += _jpeg_extend(bits.receive(t), t)
                blk[0] = preds[ci] << al
            elif bits.read_bit():  # DC refinement: one bit per block
                blk[0] |= p1
            k = 1
        if k > se:
            continue
        if ah == 0:  # AC first at precision al
            if eobrun > 0:
                eobrun -= 1
                continue
            while k <= se:
                rs = bits.huff_decode(ac)
                r, s = rs >> 4, rs & 15
                if s:
                    k += r
                    if k > se:
                        raise ValueError("AC index overrun")
                    blk[k] = _jpeg_extend(bits.receive(s), s) << al
                    k += 1
                elif r == 15:  # ZRL
                    k += 16
                else:  # EOB; AC-only (progressive) scans code EOB runs
                    if ss:
                        eobrun = (1 << r) - 1 + bits.receive(r)
                    break
            continue
        # AC refinement scan (T.81 G.1.2.3 / libjpeg semantics)
        if eobrun == 0:
            while k <= se:
                rs = bits.huff_decode(ac)
                r, s = rs >> 4, rs & 15
                if s:
                    if s != 1:
                        raise ValueError("bad refinement size")
                    s = p1 if bits.read_bit() else m1
                else:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += bits.receive(r)
                        break
                    s = 0  # ZRL: pass 16 zero-history positions
                while k <= se:
                    c = int(blk[k])
                    if c != 0:  # history coef: correction bit
                        if bits.read_bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if s and k <= se:
                    blk[k] = s
                k += 1
        if eobrun > 0:  # correction bits for the EOB-run tail
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if bits.read_bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1


def _jpeg_finish(w, h, comps, coefs, qt):
    """The one dequantize + IDCT + assemble pass over the coefficient
    store: block row by block row, coefficients are dequantized,
    un-zigzagged and IDCT'd; each plane is level-shifted, cropped and
    nearest-upsampled, and three planes convert YCbCr → RGB."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for (_, ch, cv, tq, _, _), coef in zip(comps, coefs):
        if tq not in qt:
            return None
        ph, pw, _ = coef.shape
        plane = np.empty((ph * 8, pw * 8))
        nat = np.empty((pw, 64))
        for by in range(ph):
            nat[:, _JPEG_ZIGZAG] = coef[by] * qt[tq]
            blocks = _JPEG_DCT_C.T @ nat.reshape(pw, 8, 8) @ _JPEG_DCT_C
            plane[by * 8:by * 8 + 8] = blocks.transpose(1, 0, 2).reshape(
                8, pw * 8)
        ys = (np.arange(h) * cv) // vmax
        xs = (np.arange(w) * ch) // hmax
        full.append(plane[np.ix_(ys, xs)] + 128.0)
    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return {
            "width": w, "height": h, "channels": 1,
            "pixels": out.tobytes(),
        }
    y, cb, cr = full
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {
        "width": w, "height": h, "channels": 3, "pixels": out.tobytes(),
    }


def _tiff_layout(data: bytes) -> tuple | None:
    """The one TIFF IFD walk, both byte orders: magic (II*\\0 /
    MM\\0*), first-IFD offset, then the 12-byte entry table, which
    must fit the payload.  ImageWidth (256) / ImageLength (257) read
    as SHORT or LONG — inline values are left-justified in the 4-byte
    field, so a SHORT reads from its first two bytes in either order
    — must be present and positive, and the image must declare pixel
    data (StripOffsets 273 or TileOffsets 324): "II*" followed by
    junk fails.  Returns (byte order, w, h, {tag: (type, count,
    value field)}) or None."""
    n = len(data)
    if n < 8:
        return None
    endian = {b"II*\x00": "little", b"MM\x00*": "big"}.get(data[:4])
    if endian is None:
        return None
    r = _Reader(data, 4, order=endian)
    off = r.u32()
    if off < 8 or off + 2 > n:
        return None
    r.pos = off
    cnt = r.u16()
    if cnt == 0 or off + 2 + 12 * cnt + 4 > n:
        return None
    w = h = None
    tags: dict[int, tuple[int, int, bytes]] = {}
    for _ in range(cnt):
        tag, typ, count, field = r.unpack("HHI4s")
        tags[tag] = (typ, count, field)
        if count == 1 and tag in (256, 257):
            val = (int.from_bytes(field[:2] if typ == 3 else field, endian)
                   if typ in (3, 4) else None)
            if tag == 256:
                w = val
            else:
                h = val
    if not w or not h or not (273 in tags or 324 in tags):
        return None
    return endian, w, h, tags


def _decode_tiff(payload: bytes) -> dict | None:
    """TIFF header decode: dimensions from ``_tiff_layout``."""
    layout = _tiff_layout(bytes(payload))
    if layout is None:
        return None
    return {"format": "tiff", "width": layout[1], "height": layout[2]}


def _tiff_values(
    payload: bytes, endian: str, typ: int, count: int, field: bytes
) -> list[int] | None:
    """IFD entry values: SHORT(3)/LONG(4) arrays, inline when they fit
    the 4-byte value field, otherwise at the offset it holds."""
    size = 2 if typ == 3 else 4 if typ == 4 else None
    if size is None or count == 0:
        return None
    if count * size <= 4:
        raw = field
    else:
        off = int.from_bytes(field, endian)
        if off + count * size > len(payload):
            return None
        raw = bytes(payload[off:off + count * size])
    return [
        int.from_bytes(raw[k * size:(k + 1) * size], endian)
        for k in range(count)
    ]


def _tiff_lzw(src: bytes) -> bytes | None:
    """TIFF-variant LZW decode (TIFF 6.0 §13) — pure bit-twiddling, no
    codec library.  Unlike the GIF variant (``_lzw_decode``): codes are
    packed MSB-first, the root alphabet is always the 256 byte values
    (ClearCode 256, EOI 257, first dictionary entry 258), the stream
    must begin with a ClearCode, and the code width grows one code
    EARLY — after adding entry N the decoder widens when the next free
    index N+1 reaches 2^width - 1 (the spec's "early change", which
    keeps the decoder in lockstep with an encoder that widens at
    2^width because its dictionary runs one entry ahead).  Decodes
    until EOI (or the bits run out) and returns the byte stream, or
    None on a corrupt code."""
    clear, eoi = 256, 257
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    bitpos, total_bits = 0, len(src) * 8
    first = True
    while bitpos + width <= total_bits:
        byte_i = bitpos // 8
        chunk = bytes(src[byte_i:byte_i + 4])
        window = int.from_bytes(chunk.ljust(4, b"\x00"), "big")
        code = (window >> (32 - (bitpos % 8) - width)) & ((1 << width) - 1)
        bitpos += width
        if first:
            if code != clear:  # spec: every strip begins with Clear
                return None
            first = False
        if code == clear:
            width = 9
            del table[258:]
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
            else:
                return None
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) - 1 and width < 12:
                    width += 1  # early change
        out.extend(entry)
        prev = entry
    return bytes(out)  # bits exhausted without EOI: tolerate per §13


def _packbits(src: bytes) -> bytes | None:
    """PackBits RLE decode (TIFF spec §9 / Apple): control byte n —
    0..127 copies n+1 literal bytes, 129..255 repeats the next byte
    257-n times, 128 is a no-op.  None on truncation."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        b = src[i]
        i += 1
        if b < 128:  # literal run of b+1 bytes
            if i + b + 1 > n:
                return None
            out += src[i:i + b + 1]
            i += b + 1
        elif b > 128:  # repeat next byte 257-b times
            if i >= n:
                return None
            out += src[i:i + 1] * (257 - b)
            i += 1
    return bytes(out)


@_never_raise
def decode_tiff_pixels(payload: bytes | None) -> dict | None:
    """REAL baseline-TIFF pixel decode — no codec library: both byte
    orders, Compression 1 (none), 5 (LZW — ``_tiff_lzw``, MSB-first
    early-change variant), 8/32946 (Deflate — stdlib zlib), 32773
    (PackBits RLE — ``_packbits``), each strip decompressed
    independently per the spec, and 7 (new-style JPEG, TIFF TechNote
    2 — each strip delegated to ``decode_jpeg_pixels``, shared
    JPEGTables spliced ahead of abbreviated strip streams, decoded
    strips stitched with their SOF geometry checked against the strip
    layout); Predictor 2 (horizontal differencing, TIFF spec §14)
    undone per row per channel AT SAMPLE WIDTH; 8 or 16 bits per
    sample (16-bit samples read in the file's byte order, inverted /
    predicted at full width, then reduced by the high byte — the
    PNG-spec rescale); Photometric 0 (WhiteIsZero, inverted), 1
    (BlackIsZero), 2 (RGB) or 6 (YCbCr, JPEG strips only);
    SamplesPerPixel 1 or 3; strip offsets/byte-counts read inline or
    through their value offsets, concatenated strips must tile
    width*height*channels exactly.  TILED layouts (TIFF6 §15, tags
    322-325) decode too: full-size edge tiles decompressed
    independently, predictor undone per tile row, placement cropped
    to the image.  PLANAR layouts (PlanarConfiguration 2) decode for
    strips: plane 0's strips then plane 1's, re-interleaved.  Planar
    tiles and other bit depths return None (header metadata stays
    real via ``_decode_tiff``).  Same return shape as
    ``decode_png_pixels``; never raises."""
    payload = bytes(payload or b"")
    layout = _tiff_layout(payload)
    if layout is None:
        return None
    endian, w, h, tags = layout

    def values(tag: int) -> list[int] | None:
        if tag not in tags:
            return None
        typ, count, field = tags[tag]
        return _tiff_values(payload, endian, typ, count, field)

    def scalar(tag: int, default: int | None = None) -> int | None:
        v = values(tag)
        return v[0] if v else default

    comp = scalar(259, 1)
    if comp not in (1, 5, 7, 8, 32946, 32773):
        return None  # none / LZW / JPEG / Deflate / PackBits
    predictor = scalar(317, 1)
    if predictor not in (1, 2):  # none / horizontal differencing
        return None
    photometric = scalar(262)
    spp = scalar(277, 1)
    bps = values(258)
    if comp == 7:  # new-style JPEG strips (TIFF TechNote 2)
        if 324 in tags or scalar(284, 1) != 1 or predictor != 1:
            return None
        if photometric not in (1, 2, 6) or spp not in (1, 3):
            return None  # grayscale / RGB / YCbCr (JPEG-native)
        if bps is None or len(bps) != spp or any(b != 8 for b in bps):
            return None
        offs, counts = values(273), values(279)
        if offs is None or counts is None or len(offs) != len(counts):
            return None
        rps = scalar(278, h)
        if not rps or len(offs) != -(-h // rps):
            return None
        # JPEGTables (tag 347, UNDEFINED): SOI + DQT/DHT + EOI shared
        # by abbreviated strip streams; splice ahead of each strip
        tables = b""
        if 347 in tags:
            typ, count, field = tags[347]
            if typ != 7 or count < 4:
                return None
            toff = (int.from_bytes(field, endian)
                    if count > 4 else None)
            raw = (bytes(payload[toff:toff + count])
                   if toff is not None else field[:count])
            if (len(raw) != count or raw[:2] != b"\xff\xd8"
                    or raw[-2:] != b"\xff\xd9"):
                return None
            tables = raw[2:-2]
        out = bytearray()
        rows_done = 0
        for o, c in zip(offs, counts):
            if o + c > len(payload):
                return None
            strip = bytes(payload[o:o + c])
            if tables and strip[:2] == b"\xff\xd8":
                strip = b"\xff\xd8" + tables + strip[2:]
            dec = decode_jpeg_pixels(strip)
            want_rows = min(rps, h - rows_done)
            if (dec is None or dec["width"] != w
                    or dec["height"] != want_rows
                    or dec["channels"] != spp):
                return None
            out += dec["pixels"]
            rows_done += want_rows
        if rows_done != h:
            return None
        return {"width": w, "height": h, "channels": spp,
                "pixels": bytes(out)}
    if photometric not in (0, 1, 2) or spp not in (1, 3):
        return None
    if photometric == 2 and spp != 3:
        return None
    if (bps is None or len(bps) != spp or len(set(bps)) != 1
            or bps[0] not in (8, 16)):
        return None
    bits = bps[0]
    bsz = bits // 8
    mask = (1 << bits) - 1
    planar = scalar(284, 1)
    tiled = 322 in tags and 324 in tags
    if planar not in (1, 2) or (planar == 2 and tiled):
        return None
    # the tiled/planar paths preallocate w*h*spp: bound the claimed
    # dims BEFORE any allocation (crawl payloads are hostile)
    _need(w * h, _MAX_PIXELS)
    offs = counts = None
    if not tiled:
        offs, counts = values(273), values(279)
        if (offs is None or counts is None
                or len(offs) != len(counts)):
            return None
    n = len(payload)

    def decomp(chunk: bytes) -> list[int] | None:
        """Decompress one strip/tile and return its SAMPLE values
        (16-bit samples read in the file's byte order)."""
        if comp in (8, 32946):  # Deflate: each chunk its own stream
            chunk = zlib.decompress(chunk)
        elif comp == 32773:
            chunk = _packbits(chunk)
            if chunk is None:
                return None
        elif comp == 5:  # LZW: each chunk its own stream (TIFF6 §13)
            chunk = _tiff_lzw(chunk)
            if chunk is None:
                return None
        if bsz == 1:
            return list(chunk)
        if len(chunk) % 2:
            return None
        return [
            int.from_bytes(chunk[k:k + 2], endian)
            for k in range(0, len(chunk), 2)
        ]

    def undo_predictor(buf, stride: int, rows: int, step: int) -> None:
        # horizontal differencing runs at the SAMPLE width (TIFF §14)
        for y in range(rows):
            base = y * stride
            for x in range(step, stride):
                buf[base + x] = (
                    buf[base + x] + buf[base + x - step]
                ) & mask

    if tiled:
        # tiles: a 2D grid of tw x tl blocks, each compressed
        # independently and FULL-SIZED even at the right/bottom edge
        # (TIFF6 §15); predictor runs per tile row, placement crops
        tw_, tl_ = scalar(322), scalar(323)
        t_offs, t_counts = values(324), values(325)
        if (not tw_ or not tl_ or t_offs is None or t_counts is None
                or len(t_offs) != len(t_counts)):
            return None
        across = -(-w // tw_)
        down = -(-h // tl_)
        if len(t_offs) != across * down:
            return None
        data = [0] * (w * h * spp)
        for ti, (o, c) in enumerate(zip(t_offs, t_counts)):
            if o + c > n:
                return None
            tile = decomp(bytes(payload[o:o + c]))
            if tile is None or len(tile) != tw_ * tl_ * spp:
                return None
            if predictor == 2:
                undo_predictor(tile, tw_ * spp, tl_, spp)
            x0 = (ti % across) * tw_
            y0 = (ti // across) * tl_
            ncopy = min(tw_, w - x0) * spp
            for ry in range(min(tl_, h - y0)):
                src = ry * tw_ * spp
                dst = ((y0 + ry) * w + x0) * spp
                data[dst:dst + ncopy] = tile[src:src + ncopy]
    elif planar == 2:
        # separate sample planes (PlanarConfiguration 2): the strip
        # list covers plane 0's rows, then plane 1's, ... (TIFF §8);
        # predictor differences within a plane, step 1
        per_plane = -(-h // (scalar(278, h) or h))
        if len(offs) != spp * per_plane:
            return None
        planes = []
        for p in range(spp):
            plane: list[int] = []
            for o, c in zip(
                offs[p * per_plane:(p + 1) * per_plane],
                counts[p * per_plane:(p + 1) * per_plane],
            ):
                if o + c > n:
                    return None
                part = decomp(bytes(payload[o:o + c]))
                if part is None:
                    return None
                plane.extend(part)
            if len(plane) != w * h:
                return None
            if predictor == 2:
                undo_predictor(plane, w, h, 1)
            planes.append(plane)
        data = [0] * (w * h * spp)
        for p, plane in enumerate(planes):
            data[p::spp] = plane
    else:
        data = []
        for o, c in zip(offs, counts):
            if o + c > n:
                return None
            strip = decomp(bytes(payload[o:o + c]))
            if strip is None:
                return None
            data.extend(strip)
        if len(data) != w * h * spp:
            return None
        if predictor == 2:  # strips slice whole rows: undo per row
            undo_predictor(data, w * spp, h, spp)
    if photometric == 0:  # WhiteIsZero: invert at full sample width
        data = [mask - v for v in data]
    if bits == 16:  # reduce by the high byte (the PNG-spec rescale)
        data = [v >> 8 for v in data]
    return {
        "width": w,
        "height": h,
        "channels": spp,
        "pixels": bytes(data),
    }


def _dib_header(data: bytes, at: int = 0) -> tuple:
    """The one BITMAPINFOHEADER parse — a BMP file's info header, an
    ICO DIB entry, an AVI video ``strf``: (biSize, width, signed
    height, planes, bit count, compression, biClrUsed) from the
    header's 40 bytes at ``at``.  Every caller gates the fields its
    own format bounds."""
    return _Reader(data, at, order="little").unpack("IiiHHI12xI4x")


def _dib_ok(hdr: tuple) -> bool:
    """The one structural gate over ``_dib_header`` fields that BMP
    files, ICO DIB entries and the AVI video ``strf`` all pass: an
    info header of at least 40 bytes, a positive width, a nonzero
    height (negative = top-down), one plane (REQUIRED by the spec —
    two ASCII chars can never be 0x0001) and a legal bit depth.  Each
    caller adds its own format's bounds."""
    size, w, h, planes, bpp, _, _ = hdr
    return (size >= 40 and w > 0 and h != 0 and planes == 1
            and bpp in (1, 4, 8, 16, 24, 32))


def _dib_palette(data: bytes, at: int, hdr: tuple) -> list[bytes]:
    """The one DIB palette read: ``biClrUsed or 1 << bpp`` BGRA quads
    starting ``biSize`` bytes past the header at ``at``, as RGB
    triples.  A header under 40 bytes, a count past ``1 << bpp`` or a
    table the payload cannot back raises ``Malformed``."""
    size, _, _, _, bpp, _, clr_used = hdr
    if size < 40:
        raise Malformed("info header under 40 bytes")
    n = _need(clr_used or 1 << bpp, 1 << bpp)
    quads = _Reader(data, at + size).take(4 * n)
    return [quads[k:k + 3][::-1] for k in range(0, 4 * n, 4)]


def _bmp_rle(data, w: int, h: int, bpp: int) -> list | None:
    """BI_RLE8 / BI_RLE4 decode (Windows BMP spec): encoded runs
    (count, index — nibbles alternating for RLE4), escapes 0,0 = end
    of line, 0,1 = end of bitmap, 0,2 = delta (skipped pixels stay
    index 0), and absolute runs padded to a 16-bit boundary.  Returns
    h bottom-up rows of palette indices, or None on truncation."""
    rows = [bytearray(w) for _ in range(h)]
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt:  # encoded run
            for k in range(cnt):
                if x < w and y < h:
                    if bpp == 8:
                        rows[y][x] = val
                    else:
                        rows[y][x] = (val >> 4) if k % 2 == 0 else (
                            val & 15
                        )
                x += 1
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return rows
        elif val == 2:  # delta: move the cursor
            if i + 2 > n:
                return None
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute run of `val` literal indices
            nb = val if bpp == 8 else (val + 1) // 2
            if i + nb > n:
                return None
            for k in range(val):
                if bpp == 8:
                    idx = data[i + k]
                else:
                    b = data[i + k // 2]
                    idx = (b >> 4) if k % 2 == 0 else (b & 15)
                if x < w and y < h:
                    rows[y][x] = idx
                x += 1
            i += nb + (nb & 1)  # runs pad to a WORD boundary
    return rows  # tolerated: bitmap without the 0,1 trailer


# MS Video 1 stream fourccs, as the little-endian biCompression u32
# they appear as in an AVI strf / re-wrapped BMP info header
_MSV1_FOURCCS = frozenset(
    int.from_bytes(f, "little") for f in (b"CRAM", b"MSVC", b"WHAM")
)


def _msvideo1_pixels(
    data, w: int, h: int, bpp: int, palette: list | None,
    canvas: bytes | None = None,
) -> bytes | None:
    """REAL MS Video 1 (CRAM/MSVC/WHAM) frame decode — a plain 4x4
    block vector-quantization codec, no entropy coder (public codec
    description: multimedia.cx wiki + MSDN; reference analog: the
    frame payloads `src/pheidippides.cpp` routes to media handling).
    Blocks run left→right in BOTTOM-UP block rows, and rows inside a
    block are emitted bottom-up too.  Per block, the leading LE word
    (a=low, b=high byte) selects: skip run ((b&0xFC)==0x84, count
    includes the current block — skipped blocks keep the canvas,
    which the standalone decode initializes to black; passing the
    previous frame's RGB bytes as ``canvas`` gives true inter-frame
    persistence, which is how ``compose_video_pixels`` plays a CRAM
    sequence), 2-color (b<0x80: 16 LSB-first flag
    bits, set bit = first color), 8-color (8-bit mode b>=0x90;
    16-bit mode signaled by bit 15 of the first color word; colors
    pair up per 2x2 quadrant), else 1-color.  8-bit colors index the
    DIB palette; 16-bit colors are RGB555 expanded with the
    endpoint-exact (v<<3)|(v>>2) replication.  Returns RGB bytes
    top-down, or None on malformed/truncated streams (an out-of-range
    palette index raises, for the caller's boundary)."""
    if w <= 0 or h <= 0 or w % 4 or h % 4:
        return None
    if bpp == 8:
        if palette is None:
            return None
        black = palette[0] if palette else b"\x00\x00\x00"
    elif bpp != 16:
        return None
    else:
        black = b"\x00\x00\x00"

    def rgb555(v: int) -> bytes:
        return bytes(
            (c << 3) | (c >> 2)
            for c in ((v >> 10) & 31, (v >> 5) & 31, v & 31)
        )

    if canvas is not None and len(canvas) == 3 * w * h:
        rows = [
            bytearray(canvas[3 * w * y:3 * w * (y + 1)])
            for y in range(h)
        ]
    else:
        rows = [bytearray(black * w) for _ in range(h)]

    def paint(x0: int, top: int, cols: list, flags: int) -> None:
        # block rows run bottom-up; 2 colors pick per flag bit, 8
        # colors pair up per 2x2 quadrant, 1 color fills the block
        for ry in range(4):
            y = top + 3 - ry
            for rx in range(4):
                if len(cols) == 1:
                    rows[y][3 * (x0 + rx):3 * (x0 + rx) + 3] = cols[0]
                    continue
                q = ((ry & 2) << 1) + (rx & 2) if len(cols) == 8 else 0
                c = cols[q + ((flags & 1) ^ 1)]
                rows[y][3 * (x0 + rx):3 * (x0 + rx) + 3] = c
                flags >>= 1

    def words(at: int, k: int) -> list[int]:
        return [int.from_bytes(data[at + 2 * j:at + 2 * j + 2], "little")
                for j in range(k)]

    data = bytes(data)
    n = len(data)
    i = 0
    skip = 0
    for by in range(h // 4 - 1, -1, -1):
        for bx in range(w // 4):
            if skip:
                skip -= 1
                continue
            if i + 2 > n:
                return None  # truncated: every non-skipped
                # block needs its code word
            a, b = data[i], data[i + 1]
            i += 2
            if (b & 0xFC) == 0x84:  # skip run, self-inclusive
                skip = (((b - 0x84) << 8) | a) - 1
                continue
            flags = (b << 8) | a
            if bpp == 8:
                # 2-color (b < 0x80), 8-color (b >= 0x90), else
                # 1-color: the low byte indexes the palette
                k = 2 if b < 0x80 else 8 if b >= 0x90 else 0
                if i + k > n:
                    return None
                cols = ([palette[c] for c in data[i:i + k]] if k
                        else [palette[a]])
                i += k
            elif b < 0x80:  # 16-bit: 2 colors, 8 if bit 15 of the 1st
                if i + 4 > n:
                    return None
                cw = words(i, 2)
                i += 4
                if cw[0] & 0x8000:
                    if i + 12 > n:
                        return None
                    cw += words(i, 6)
                    i += 12
                cols = [rgb555(v) for v in cw]
            else:  # 1-color: the word IS the RGB555 color
                cols = [rgb555(flags & 0x7FFF)]
            paint(bx * 4, by * 4, cols, flags)
    return b"".join(bytes(r) for r in rows)


@_never_raise
def decode_bmp_pixels(payload: bytes | None) -> dict | None:
    """REAL BMP pixel decode — BMP needs no entropy codec:
    BITMAPINFOHEADER (or larger); BI_RGB raw rows at bit depths 1/4/8
    (palettized — BGRA quads after the info header, MSB-first
    sub-byte indices) and 24/32 (BGR(A) triples), rows 4-byte aligned
    and stored bottom-up (top-down when the height is negative);
    BI_RLE8/BI_RLE4 run-length rows (``_bmp_rle``); and MS Video 1
    frames at 8/16 bpp when biCompression carries the CRAM/MSVC/WHAM
    fourcc (``_msvideo1_pixels`` — the form ``_avi_video_frames``
    re-wraps AVI video chunks into, so video frames pixel-decode
    standalone).  Emits RGB.  Bitfield compressions and 16-bit
    BI_RGB return None (header metadata stays real).  Same return
    shape as ``decode_png_pixels``; never raises."""
    payload = bytes(payload or b"")
    layout = _bmp_layout(payload)
    if layout is None:
        return None
    offset, hdr = layout
    _, w, h_raw, _, bpp, compression, _ = hdr
    h = abs(h_raw)
    rle = None
    msv1 = False
    if compression == 1 and bpp == 8 and h_raw > 0:
        rle = 8  # BI_RLE8 (RLE bitmaps are always bottom-up)
    elif compression == 2 and bpp == 4 and h_raw > 0:
        rle = 4  # BI_RLE4
    elif (compression in _MSV1_FOURCCS and bpp in (8, 16)
          and h_raw > 0):
        msv1 = True  # MS Video 1 frame re-wrapped as a DIB
    elif compression != 0 or bpp == 16:  # bitfields / 16-bit: no
        return None
    # RLE data is variable-length, so claimed dims are unbounded by
    # the payload size — cap them before _bmp_rle preallocates
    _need(w * h, _MAX_PIXELS)
    row_bytes = ((w * bpp + 31) // 32) * 4
    palette = _dib_palette(payload, 14, hdr) if bpp <= 8 else None
    if msv1:
        pixels = _msvideo1_pixels(
            payload[offset:], w, h, bpp, palette
        )
        if pixels is None:
            return None
        return {"width": w, "height": h, "channels": 3,
                "pixels": pixels}
    if rle:
        idx_rows = _bmp_rle(
            bytes(payload[offset:]), w, h, rle
        )
        if idx_rows is None:
            return None
        out = bytearray()
        for row in range(h):
            src = idx_rows[h - 1 - row]  # bottom-up storage
            for x in range(w):
                if src[x] >= len(palette):
                    return None
                out += palette[src[x]]
        return {"width": w, "height": h, "channels": 3,
                "pixels": bytes(out)}
    out = bytearray()
    for row in range(h):
        src_row = row if h_raw < 0 else h - 1 - row
        base = offset + src_row * row_bytes
        if base + row_bytes > len(payload):
            return None
        line = payload[base:base + row_bytes]
        if bpp == 24:
            for x in range(w):
                out += bytes((line[3 * x + 2], line[3 * x + 1],
                              line[3 * x]))
        elif bpp == 32:
            for x in range(w):
                out += bytes((line[4 * x + 2], line[4 * x + 1],
                              line[4 * x]))
        else:  # palettized, MSB-first sub-byte indices
            per_byte = 8 // bpp
            mask = (1 << bpp) - 1
            for x in range(w):
                b = line[x // per_byte]
                shift = 8 - bpp * (x % per_byte + 1)
                idx = (b >> shift) & mask
                if idx >= len(palette):
                    return None
                out += palette[idx]
    return {"width": w, "height": h, "channels": 3,
            "pixels": bytes(out)}


def _ico_layout(data: bytes) -> tuple | None:
    """The one ICO/CUR (favicon) directory walk: ICONDIR + entry
    table, every entry's byte range in bounds and its embedded image
    structurally valid (``_ico_entry_dims``).  Returns (kind,
    (w, h, off, size, dib) of the LARGEST entry — the one a
    pipeline thumbnails) or None."""
    n = len(data)
    if (n < 22 or data[0:2] != b"\x00\x00"
            or data[2:4] not in (b"\x01\x00", b"\x02\x00")):
        return None
    r = _Reader(data, 4, order="little")
    count = r.u16()
    if count == 0 or 6 + 16 * count > n:
        return None
    entries = []
    for _ in range(count):
        r.skip(8)
        size, off = r.u32(), r.u32()
        if size < 16 or off < 6 + 16 * count or off + size > n:
            return None
        entries.append((off, size))
    best = None
    for off, size in entries:
        d = _ico_entry_dims(data, off, size)
        if d is None:  # every entry must be structurally valid
            return None
        w, h, dib = d
        if best is None or w * h > best[0] * best[1]:
            best = (w, h, off, size, dib)
    return ("ico" if data[2] == 1 else "cur"), best


def _ico_entry_dims(data: bytes, off: int, size: int):
    """Dims of one ICO directory entry's embedded image: a full PNG
    (delegated to the CRC-verified ``_decode_png``) or a headerless
    DIB whose biHeight doubles the visual height (XOR plane + 1-bit
    AND mask).  Returns (w, h, dib) or None, where dib is None for a
    PNG and (XOR-plane offset, XOR-plane end) for a DIB."""
    sl = data[off:off + size]
    if sl[:8] == PNG_MAGIC:
        m = _decode_png(sl)
        if m is None:
            return None
        return m["width"], m["height"], None
    hdr = _dib_header(sl)
    hdr_size, w, dh, _, bpp, compression, clr_used = hdr
    if not _dib_ok(hdr) or hdr_size > len(sl) or dh <= 0 or dh % 2:
        return None
    if compression != 0:  # BI_RGB only
        return None
    h = dh // 2
    pix_off = hdr_size + 4 * (clr_used or (1 << bpp if bpp <= 8 else 0))
    xor_end = pix_off + ((w * bpp + 31) // 32) * 4 * h
    # the XOR plane and the 1-bit AND mask must both be present
    if xor_end + ((w + 31) // 32) * 4 * h > len(sl):
        return None
    return w, h, (pix_off, xor_end)


def _decode_ico(payload: bytes) -> dict | None:
    """REAL ICO/CUR (favicon) header decode: the largest entry's dims
    from ``_ico_layout`` (PNG entries via the CRC-verified IHDR path,
    DIB entries via the doubled-height BITMAPINFOHEADER)."""
    layout = _ico_layout(payload)
    if layout is None:
        return None
    kind, (w, h, _, _, _) = layout
    return {"format": kind, "width": w, "height": h}


@_never_raise
def decode_ico_pixels(payload: bytes | None) -> dict | None:
    """REAL ICO/CUR pixel decode of the largest entry: PNG entries
    delegate to ``decode_png_pixels``; DIB entries re-wrap the XOR
    plane as a standalone BMP with biHeight un-doubled — the AVI frame
    extractor's ``_bmp_rewrap`` — and decode through
    ``decode_bmp_pixels``.  The 1-bit AND mask (transparency) is
    dropped: output is opaque RGB, same shape as every pixel decoder
    here."""
    data = bytes(payload or b"")
    layout = _ico_layout(data)
    if layout is None:
        return None
    w, h, off, size, dib = layout[1]
    sl = data[off:off + size]
    if dib is None:
        return decode_png_pixels(sl)
    pix_off, xor_end = dib  # the AND mask after the XOR plane is dropped
    hdr = bytearray(sl[:pix_off])
    hdr[8:12] = h.to_bytes(4, "little", signed=True)  # un-double
    return decode_bmp_pixels(_bmp_rewrap(bytes(hdr), sl[pix_off:xor_end]))


def _decode_webp(payload: bytes) -> dict | None:
    """REAL WebP container header decode (public RIFF-based spec):
    the chunk walk must tile the declared RIFF size, and dimensions
    come from whichever image-bearing chunk leads — VP8X (extended:
    24-bit LE canvas width/height, minus-one coded), 'VP8 ' (lossy:
    keyframe tag + the 9D 01 2A start code + 14-bit LE dims), or VP8L
    (lossless: 0x2F signature + 14-bit packed dims, version bits must
    be 0).  Metadata only — VP8 entropy decode needs a codec library;
    the pixel stance matches JPEG-before-round-5.  None on anything
    malformed."""
    data = bytes(payload)
    n = len(data)
    if n < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    riff_size = int.from_bytes(data[4:8], "little")
    # file = 8-byte RIFF header + declared body (+1 odd-size pad)
    if 8 + riff_size not in (n, n - 1) or riff_size < 4:
        return None
    # the whole chunk table must tile the declared body even though
    # only the leading chunk is read
    chunks = list(_Reader(data, 12, 8 + riff_size, "little").chunks())
    if not chunks:
        return None
    fourcc, c = chunks[0]
    if fourcc == b"VP8X":
        if c.remaining < 10:
            return None
        c.skip(4)
        return {"format": "webp", "width": c.u24() + 1,
                "height": c.u24() + 1}
    if fourcc == b"VP8 ":
        if c.remaining < 10:
            return None
        if c.u8() & 1:  # not a keyframe
            return None
        c.skip(2)
        if c.take(3) != b"\x9d\x01\x2a":
            return None
        w, h = c.u16() & 0x3FFF, c.u16() & 0x3FFF
        if not w or not h:
            return None
        return {"format": "webp", "width": w, "height": h}
    if fourcc == b"VP8L":
        if c.remaining < 5 or c.u8() != 0x2F:
            return None
        bits = c.u32()
        if bits >> 29:  # version must be 0
            return None
        return {"format": "webp", "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1}
    return None  # first chunk must be image-bearing


_HEIF_BRANDS = {
    b"avif": "avif", b"avis": "avif",
    b"heic": "heic", b"heix": "heic",
    b"mif1": "heif", b"msf1": "heif",
}


def _decode_heif(payload: bytes) -> dict | None:
    """REAL HEIF/AVIF still-image header decode (public ISO-BMFF
    structure, ISO 23008-12): the top-level box walk must tile the
    payload, the ftyp major (or a compatible) brand must be a known
    HEIF family, and dimensions come from the primary item's ispe
    (image spatial extents) property — resolved through pitm (primary
    item id) + ipma (item→property associations, 7- or 15-bit
    indices into ipco's 1-based child list) when both are present,
    else the first ispe.  Metadata only — HEVC/AV1 payload decode
    needs a codec library.  None on anything malformed."""
    data = bytes(payload)
    if len(data) < 16 or data[4:8] != b"ftyp":
        return None
    fmt = meta = None
    for btype, box in _Reader(data).boxes():
        if btype == b"ftyp":
            if box.remaining < 8:
                return None
            brands = [box.take(4)]
            box.skip(4)
            brands += [box.take(4) for _ in range(box.remaining // 4)]
            fmt = next((_HEIF_BRANDS[b] for b in brands
                        if b in _HEIF_BRANDS), fmt)
            if fmt is None:
                return None
        elif btype == b"meta":
            meta = box
    if fmt is None or meta is None:
        return None
    # meta is a FULL box: 4 version/flags bytes precede children
    if meta.remaining < 4:
        return None
    meta.skip(4)
    pitm_id = iprp = None
    for btype, box in meta.boxes():
        if btype == b"pitm":
            if box.remaining < 6:
                return None
            ver = box.u8()
            box.skip(3)
            if ver == 0:
                pitm_id = box.u16()
            elif box.remaining >= 4:
                pitm_id = box.u32()
        elif btype == b"iprp":
            iprp = box
    if iprp is None:
        return None
    props: list = []
    ipma = None
    for btype, box in iprp.boxes():
        if btype == b"ipco":
            props = list(box.boxes())
        elif btype == b"ipma":
            ipma = box

    def ispe_dims(box: _Reader) -> dict | None:
        if box.remaining < 12:
            return None
        box.skip(4)
        w, h = box.u32(), box.u32()
        if not w or not h:
            return None
        return {"format": fmt, "width": w, "height": h}

    if pitm_id is not None and ipma is not None:
        if ipma.remaining < 8:
            return None
        ver, flags, cnt = ipma.u8(), ipma.u24(), ipma.u32()
        for _ in range(cnt):
            item = ipma.uint(4 if ver >= 1 else 2)
            for _ in range(ipma.u8()):
                idx = (ipma.u16() & 0x7FFF if flags & 1
                       else ipma.u8() & 0x7F)
                if item != pitm_id or not idx or idx > len(props):
                    continue
                ptype, prop = props[idx - 1]
                if ptype == b"ispe":
                    return ispe_dims(prop)
    for ptype, prop in props:
        if ptype == b"ispe":
            return ispe_dims(prop)
    return None


@_never_raise
def decode_image(payload: bytes | None) -> dict | None:
    """REAL pure-Python image header decoder for the nine formats
    whose structure needs no codec library: netpbm binary (P6 PPM / P5
    PGM, whitespace-and-comment-tolerant header, pixel-length
    validated — ``_netpbm_layout``), BMP (BITMAPINFOHEADER), PNG (IHDR
    chunk, CRC-verified, IDAT-present — ``_decode_png``), JPEG
    (marker-segment walk to SOF — ``_decode_jpeg``), GIF (logical
    screen descriptor + block walk to the trailer — ``_decode_gif``),
    TIFF (both byte orders, IFD entry walk — ``_decode_tiff``), WebP
    (RIFF chunk walk to VP8X / VP8 / VP8L — ``_decode_webp``),
    HEIF/AVIF (ISO-BMFF box walk to the primary item's ispe —
    ``_decode_heif``), and ICO/CUR favicons (ICONDIR walk, largest
    entry's PNG or doubled-height DIB — ``_decode_ico``).  Returns
    ``{"format", "width", "height"}`` or None if the payload is not a
    valid image in any of them: a truncated pixel array, a corrupt
    CRC, a broken marker walk, or nonsense dimensions fail.  PPM
    (8-bit), BMP, PNG, JPEG, GIF, TIFF and ICO also pixel-decode (see
    ``resize_meta``); PGM, WebP and HEIF/AVIF stay header-only."""
    data = bytes(payload or b"")
    if not data:
        return None
    if data[:8] == PNG_MAGIC:
        return _decode_png(data)
    if data[:2] == b"\xff\xd8":
        return _decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return _decode_webp(data)
    if data[4:8] == b"ftyp":
        return _decode_heif(data)
    if data[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
        return _decode_ico(data)
    if data[:2] in (b"P6", b"P5"):
        layout = _netpbm_layout(data)
        if layout is None:
            return None
        return {"format": layout[0], "width": layout[1],
                "height": layout[2]}
    if data[:2] == b"BM":
        return _decode_bmp(data)
    return None


def _bmp_layout(data: bytes) -> tuple | None:
    """The one BMP (BITMAPINFOHEADER) header walk, structural
    validation included — without it any >=54-byte text that happens
    to start with "BM" (e.g. "BMW dealers ...") would "decode", since
    ASCII bytes at the dimension offsets form positive ints.  The
    header must pass ``_dib_ok`` and the pixel array implied by (w, h,
    bpp) must actually be present past the declared data offset.
    Returns (data offset, ``_dib_header`` fields) or None."""
    if len(data) < 54 or data[:2] != b"BM":
        return None
    offset = _Reader(data, 10, order="little").u32()
    hdr = _dib_header(data, 14)
    _, w, h, _, bpp, compression, _ = hdr
    if not _dib_ok(hdr) or not 54 <= offset <= len(data):
        return None
    if compression in (1, 2) or compression in _MSV1_FOURCCS:
        # RLE / MS Video 1: data is variable-length, just
        if offset >= len(data):  # require SOME pixel bytes
            return None
    elif len(data) - offset < ((w * bpp + 31) // 32) * 4 * abs(h):
        return None
    return offset, hdr


def _decode_bmp(payload: bytes) -> dict | None:
    """BMP header decode: dimensions from ``_bmp_layout``."""
    layout = _bmp_layout(bytes(payload))
    if layout is None:
        return None
    _, w, h, *_ = layout[1]
    return {"format": "bmp", "width": w, "height": abs(h)}


def _flac_layout(payload: bytes) -> tuple | None:
    """The one FLAC metadata walk, shared by ``decode_audio`` and
    ``decode_flac_samples``: "fLaC" magic, then the metadata-block
    walk (1-byte last-flag|type + 3-byte big-endian length each); the
    FIRST block must be a 34-byte STREAMINFO (spec requirement) whose
    bit-packed fields give sample rate (20 bits), channels-1 (3),
    bits-per-sample-1 (5) and total samples (36).  The walk must reach
    the last-flag block inside the payload and audio frames must
    follow (first frame's 14-bit sync code 0b11111111111110) — magic
    plus junk fails, same contract as the other format walks.
    Returns (channels, rate, bits, total, first frame offset) or None;
    a block the payload cannot back raises ``Malformed``."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        return None
    r = _Reader(payload, 4)
    if r.u8() & 0x7F or r.u24() != 34:
        return None  # the first block must be a 34-byte STREAMINFO
    # sample rate 20 bits, channels-1 3 bits, bps-1 5 bits, total 36
    # bits, packed big-endian starting at STREAMINFO byte 10
    r.skip(10)
    packed = r.uint(8)
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if rate == 0 or rate > 655350:
        return None
    r.pos, last = 4, False  # the block table, STREAMINFO first
    while not last:
        head = r.u8()
        if head & 0x7F > 6:
            return None  # invalid block type (127 is forbidden)
        last = head & 0x80
        r.skip(r.u24())
    first = r.pos
    if r.u8() != 0xFF or r.u8() & 0xFC != 0xF8:
        return None  # no audio frame after the metadata table
    return channels, rate, bits, total, first


def _decode_flac(payload: bytes) -> dict | None:
    """FLAC header decode from ``_flac_layout``."""
    layout = _flac_layout(payload)
    if layout is None:
        return None
    channels, rate, bits, total, _ = layout
    return {
        "format": "flac",
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "n_samples": total,
        "duration_ms": total * 1000 // rate,
    }


# MPEG audio bitrate tables, kbps (ISO 11172-3 / 13818-3): keyed by
# (is_mpeg1, layer); index 0 (free) and 15 (bad) are rejected
_MP3_BITRATES = {
    (True, 1): (0, 32, 64, 96, 128, 160, 192, 224,
                256, 288, 320, 352, 384, 416, 448),
    (True, 2): (0, 32, 48, 56, 64, 80, 96, 112,
                128, 160, 192, 224, 256, 320, 384),
    (True, 3): (0, 32, 40, 48, 56, 64, 80, 96,
                112, 128, 160, 192, 224, 256, 320),
    (False, 1): (0, 32, 48, 56, 64, 80, 96, 112,
                 128, 144, 160, 176, 192, 224, 256),
    (False, 2): (0, 8, 16, 24, 32, 40, 48, 56,
                 64, 80, 96, 112, 128, 144, 160),
}
_MP3_BITRATES[(False, 3)] = _MP3_BITRATES[(False, 2)]
_MP3_RATES = {  # by version bits (0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1)
    0: (11025, 12000, 8000),
    2: (22050, 24000, 16000),
    3: (44100, 48000, 32000),
}


def _decode_mp3(payload: bytes) -> dict | None:
    """MPEG-audio (MP3) frame-HEADER walk — entropy decode needs a
    codec library, but the frame table is plain structure (ISO
    11172-3 §2.4.1.3): skip an optional ID3v2 tag (syncsafe size),
    then walk sync-aligned frame headers, each giving version / layer
    / bitrate / sample-rate / padding and therefore its own byte
    length; frames must share version, layer, sample rate and channel
    mode, tile the payload exactly (an optional trailing 128-byte
    ID3v1 'TAG' allowed), and number at least two.  Duration comes
    from samples-per-frame × frame count.  Returns the
    ``decode_audio`` dict shape (``bits_per_sample`` None — not
    defined for entropy-coded audio) or None; a frame the payload
    cannot back raises ``Malformed``."""
    r = _Reader(payload)
    if payload[:3] == b"ID3" and len(payload) >= 10:
        r.skip(5)
        flags, size = r.u8(), 0
        for b in r.take(4):
            if b & 0x80:  # syncsafe bytes keep the top bit 0
                return None
            size = (size << 7) | b
        r.skip(size + (10 if flags & 0x10 else 0))
    spec = None  # (version_bits, layer, rate, channels)
    frames = samples = 0
    while r.remaining:
        tail = r.remaining == 128
        b0, b1, b2, b3 = head = r.take(4)
        if tail and head[:3] == b"TAG":
            break  # trailing ID3v1 tag
        if b0 != 0xFF or b1 & 0xE0 != 0xE0:
            return None
        ver = (b1 >> 3) & 3
        layer = 4 - ((b1 >> 1) & 3)  # bits 3/2/1 = Layer I/II/III
        br_idx, rate_idx = b2 >> 4, (b2 >> 2) & 3
        if ver == 1 or layer == 4 or br_idx in (0, 15) or rate_idx == 3:
            return None
        rate = _MP3_RATES[ver][rate_idx]
        mpeg1 = ver == 3
        bitrate = _MP3_BITRATES[(mpeg1, layer)][br_idx] * 1000
        channels = 1 if (b3 >> 6) & 3 == 3 else 2
        if spec is None:
            spec = (ver, layer, rate, channels)
        elif spec != (ver, layer, rate, channels):
            return None  # frames must agree (no mid-stream switches)
        padding = (b2 >> 1) & 1
        if layer == 1:
            spf = 384
            flen = (12 * bitrate // rate + padding) * 4
        else:
            spf = 1152 if layer == 2 or mpeg1 else 576
            flen = spf // 8 * bitrate // rate + padding
        if flen <= 4:
            return None
        r.skip(flen - 4)
        frames += 1
        samples += spf
    if frames < 2 or spec is None:
        return None
    _, _, rate, channels = spec
    return {
        "format": "mp3",
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": None,
        "n_samples": samples,
        "duration_ms": samples * 1000 // rate,
    }


def _decode_ogg(payload: bytes) -> dict | None:
    """OGG container walk (RFC 3533) + Vorbis/Opus identification
    header — the page table is plain structure: every page is "OggS"
    + version 0 + header-type + 64-bit granule position + serial /
    sequence / checksum + a segment table sizing the page body; pages
    must tile the payload exactly, the first page must carry the
    beginning-of-stream flag and contain the codec's identification
    header ("\\x01vorbis" — channels u8 + rate u32le; or "OpusHead" —
    channels u8 + pre-skip u16le, granules always at 48 kHz).  Total
    samples = the last finished-packet granule position (minus
    pre-skip for Opus).  Returns the ``decode_audio`` dict shape
    (``bits_per_sample`` None) or None; a page the payload cannot back
    raises ``Malformed``."""
    r = _Reader(payload, order="little")
    first = True
    fmt = channels = rate = preskip = None
    last_granule = 0
    while r.remaining:
        magic, version, header_type, granule, n_segs = r.unpack(
            "4sBBq12xB")  # 12x: serial, sequence, checksum
        if magic != b"OggS" or version != 0:  # stream structure
            return None
        body = r.take(sum(r.take(n_segs)))
        if first:
            if not header_type & 0x02:  # BOS flag required
                return None
            if body[:7] == b"\x01vorbis" and len(body) >= 30:
                vorbis_version, channels, rate = _Reader(
                    body, 7, order="little").unpack("IBI")
                if vorbis_version != 0:
                    return None
                fmt = "vorbis"
            elif body[:8] == b"OpusHead" and len(body) >= 19:
                fmt = "opus"
                channels, preskip = _Reader(
                    body, 9, order="little").unpack("BH")
                rate = 48000  # granule positions are always 48 kHz
            else:
                return None
            if not channels or not rate:
                return None
            first = False
        if granule >= 0:  # -1 = no packet finishes on this page
            last_granule = granule
    if fmt is None:
        return None
    total = last_granule - (preskip or 0)
    total = max(total, 0)
    return {
        "format": fmt,
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": None,
        "n_samples": total,
        "duration_ms": total * 1000 // rate,
    }


# WAVE_FORMAT_EXTENSIBLE SubFormat GUID tail (RFC 2361 / mmreg.h):
# bytes 2-16 of the GUID are fixed; bytes 0-2 carry the real tag
_WAVE_GUID_TAIL = (
    b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
)


def _wav_layout(data: bytes) -> tuple | None:
    """The one WAV structure walk, shared by ``decode_audio`` and
    ``decode_wav_samples``: the RIFF/WAVE chunk table walked leniently
    (a short trailing chunk ends the walk; only the data chunk must
    fit), the last fmt chunk with its codec gates — PCM/IEEE-float
    plus the codec-free compressed tags (G.711 mu-law/A-law, IMA/MS
    ADPCM), WAVE_FORMAT_EXTENSIBLE resolved to its SubFormat tag —
    the `fact` frame count, and the data chunk sized into a frame
    count.  Returns (tag, channels, rate, bits, block_align,
    n_samples, sample bytes) or None."""
    if (len(data) < 42 or data[:4] != b"RIFF"
            or data[8:12] != b"WAVE"):
        return None
    r = _Reader(data, 12, order="little")
    fmt = sound = fact = None
    while r.remaining >= 8:
        cid, csize = r.take(4), r.u32()
        body = r.pos
        if cid == b"fmt " and csize >= 16 and r.remaining >= 16:
            tag, channels, rate, _, balign, bits = r.unpack("HHIIHH")
            if tag == 0xFFFE:  # EXTENSIBLE: SubFormat GUID's first u16
                sub = data[body + 24:body + 40]
                tag = (int.from_bytes(sub[:2], "little")
                       if csize >= 40 and len(sub) == 16
                       and sub[2:] == _WAVE_GUID_TAIL else -1)
            # 1 = PCM, 3 = IEEE float, 6/7 = G.711 A-law/mu-law,
            # 2/0x11 = MS/IMA ADPCM; anything else needs a codec
            if tag not in (1, 2, 3, 6, 7, 0x11):
                return None
            if channels == 0 or rate == 0:
                return None
            if tag in (1, 3) and bits not in (8, 16, 24, 32, 64):
                return None
            if tag in (6, 7) and bits != 8:
                return None
            if tag in (2, 0x11) and bits != 4:
                return None
            fmt = (tag, channels, rate, bits, balign)
        elif cid == b"fact" and csize >= 4 and r.remaining >= 4:
            fact = r.u32()
        elif cid == b"data":
            sound = r.take(csize)
        r.pos = body + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or sound is None:
        return None
    tag, channels, rate, bits, balign = fmt
    if tag in (1, 3):
        frame_bytes = channels * (bits // 8)
        if frame_bytes == 0 or len(sound) % frame_bytes != 0:
            return None
        n_samples = len(sound) // frame_bytes
    elif tag in (6, 7):  # G.711: one byte per sample per channel
        if len(sound) % channels != 0:
            return None
        n_samples = len(sound) // channels
    else:  # block-structured ADPCM: capacity from the block layout
        hdr = 4 * channels if tag == 0x11 else 7 * channels
        if balign <= hdr or len(sound) % balign != 0:
            return None
        if tag == 0x11:
            # IMA data groups are 4 bytes per channel (8 nibbles)
            if (balign - hdr) % (4 * channels) != 0:
                return None
            spb = 1 + (balign - hdr) * 2 // channels
        else:
            spb = 2 + (balign - hdr) * 2 // channels
        n_samples = (len(sound) // balign) * spb
        # compressed WAV carries the true frame count in `fact`; the
        # last block may be logically short of its capacity
        if fact is not None and 0 < fact <= n_samples:
            n_samples = fact
    return tag, channels, rate, bits, balign, n_samples, sound


@_never_raise
def decode_audio(payload: bytes | None) -> dict | None:
    """REAL pure-Python audio header decoder for WAV (RIFF/WAVE — walk
    the RIFF chunk table, read the fmt chunk (PCM or IEEE-float
    format tag, channels, sample rate, bits/sample) and size the data
    chunk into a sample count + duration), FLAC (STREAMINFO metadata
    block — ``_decode_flac``), MP3 (frame-header walk —
    ``_decode_mp3``), OGG Vorbis/Opus (page walk + identification
    header — ``_decode_ogg``) and AIFF/AIFF-C (big-endian IFF
    FORM/COMM/SSND walk with the 80-bit extended sample rate —
    ``_decode_aiff``).  Returns ``{"format", "channels",
    "sample_rate", "bits_per_sample", "n_samples", "duration_ms"}``
    or None (``bits_per_sample`` is None for the entropy-coded
    formats).  WAV accepts PCM/IEEE-float plus the codec-free
    compressed tags (G.711 mu-law/A-law, IMA/MS ADPCM — sized from
    the block layout and the `fact` frame count); SAMPLE decode for
    the entropy-coded formats (MP3/OGG) stays a labeled stub — no
    codec libraries in this container — but their container
    structure, codec parameters and duration are real."""
    data = bytes(payload or b"")
    if len(data) < 42:
        return None
    if data[:4] == b"fLaC":
        return _decode_flac(data)
    if data[:4] == b"OggS":
        return _decode_ogg(data)
    if data[:4] == b"FORM":
        return _decode_aiff(data)
    if data[:3] == b"ID3" or (data[0] == 0xFF and data[1] & 0xE0 == 0xE0):
        return _decode_mp3(data)
    layout = _wav_layout(data)
    if layout is None:
        return None
    _, channels, rate, bits, _, n_samples, _ = layout
    return {
        "format": "wav",
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate,
    }


def _ieee754_extended(b: bytes) -> float | None:
    """Decode the 80-bit IEEE 754 extended-precision float AIFF uses
    for its COMM sampleRate (sign 1 / exponent 15 / explicit-integer
    mantissa 64): value = mantissa × 2^(exp − 16383 − 63).  None for
    inf/NaN or negative rates."""
    if len(b) != 10:
        return None
    if b[0] & 0x80:
        return None
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0x7FFF:  # inf / NaN
        return None
    if exp == 0 and mant == 0:
        return 0.0
    if exp > 16383 + 63:  # would overflow float (and no real rate)
        return None
    return mant * 2.0 ** (exp - 16383 - 63)


# AIFF-C compression fourccs this engine decodes codec-free →
# bytes per stored sample point ("NONE"-keyed entries use the COMM
# sampleSize instead); perceptual AIFC codecs (ima4, QDM2, …) are
# rejected to the undecodable path like non-PCM WAV tags
_AIFC_CODEC_BYTES = {
    b"NONE": None, b"sowt": 2, b"fl32": 4, b"FL32": 4,
    b"fl64": 8, b"FL64": 8,
    b"ulaw": 1, b"ULAW": 1, b"alaw": 1, b"ALAW": 1,
}


def _aiff_layout(payload: bytes) -> tuple | None:
    """The one IFF walk for the AIFF/AIFF-C metadata and sample
    decoders: validate the FORM container (big-endian sizes,
    word-aligned chunks, declared FORM size covering the chunk table),
    read COMM (channels, numSampleFrames, sampleSize, 80-bit extended
    sampleRate, AIFC compression fourcc) and locate SSND's sample
    bytes (honoring its offset field).  Returns (fmt, channels,
    n_frames, bits, rate, codec, data) or None."""
    data = bytes(payload)
    n = len(data)
    if n < 20 or data[:4] != b"FORM":
        return None
    form_size = int.from_bytes(data[4:8], "big")
    ftype = data[8:12]
    if ftype not in (b"AIFF", b"AIFC"):
        return None
    # FORM size counts formType + chunks; allow one trailing pad byte
    if 8 + form_size not in (n, n - 1) or form_size < 4:
        return None
    chunks = dict(_Reader(data, 12, 8 + form_size).chunks())
    comm, ssnd = chunks.get(b"COMM"), chunks.get(b"SSND")
    if comm is None or ssnd is None or comm.remaining < 18:
        return None
    channels, n_frames, bits = comm.unpack("HIH")
    rate_f = _ieee754_extended(comm.take(10))
    if channels == 0 or rate_f is None or not 0 < rate_f < 1e7:
        return None
    rate = int(round(rate_f))
    if rate == 0:
        return None
    codec = b"NONE"
    if ftype == b"AIFC":
        if comm.remaining < 4:
            return None
        codec = comm.take(4)
        if codec not in _AIFC_CODEC_BYTES:
            return None
    per_point = _AIFC_CODEC_BYTES[codec]
    if per_point is None:  # NONE: stored size from COMM sampleSize
        if not 1 <= bits <= 32:
            return None
        per_point = (bits + 7) // 8
    elif codec == b"sowt" and bits != 16:
        return None
    if ssnd.remaining < 8:
        return None
    offset = ssnd.u32()
    ssnd.skip(4 + offset)  # blockSize, then the offset's padding
    sound = ssnd.take(n_frames * channels * per_point)
    fmt = "aiff" if ftype == b"AIFF" else "aifc"
    return fmt, channels, n_frames, bits, rate, codec, sound


def _decode_aiff(payload: bytes) -> dict | None:
    """REAL AIFF / AIFF-C header decode (public IFF-85-based Apple
    spec): FORM/COMM/SSND walk via ``_aiff_layout`` — big-endian
    chunk sizes, 80-bit extended sample rate, AIFC compression
    fourcc.  Same return shape as the WAV branch of
    ``decode_audio``."""
    layout = _aiff_layout(payload)
    if layout is None:
        return None
    fmt, channels, n_frames, bits, rate, _, _ = layout
    return {
        "format": fmt,
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "n_samples": n_frames,
        "duration_ms": n_frames * 1000 // rate,
    }


@_never_raise
def decode_aiff_samples(payload: bytes | None) -> dict | None:
    """REAL AIFF / AIFF-C sample decode, codec-free per spec: NONE =
    big-endian SIGNED integer PCM at 8/16/24/32 stored bits (AIFF
    8-bit is signed, unlike WAV's unsigned 8), sowt = little-endian
    16-bit (the QuickTime byte-swapped variant), fl32/fl64 = big-
    endian IEEE floats, ulaw/alaw = the shared G.711 tables.  Output
    shape matches ``decode_wav_samples`` — normalized interleaved
    floats where integer reconstructions satisfy the round(s·32768)
    exactness q30-style oracles rely on."""
    if not payload:
        return None
    layout = _aiff_layout(payload)
    if layout is None:
        return None
    _, channels, n_frames, bits, rate, codec, data = layout
    if codec in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
        table = _ULAW_LINEAR if codec in (b"ulaw", b"ULAW") else _ALAW_LINEAR
        samples = [table[b] / 32768.0 for b in data]
    elif codec == b"sowt":
        samples = [
            int.from_bytes(data[j:j + 2], "little", signed=True)
            / 32768.0
            for j in range(0, len(data), 2)
        ]
    elif codec in (b"fl32", b"FL32"):
        samples = list(struct.unpack(f">{len(data) // 4}f", data))
    elif codec in (b"fl64", b"FL64"):
        samples = list(struct.unpack(f">{len(data) // 8}d", data))
    else:  # NONE: big-endian signed PCM, stored size from sampleSize
        step = (bits + 7) // 8
        if step not in (1, 2, 3, 4):
            return None
        half = 1 << (step * 8 - 1)
        samples = [
            int.from_bytes(data[j:j + step], "big", signed=True) / half
            for j in range(0, len(data), step)
        ]
    return {
        "channels": channels,
        "sample_rate": rate,
        "samples": samples,
    }


# nullable pandas dtype per Spark column type: Arrow maps None to
# NULL in an integer/float column only through these
_PD_NULLABLE = {IntegerType: "Int32", LongType: "Int64", FloatType: "Float32"}


def _map_payloads(df: DataFrame, id_col: str, payload_col: str,
                  fields: list, row) -> DataFrame:
    """The one ``mapInPandas`` wrapper behind every operator here:
    the output is ``id_col`` then ``fields`` — (name, Spark type)
    pairs — and ``row(payload)`` returns one tuple of field values,
    or a list of such tuples to fan out (one output row each, none
    allowed).  The schema and the nullable pandas dtypes both come
    from ``fields``."""
    schema = StructType(
        [StructField(id_col, df.schema[id_col].dataType)]
        + [StructField(name, typ) for name, typ in fields])

    def batches(it):
        for pdf in it:
            ids, rows = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                out = row(payload)
                for r in out if isinstance(out, list) else (out,):
                    ids.append(i)
                    rows.append(r)
            cols = {id_col: ids}
            for k, (name, typ) in enumerate(fields):
                vals = [r[k] for r in rows]
                dtype = _PD_NULLABLE.get(type(typ))
                cols[name] = pd.array(vals, dtype=dtype) if dtype else vals
            yield pd.DataFrame(cols)

    return df.mapInPandas(batches, schema)


def _meta_operator(df: DataFrame, id_col: str, payload_col: str, decode,
                   fields: list) -> DataFrame:
    """(id, is_decodable, *fields): one ``decode`` dict per payload,
    NULL fields where it returned None."""
    keys = [name for name, _ in fields]

    def row(payload) -> tuple:
        meta = decode(payload)
        return (meta is not None,) + tuple(
            meta[k] if meta else None for k in keys)

    return _map_payloads(df, id_col, payload_col,
                         [("is_decodable", BooleanType())] + fields, row)


def audio_meta(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """(id, is_decodable, format, channels, sample_rate,
    bits_per_sample, n_samples, duration_ms) via Arrow-batched
    ``decode_audio`` — real for WAV, null for codec formats."""
    return _meta_operator(df, id_col, payload_col, decode_audio, [
        ("format", StringType()), ("channels", IntegerType()),
        ("sample_rate", IntegerType()), ("bits_per_sample", IntegerType()),
        ("n_samples", LongType()), ("duration_ms", LongType()),
    ])


def _g711_tables() -> tuple[tuple, tuple]:
    """Expand the ITU-T G.711 mu-law and A-law code→linear tables
    (16-bit domain, Sun g711.c-compatible: mu-law max ±32124, A-law
    max ±32256).  Both laws decode per-byte; computing the 256-entry
    tables once keeps the per-sample path a list index."""
    ulaw, alaw = [], []
    for c in range(256):
        u = ~c & 0xFF  # mu-law bytes are transmitted complemented
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
        ulaw.append(0x84 - t if u & 0x80 else t - 0x84)
        a = c ^ 0x55  # A-law bytes are transmitted with even bits flipped
        seg, m = (a >> 4) & 7, a & 0x0F
        if seg == 0:
            v = (m << 4) + 8
        elif seg == 1:
            v = (m << 4) + 0x108
        else:
            v = ((m << 4) + 0x108) << (seg - 1)
        alaw.append(v if a & 0x80 else -v)
    return tuple(ulaw), tuple(alaw)


_ULAW_LINEAR, _ALAW_LINEAR = _g711_tables()

# IMA/DVI ADPCM quantizer step table (89 entries) + index adjustment,
# per the IMA Digital Audio Pack recommended practice
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)

# MS ADPCM predictor coefficient pairs (x256) + idelta adaptation
# table, per the WAVE_FORMAT_ADPCM spec (Microsoft multimedia
# standards update / mmreg.h)
_MS_COEFS = (
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
)
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _ima_adpcm_samples(
    data: bytes, ch: int, balign: int, n_samples: int
) -> list | None:
    """Decode IMA/DVI ADPCM (WAV format tag 0x11) blocks to normalized
    interleaved floats.  Each block carries a per-channel header
    (int16 predictor = the block's first output sample, uint8 step
    index, reserved byte) followed by 4-byte-per-channel groups of
    8 nibbles; low nibble first within each byte.  Truncates to
    ``n_samples`` frames (the `fact` count).  Returns None on a
    header step index past the table."""
    out: list = []
    remaining = n_samples
    for b in range(len(data) // balign):
        blk = data[b * balign:(b + 1) * balign]
        pred, idx = [], []
        for c in range(ch):
            pred.append(
                int.from_bytes(blk[c * 4:c * 4 + 2], "little", signed=True)
            )
            ix = blk[c * 4 + 2]
            if ix >= len(_IMA_STEPS):
                return None
            idx.append(ix)
        chan = [[p] for p in pred]  # header predictor = first sample
        pos = 4 * ch
        while pos + 4 * ch <= balign:
            for c in range(ch):
                for byte in blk[pos + 4 * c:pos + 4 * c + 4]:
                    for nib in (byte & 0x0F, byte >> 4):
                        step = _IMA_STEPS[idx[c]]
                        diff = step >> 3
                        if nib & 4:
                            diff += step
                        if nib & 2:
                            diff += step >> 1
                        if nib & 1:
                            diff += step >> 2
                        p = pred[c] - diff if nib & 8 else pred[c] + diff
                        p = max(-32768, min(32767, p))
                        pred[c] = p
                        idx[c] = max(
                            0,
                            min(
                                len(_IMA_STEPS) - 1,
                                idx[c] + _IMA_INDEX[nib & 7],
                            ),
                        )
                        chan[c].append(p)
            pos += 4 * ch
        take = min(len(chan[0]), remaining)
        for j in range(take):
            for c in range(ch):
                out.append(chan[c][j] / 32768.0)
        remaining -= take
    return out


def _ms_adpcm_samples(
    data: bytes, ch: int, balign: int, n_samples: int
) -> list | None:
    """Decode MS ADPCM (WAV format tag 2) blocks to normalized
    interleaved floats.  Block header per channel: predictor
    coefficient index (1 byte), then int16 idelta, sample1, sample2
    per channel; output starts sample2, sample1, then one 4-bit code
    per sample round-robin across channels, high nibble first.
    Predictor division is C-style truncation toward zero (FFmpeg/
    spec-pseudocode behavior).  Returns None on a coefficient index
    past the table."""
    out: list = []
    remaining = n_samples
    hdr = 7 * ch
    for b in range(len(data) // balign):
        blk = data[b * balign:(b + 1) * balign]
        coef = []
        for c in range(ch):
            pi = blk[c]
            if pi >= len(_MS_COEFS):
                return None
            coef.append(_MS_COEFS[pi])
        delta, s1, s2 = [], [], []
        for c in range(ch):
            delta.append(int.from_bytes(
                blk[ch + 2 * c:ch + 2 * c + 2], "little", signed=True))
            s1.append(int.from_bytes(
                blk[3 * ch + 2 * c:3 * ch + 2 * c + 2],
                "little", signed=True))
            s2.append(int.from_bytes(
                blk[5 * ch + 2 * c:5 * ch + 2 * c + 2],
                "little", signed=True))
        chan = [[s2[c], s1[c]] for c in range(ch)]
        c = 0
        for byte in blk[hdr:]:
            for nib in (byte >> 4, byte & 0x0F):
                c1, c2 = coef[c]
                s = chan[c][-1] * c1 + chan[c][-2] * c2
                predv = -((-s) >> 8) if s < 0 else s >> 8
                snib = nib - 16 if nib >= 8 else nib
                v = max(-32768, min(32767, predv + delta[c] * snib))
                chan[c].append(v)
                delta[c] = max((_MS_ADAPT[nib] * delta[c]) >> 8, 16)
                c = (c + 1) % ch
        take = min(len(chan[0]), remaining)
        for j in range(take):
            for cc in range(ch):
                out.append(chan[cc][j] / 32768.0)
        remaining -= take
    return out


@_never_raise
def decode_wav_samples(payload: bytes | None) -> dict | None:
    """REAL WAV sample decode: integer PCM normalized to floats in
    [-1, 1] (8-bit unsigned → (v-128)/128, 16/24/32 signed →
    v / 2^(bits-1)), IEEE float pass-through, G.711 mu-law/A-law table
    expansion (tags 7/6), and IMA/MS ADPCM block decode (tags 0x11/2,
    truncated to the `fact` frame count) — all codec-free per spec;
    interleaved as written.  Structural validation is
    ``_wav_layout``'s; returns ``{"channels", "sample_rate",
    "samples": list[float]}`` or None (entropy-coded formats —
    MP3/OGG — keep the labeled stub)."""
    layout = _wav_layout(bytes(payload or b""))
    if layout is None:
        return None
    tag, ch, rate, bits, balign, n_target, data = layout
    if tag in (6, 7):  # G.711 mu-law / A-law: table decode per byte
        table = _ULAW_LINEAR if tag == 7 else _ALAW_LINEAR
        samples = [table[b] / 32768.0 for b in data]
    elif tag == 0x11:  # IMA ADPCM
        samples = _ima_adpcm_samples(data, ch, balign, n_target)
        if samples is None:
            return None
    elif tag == 2:  # MS ADPCM
        samples = _ms_adpcm_samples(data, ch, balign, n_target)
        if samples is None:
            return None
    elif tag == 1:  # integer PCM
        if bits == 8:
            samples = [(b - 128) / 128.0 for b in data]
        elif bits in (16, 24, 32):
            step, half = bits // 8, 1 << (bits - 1)
            samples = [
                (
                    int.from_bytes(
                        data[j:j + step], "little", signed=True
                    )
                )
                / half
                for j in range(0, len(data), step)
            ]
        else:
            return None
    elif tag == 3:  # IEEE float
        if bits == 32:
            samples = list(
                struct.unpack(f"<{len(data) // 4}f", data)
            )
        elif bits == 64:
            samples = list(
                struct.unpack(f"<{len(data) // 8}d", data)
            )
        else:
            return None
    else:
        return None
    return {"channels": ch, "sample_rate": rate, "samples": samples}


class _FlacBitReader:
    """MSB-first bit reader over the FLAC frame section.  Raises
    ValueError past the end, for ``decode_flac_samples``' boundary."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos * 8  # bit position

    def bits(self, n: int) -> int:
        p, d = self.pos, self.data
        if p + n > len(d) * 8:
            raise ValueError("flac: out of bits")
        out = 0
        while n:
            byte = d[p >> 3]
            avail = 8 - (p & 7)
            take = min(avail, n)
            out = (out << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            p += take
            n -= take
        self.pos = p
        return out

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while not self.bits(1):
            q += 1
            if q > 1 << 20:  # corrupt stream guard
                raise ValueError("flac: runaway unary")
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}
_FLAC_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _flac_utf8_num(reader: "_FlacBitReader") -> int:
    """Extended-UTF-8 coded frame/sample number (RFC 9639 §9.1.5)."""
    b0 = reader.bits(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    if n_follow < 1 or n_follow > 6:
        raise ValueError("flac: bad utf8 number")
    val = b0 & (mask - 1)
    for _ in range(n_follow):
        b = reader.bits(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad utf8 continuation")
        val = (val << 6) | (b & 0x3F)
    return val


def _flac_residual(reader, blocksize, order, out):
    """Rice-coded residual (RFC 9639 §9.2.7): 2-bit method selects
    4- or 5-bit partition parameters, 2^po partitions, escape code =
    raw n-bit samples; zigzag decode."""
    method = reader.bits(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = reader.bits(4)
    n_parts = 1 << po
    if blocksize % n_parts:
        raise ValueError("flac: bad partition order")
    for part in range(n_parts):
        count = blocksize // n_parts - (order if part == 0 else 0)
        if count < 0:
            raise ValueError("flac: bad partition order")
        param = reader.bits(pbits)
        if param == escape:
            nbits = reader.bits(5)
            for _ in range(count):
                out.append(reader.signed(nbits) if nbits else 0)
        else:
            for _ in range(count):
                q = reader.unary()
                u = (q << param) | (reader.bits(param) if param else 0)
                out.append((u >> 1) ^ -(u & 1))


def _flac_subframe(reader, blocksize, bps):
    """One subframe (RFC 9639 §9.2): constant / verbatim / fixed 0-4 /
    LPC 1-32, wasted-bits unary prefix, warmup + residual +
    predictor reconstruction in exact integer arithmetic."""
    if reader.bits(1):
        raise ValueError("flac: subframe padding bit set")
    ftype = reader.bits(6)
    wasted = 0
    if reader.bits(1):
        wasted = reader.unary() + 1
    bps -= wasted
    if ftype == 0:  # constant
        v = reader.signed(bps)
        samples = [v] * blocksize
    elif ftype == 1:  # verbatim
        samples = [reader.signed(bps) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # fixed predictor, order 0-4
        order = ftype & 7
        samples = [reader.signed(bps) for _ in range(order)]
        _flac_residual(reader, blocksize, order, samples)
        coefs = {
            0: (), 1: (1,), 2: (2, -1), 3: (3, -3, 1),
            4: (4, -6, 4, -1),
        }[order]
        for i in range(order, blocksize):
            samples[i] += sum(
                c * samples[i - 1 - j] for j, c in enumerate(coefs)
            )
    elif ftype >= 32:  # LPC, order 1-32
        order = (ftype & 31) + 1
        samples = [reader.signed(bps) for _ in range(order)]
        prec = reader.bits(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid lpc precision")
        shift = reader.signed(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = [reader.signed(prec) for _ in range(order)]
        _flac_residual(reader, blocksize, order, samples)
        for i in range(order, blocksize):
            pred = sum(
                c * samples[i - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            samples[i] += pred
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


@_never_raise
def decode_flac_samples(payload: bytes | None) -> dict | None:
    """REAL FLAC sample decode — FLAC is lossless and needs no codec
    library, only the public RFC 9639 bitstream: metadata blocks are
    walked to the first frame, then each frame's header (14-bit sync,
    block-size/rate/bps tables, UTF-8-coded ordinal, CRC-8 verified)
    is followed by per-channel subframes — constant, verbatim, fixed
    orders 0-4 and LPC up to order 32, rice-coded residuals with
    escape partitions, wasted-bits shifts — reconstructed in exact
    integer arithmetic and un-decorrelated (left-side / right-side /
    mid-side) per the channel assignment.  Returns the
    ``decode_wav_samples`` shape ``{"channels", "sample_rate",
    "samples": interleaved floats in [-1, 1]}`` or None.  Reference
    analog: the M-entity mediainfo capability
    (/root/reference/src/pheidippides.cpp:36-39) exposes media
    metadata only — sample access is this engine's extension."""
    data = bytes(payload or b"")
    layout = _flac_layout(data)
    if layout is None:
        return None
    channels, rate, stream_bps, total, i = layout
    n = len(data)
    out: list[list[int]] = [[] for _ in range(channels)]
    done = 0
    # STREAMINFO total_samples == 0 means UNKNOWN length (RFC
    # 9639): decode every frame present instead of expecting none
    unknown = total == 0
    while (unknown or done < total) and i + 5 <= n:
        hdr_start = i
        if data[i] != 0xFF or data[i + 1] & 0xFC != 0xF8:
            return None
        reader = _FlacBitReader(data, i)
        reader.bits(16)  # sync + reserved + blocking strategy
        bs_bits = reader.bits(4)
        rate_bits = reader.bits(4)
        chan_bits = reader.bits(4)
        bps_bits = reader.bits(3)
        if reader.bits(1):
            return None  # reserved bit must be 0
        _flac_utf8_num(reader)
        if bs_bits == 0:
            return None
        blocksize = _FLAC_BLOCKSIZES.get(bs_bits)
        if bs_bits == 6:
            blocksize = reader.bits(8) + 1
        elif bs_bits == 7:
            blocksize = reader.bits(16) + 1
        elif bs_bits >= 8:
            blocksize = 256 << (bs_bits - 8)
        if rate_bits == 12:
            reader.bits(8)
        elif rate_bits in (13, 14):
            reader.bits(16)
        elif rate_bits == 15:
            return None
        bps = _FLAC_BPS.get(bps_bits, stream_bps)
        if bps_bits == 3:
            return None
        crc_at = reader.byte_pos()
        if _flac_crc8(data[hdr_start:crc_at]) != reader.bits(8):
            return None
        if chan_bits < 8:
            if chan_bits + 1 != channels:
                return None
            chans = [
                _flac_subframe(reader, blocksize, bps)
                for _ in range(channels)
            ]
        elif chan_bits <= 10:
            if channels != 2:
                return None
            # the SIDE channel carries one extra bit
            extra0 = 1 if chan_bits == 9 else 0
            extra1 = 0 if chan_bits == 9 else 1
            c0 = _flac_subframe(reader, blocksize, bps + extra0)
            c1 = _flac_subframe(reader, blocksize, bps + extra1)
            if chan_bits == 8:  # left/side: R = L - side
                chans = [c0, [a - b for a, b in zip(c0, c1)]]
            elif chan_bits == 9:  # side/right: L = side + R
                chans = [[a + b for a, b in zip(c0, c1)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                chans = [left, right]
        else:
            return None
        reader.align()
        if reader.byte_pos() + 2 > n:
            return None
        reader.bits(16)  # frame CRC-16 (presence-checked)
        take = blocksize if unknown else min(
            blocksize, total - done
        )
        for c in range(channels):
            out[c].extend(chans[c][:take])
        done += take
        i = reader.byte_pos()
    if unknown:
        if done == 0:
            return None  # unknown length but no frames at all
        total = done
    elif done != total:
        return None
    half = 1 << (stream_bps - 1)
    samples = [
        out[c][k] / half
        for k in range(total)
        for c in range(channels)
    ]
    return {
        "channels": channels,
        "sample_rate": rate,
        "samples": samples,
    }


def audio_features(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """(id, is_decodable, n_frames, rms, peak, zero_crossings): REAL
    signal statistics over decoded samples — WAV PCM/IEEE-float via
    ``decode_wav_samples``, AIFF/AIFF-C via ``decode_aiff_samples``
    and lossless FLAC via
    ``decode_flac_samples`` (mono mix = mean across channels per
    frame) — the audio analog of the pooled-pixel image features;
    entropy-coded payloads (MP3/OGG) come back is_decodable=false
    with NULL stats.  Arrow ``mapInPandas`` throughout, like every
    decoder here."""
    def stats(payload: bytes) -> tuple:
        dec = _decode_samples(payload)
        if dec is None:
            return (False, None, None, None, None)
        ch = dec["channels"]
        s = dec["samples"]
        mono = [
            sum(s[j:j + ch]) / ch for j in range(0, len(s), ch)
        ]
        if not mono:
            return (True, 0, 0.0, 0.0, 0)
        rms = (sum(v * v for v in mono) / len(mono)) ** 0.5
        peak = max(abs(v) for v in mono)
        zc = sum(
            1
            for a, b in zip(mono, mono[1:])
            if (a < 0) != (b < 0)
        )
        return (True, len(mono), rms, peak, zc)

    return _map_payloads(df, id_col, payload_col, [
        ("is_decodable", BooleanType()), ("n_frames", LongType()),
        ("rms", FloatType()), ("peak", FloatType()),
        ("zero_crossings", LongType()),
    ], stats)


def _decode_samples(payload: bytes | None) -> dict | None:
    """The audio sample dispatch: WAV, AIFF/AIFF-C, then FLAC."""
    return (decode_wav_samples(payload)
            or decode_aiff_samples(payload)
            or decode_flac_samples(payload))


def audio_samples(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """(id, is_decodable, channels, sample_rate, n_frames, samples):
    the REAL decoded waveform as an interleaved ``array<float>``
    column — the decode step before feature extraction / resampling
    in a multimodal training pipeline.  WAV (PCM, IEEE float, G.711
    mu-law/A-law, IMA/MS ADPCM) via ``decode_wav_samples``, AIFF/
    AIFF-C (big-endian PCM, sowt, floats, G.711) via
    ``decode_aiff_samples``, lossless
    FLAC via ``decode_flac_samples``; entropy-coded payloads come
    back is_decodable=false with NULL samples.  Every sample is
    v/2^15 of an integer reconstruction, so ``round(s*32768)``
    recovers the exact int16 stream (float32 holds 16-bit integers
    exactly) — the property q30's driver-hash oracle relies on.
    Arrow ``mapInPandas``, like every decoder here."""
    def decode(payload) -> tuple:
        dec = _decode_samples(payload)
        if dec is None:
            return (False, None, None, None, None)
        ch = dec["channels"]
        return (
            True, ch, dec["sample_rate"],
            len(dec["samples"]) // ch, dec["samples"],
        )

    return _map_payloads(df, id_col, payload_col, [
        ("is_decodable", BooleanType()), ("channels", IntegerType()),
        ("sample_rate", IntegerType()), ("n_frames", LongType()),
        ("samples", ArrayType(FloatType())),
    ], decode)


def _avi_scan(data: bytes) -> tuple[dict, list[bytes]] | None:
    """The one RIFF-AVI container walk: returns (meta, ordered
    video-frame chunk bodies) or None.  The ``hdrl`` LIST must hold a
    valid ``avih`` main header (frame timing, stream count,
    dimensions) and the video ``strh`` supplies the handler fourcc
    (e.g. ``MJPG`` — whose frames are baseline JPEGs that
    ``decode_jpeg_pixels`` decodes for real); frames are the
    ``##dc``/``##db`` chunks of the ``movi`` LIST, including inside
    ``rec `` groups.  Raises Malformed on a broken chunk table."""
    n = len(data)
    if n < 12 or data[:4] != b"RIFF":
        return None
    riff_size = int.from_bytes(data[4:8], "little")
    if data[8:12] != b"AVI " or 8 + riff_size > n + 1:
        return None
    meta = {
        "us_per_frame": None, "total_frames": None, "n_streams": None,
        "width": None, "height": None, "handler": None, "strf": None,
    }
    frames: list[bytes] = []

    def is_list(c: _Reader, ltype: bytes) -> bool:
        return c.remaining >= 4 and c.take(4) == ltype

    def movi_frames(r: _Reader, top: bool) -> None:
        for fourcc, c in r.chunks():
            if fourcc[:2].isdigit() and fourcc[2:] in (b"dc", b"db"):
                frames.append(c.take(c.remaining))
            elif top and fourcc == b"LIST" and is_list(c, b"rec "):
                movi_frames(c, False)

    for fourcc, body in _Reader(data, 12, min(n, 8 + riff_size),
                                "little").chunks():
        if fourcc != b"LIST" or body.remaining < 4:
            continue
        ltype = body.take(4)
        if ltype == b"movi":
            movi_frames(body, True)
        if ltype != b"hdrl":
            continue
        for cf, c in body.chunks():
            if cf == b"avih":
                if c.remaining < 40:
                    raise Malformed("short avih")
                f = c.unpack("10I")
                meta.update(us_per_frame=f[0], total_frames=f[4],
                            n_streams=f[6], width=f[8], height=f[9])
            elif cf == b"LIST" and is_list(c, b"strl"):
                in_vids = False
                for sf, sc in c.chunks():
                    if sf == b"strh" and sc.remaining >= 8:
                        in_vids = sc.take(4) == b"vids"
                        raw = sc.take(4)
                        if in_vids and raw.isascii():
                            meta["handler"] = (
                                raw.decode("ascii").strip() or None)
                    elif sf == b"strf" and in_vids and sc.remaining >= 40:
                        # the video stream's BITMAPINFOHEADER (+palette)
                        # — lets DIB/RLE/CRAM frames re-wrap as
                        # standalone BMPs downstream
                        meta["strf"] = sc.take(sc.remaining)
    if not meta["us_per_frame"] or not meta["width"] or not meta["height"]:
        return None
    return meta, frames


def _bmp_rewrap(strf: bytes, frame: bytes) -> bytes:
    """A standalone BMP around a DIB: ``BM`` file header + the
    BITMAPINFOHEADER+palette verbatim (an AVI strf, an ICO entry's) +
    the pixel data verbatim (a video chunk, an ICO XOR plane)."""
    off = 14 + len(strf)
    return (b"BM" + (off + len(frame)).to_bytes(4, "little") + bytes(4)
            + off.to_bytes(4, "little") + strf + frame)


@_never_raise
def _avi_video_frames(payload: bytes | None) -> list[bytes] | None:
    """Ordered real video-frame chunks of an AVI payload, or None for
    non-AVI/malformed payloads.  MJPEG (and other self-contained
    codec) chunks pass through verbatim — each is a complete JPEG
    stream.  When the video ``strf`` declares an uncompressed DIB
    (BI_RGB), RLE (BI_RLE8/4), or MS Video 1 (CRAM/MSVC/WHAM fourcc)
    stream, each chunk is instead re-wrapped as a standalone BMP
    (``_bmp_rewrap``) so the frames pixel-decode through
    ``decode_bmp_pixels`` downstream, exactly like
    ``_gif_video_frames`` re-wraps animated-GIF descriptors
    (composition across skip blocks is a sequence-level concern, same
    stance as GIF disposal)."""
    scanned = payload and _avi_scan(bytes(payload))
    if not scanned:
        return None
    meta, frames = scanned
    strf = meta["strf"]
    if strf is not None:
        comp = _dib_header(strf)[5]  # biCompression
        if comp in (0, 1, 2) or comp in _MSV1_FOURCCS:
            frames = [_bmp_rewrap(strf, f) for f in frames]
    return frames


@_never_raise
def _gif_video_frames(payload: bytes | None) -> list[bytes] | None:
    """Ordered REAL frames of an ANIMATED GIF (≥ 2 image
    descriptors), each re-wrapped as a standalone single-frame GIF89a
    — the original LZW sub-blocks verbatim, the local-else-global
    palette promoted to the new frame's global table, the interlace
    flag preserved — so every emitted frame decodes through
    ``decode_gif_pixels`` downstream, exactly like AVI's MJPEG chunks
    decode through ``decode_jpeg_pixels``.  Frames are the raw
    per-descriptor images (no disposal/coalescing — composition is a
    downstream choice, like codec decode for MP4 samples).
    Single-image GIFs return None and stay on the still-image path."""
    layout = _gif_layout(bytes(payload or b""))
    if layout is None:
        return None
    frames = []
    for _, _, iw, ih, lflags, pal, bits, raw, _, _, _ in layout[5]:
        if pal is None or not iw or not ih:
            return None
        frames.append(
            b"GIF89a"
            + iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
            + bytes([0x80 | bits, 0, 0]) + pal
            + b"\x2c" + bytes(4)
            + iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
            + bytes([lflags & 0x40])  # keep interlace only
            + raw
            + b"\x3b"
        )
    if len(frames) < 2:
        return None  # a still image, not an animation
    return frames


# the container path both MP4 consumers descend, one level per entry
_MP4_PATH = (b"moov", b"trak", b"mdia", b"minf", b"stbl")


def _mp4_layout(r: _Reader, path: tuple = _MP4_PATH) -> tuple[list, bool]:
    """The one ISO-BMFF walk, shared by ``decode_video`` and
    ``_mp4_video_frames``: the box table under ``r`` as a list of
    (type, body start, body end, children) for every box before the
    first malformed one, plus whether the table tiled its range.
    Boxes of type ``path[0]`` carry their own (boxes, ok) pair, walked
    with ``path[1:]`` (moov → trak → mdia → minf → stbl).  Header
    decode needs every table on its path to tile; sample extraction
    only needs each box it looks up to come before the first error
    (``_mp4_find``)."""
    boxes = []
    try:
        for btype, body in r.boxes():
            start = body.pos
            kids = (_mp4_layout(body, path[1:])
                    if path and btype == path[0] else None)
            boxes.append((btype, start, body.end, kids))
    except Malformed:
        return boxes, False
    return boxes, True


def _mp4_find(layout: tuple[list, bool], btype: bytes):
    """First ``btype`` box of one layout level, or None; a malformed
    table before it is Malformed (a forward walk would hit it
    first)."""
    boxes, ok = layout
    box = next((b for b in boxes if b[0] == btype), None)
    if box is None and not ok:
        raise Malformed(f"box table breaks before {btype!r}")
    return box


@_never_raise
def _mp4_video_frames(payload: bytes | None) -> list[bytes] | None:
    """Ordered REAL video samples of an MP4 payload via the sample
    tables — ISO 14496-12 ``stbl`` is plain structure, no codec:
    ``stsz`` sizes every sample, ``stsc`` runs map samples to chunks,
    ``stco``/``co64`` give absolute chunk offsets, and samples lie
    consecutively within each chunk.  The first trak whose ``hdlr``
    handler is 'vide' is used; each returned byte string is one
    sample exactly as the encoder wrote it (e.g. AVC NAL units) —
    the codec-free frame-extraction step a 100 TB pipeline runs
    before shipping frames to a GPU decoder.  None for
    non-MP4 / malformed / table-less payloads."""
    data = bytes(payload or b"")
    n = len(data)
    if n < 16 or data[4:8] != b"ftyp":
        return None
    moov = _mp4_find(_mp4_layout(_Reader(data)), b"moov")
    if moov is None:
        return None
    stbl = None
    for btype, _, _, trak in moov[3][0]:
        if btype != b"trak":
            continue
        mdia = _mp4_find(trak, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_find(mdia[3], b"hdlr")
        if (hdlr is None or hdlr[2] - hdlr[1] < 12
                or data[hdlr[1] + 8:hdlr[1] + 12] != b"vide"):
            continue
        minf = _mp4_find(mdia[3], b"minf")
        if minf is None:
            continue
        stbl = _mp4_find(minf[3], b"stbl")
        break
    if stbl is None:
        return None
    stsz, stsc, stco = (_mp4_find(stbl[3], t)
                        for t in (b"stsz", b"stsc", b"stco"))
    width = 4
    if stco is None:
        stco, width = _mp4_find(stbl[3], b"co64"), 8
    if stsz is None or stsc is None or stco is None:
        return None

    def table(box, skip: int) -> _Reader:
        # tables read to the payload end; each declared count is
        # checked against its own box below
        r = _Reader(data, box[1])
        r.skip(skip)
        return r

    # stsz: ver/flags, uniform sample_size, count, [sizes]
    r = table(stsz, 4)
    uniform, count = r.u32(), r.u32()
    if count == 0:
        return None
    _need(count, n)  # sizes the uniform-size list below
    if uniform:
        sizes = [uniform] * count
    else:
        if stsz[1] + 12 + 4 * count > stsz[2]:
            return None
        sizes = r.unpack(f"{count}I")
    # stco/co64: chunk offsets
    r = table(stco, 4)
    n_chunks = r.u32()
    if stco[1] + 8 + width * n_chunks > stco[2] or n_chunks == 0:
        return None
    offs = r.unpack(f"{n_chunks}{'I' if width == 4 else 'Q'}")
    # stsc: (first_chunk, samples_per_chunk) runs over the chunks
    r = table(stsc, 4)
    n_runs = r.u32()
    if n_runs == 0 or stsc[1] + 8 + 12 * n_runs > stsc[2]:
        return None
    flat = r.unpack(f"{3 * n_runs}I")  # (first_chunk, per_chunk, desc)
    runs = list(zip(flat[::3], flat[1::3]))
    if runs[0][0] != 1:
        return None
    # run starts must be strictly increasing and within the chunk
    # table BEFORE the expansion below — a hostile first_chunk near
    # 2^32 would otherwise build a multi-GB samples-per-chunk list
    # from a few-hundred-byte payload
    for k in range(1, n_runs):
        if runs[k][0] <= runs[k - 1][0] or runs[k][0] > n_chunks:
            return None
    spc = []
    for k, (first, per) in enumerate(runs):
        last = runs[k + 1][0] - 1 if k + 1 < n_runs else n_chunks
        if last < first:
            return None
        spc.extend([per] * (last - first + 1))
    if len(spc) != n_chunks:
        return None
    frames = []
    si = 0
    for c, off in enumerate(offs):
        pos = off
        for _ in range(spc[c]):
            if si >= count:
                return None
            sz = sizes[si]
            if pos + sz > n:
                return None
            frames.append(data[pos:pos + sz])
            pos += sz
            si += 1
    if si != count:
        return None
    return frames


_MAX_COMPOSED_FRAMES = 256  # bound total composed output (hostile
# many-frame animations would otherwise emit frames × W*H*3 bytes)
_MAX_COMPOSED_PIXELS = 1 << 24  # …and bound frames × W*H too: 256
# max-size frames would still compose to ~3 GB of RGB without this


def _gif_compose(data: bytes) -> dict | None:
    """Composited TRUE pixels for every frame of an animated GIF —
    the sequence-level step ``_gif_video_frames`` leaves downstream:
    frames draw at their (left, top) descriptor position onto the
    logical-screen canvas, GCE transparency (packed bit 0 +
    transparent index) leaves the underlying pixels, and GCE disposal
    (packed bits 2-4) runs AFTER a frame is emitted — 2 restores the
    frame's rectangle to the background color, 3 restores the
    pre-draw canvas, 0/1 leave it.  The canvas starts as the
    logical-screen background (GCT[background index], else black —
    flattening, since the 3-channel pixel shape has no alpha).
    Returns {width, height, channels, frames:[rgb,...]} with one
    composited full-canvas RGB per frame, or None (malformed, a
    still, or past the frame/pixel bounds)."""
    layout = _gif_layout(data)
    if layout is None:
        return None
    sw, sh, _, bg_index, gct, images, _ = layout
    if sw <= 0 or sh <= 0:
        return None
    _need(sw * sh, _MAX_PIXELS)
    if gct is not None and 3 * bg_index + 2 < len(gct):
        background = gct[3 * bg_index:3 * bg_index + 3]
    else:
        background = b"\x00\x00\x00"
    canvas = bytearray(background * (sw * sh))
    frames: list[bytes] = []
    for image in images:
        left, top, iw, ih, _, pal, _, _, _, _, gce = image
        if not iw or not ih or left + iw > sw or top + ih > sh:
            return None
        if pal is None:
            return None
        idx = _gif_indices(image)
        if idx is None:
            return None
        disposal, transparent = gce
        saved = bytes(canvas) if disposal == 3 else None
        for y in range(ih):
            row = idx[y * iw:(y + 1) * iw]
            base = ((top + y) * sw + left) * 3
            for x, k in enumerate(row):
                if k == transparent:
                    continue
                at = base + 3 * x
                canvas[at:at + 3] = pal[3 * k:3 * k + 3]
        frames.append(bytes(canvas))
        if (len(frames) > _MAX_COMPOSED_FRAMES
                or len(frames) * sw * sh > _MAX_COMPOSED_PIXELS):
            return None
        if disposal == 2:
            for y in range(ih):
                base = ((top + y) * sw + left) * 3
                canvas[base:base + 3 * iw] = background * iw
        elif disposal == 3 and saved is not None:
            canvas = bytearray(saved)
    if len(frames) < 2:
        return None  # a still image, not an animation
    return {"width": sw, "height": sh, "channels": 3,
            "frames": frames}


def _jpeg_sequence_compose(frames: list[bytes]) -> dict | None:
    """Compose a Motion-JPEG sample sequence: the codec has no
    inter-frame state, so every sample is an independent full repaint
    and the sequence composes iff each one is a decodable JPEG
    (``decode_jpeg_pixels`` — from-spec T.81 Huffman + IDCT) with one
    consistent geometry.  None if any frame fails, geometries differ,
    or the total composed output would exceed the frame/pixel
    bounds."""
    if not frames or len(frames) > _MAX_COMPOSED_FRAMES:
        return None
    out: list[bytes] = []
    shape = None
    for f in frames:
        if f[:2] != b"\xff\xd8":
            return None
        dec = decode_jpeg_pixels(f)
        if dec is None:
            return None
        s = (dec["width"], dec["height"], dec["channels"])
        if shape is None:
            shape = s
            if len(frames) * s[0] * s[1] > _MAX_COMPOSED_PIXELS:
                return None
        elif s != shape:
            return None
        out.append(dec["pixels"])
    return {"width": shape[0], "height": shape[1],
            "channels": shape[2], "frames": out}


_MJPEG_FOURCCS = frozenset(
    int.from_bytes(f, "little") for f in (b"MJPG", b"mjpg", b"dmb1")
)


def _avi_compose(data: bytes) -> dict | None:
    """Composited TRUE pixels for every frame of an AVI whose video
    stream is MS Video 1 (CRAM/MSVC/WHAM), uncompressed DIB, RLE, or
    Motion-JPEG: MSV1 frames decode with the previous frame's pixels
    as the canvas, so skip-run blocks genuinely persist across frames
    (the codec's inter-frame mechanism — ``_avi_video_frames``'s
    standalone re-wrap necessarily renders them black); DIB/RLE and
    MJPEG frames are full repaints and decode standalone.  Frame
    geometry and palette come from the captured strf
    BITMAPINFOHEADER (MJPEG geometry from each frame's own SOF).
    Returns the ``_gif_compose`` shape, or None (no video strf, a
    codec this engine cannot pixel-decode, or any malformed frame)."""
    scanned = _avi_scan(data)
    if not scanned:
        return None
    meta, chunks = scanned
    strf = meta["strf"]
    if strf is None or not chunks:
        return None
    if len(chunks) > _MAX_COMPOSED_FRAMES:
        return None
    hdr = _dib_header(strf)
    _, w, h, _, bpp, comp, _ = hdr
    if comp in _MSV1_FOURCCS and bpp in (8, 16) and h > 0:
        if not _dib_ok(hdr):  # the standalone frame's gate
            return None
        _need(w * h, _MAX_PIXELS)
        if len(chunks) * w * h > _MAX_COMPOSED_PIXELS:
            return None
        palette = _dib_palette(strf, 0, hdr) if bpp == 8 else None
        frames: list[bytes] = []
        canvas: bytes | None = None
        for c in chunks:
            px = _msvideo1_pixels(c, w, h, bpp, palette, canvas)
            if px is None:
                return None
            frames.append(px)
            canvas = px
        return {"width": w, "height": h, "channels": 3,
                "frames": frames}
    if comp in (0, 1, 2):  # DIB / RLE: every frame a full repaint
        frames = []
        for c in chunks:
            dec = decode_bmp_pixels(_bmp_rewrap(strf, c))
            if dec is None:
                return None
            if (len(chunks) * dec["width"] * dec["height"]
                    > _MAX_COMPOSED_PIXELS):
                return None
            frames.append(dec["pixels"])
        if not frames:
            return None
        return {"width": dec["width"], "height": dec["height"],
                "channels": 3, "frames": frames}
    if comp in _MJPEG_FOURCCS:
        return _jpeg_sequence_compose(chunks)
    return None  # remaining entropy-coded codecs: metadata only


def _mp4_compose(data: bytes) -> dict | None:
    """Composited TRUE pixels for an MP4 whose video track carries
    Motion-JPEG samples (sample-entry codecs 'jpeg'/'mjpa' write one
    standalone JPEG per sample): the sample-table walk
    (``_mp4_video_frames``) extracts the frames and each decodes on
    its own.  Detection is by content — every sample must start with
    the JPEG SOI marker and fully decode — so H.264/H.265/VP9 tracks
    (the codecs that genuinely need codec libraries) return None from
    the first sample's leading NAL bytes."""
    frames = _mp4_video_frames(data)
    if frames is None:
        return None
    return _jpeg_sequence_compose(frames)


@_never_raise
def compose_video_pixels(payload: bytes | None) -> dict | None:
    """REAL sequence-level video decode: every frame of an animated
    payload as composited full-canvas RGB pixels — the step after
    ``frame_sample``'s byte extraction, closing the video → frames →
    TRUE pixels path for the from-spec-decodable families (animated
    GIF with disposal/transparency composition, AVI MS Video 1 with
    inter-frame skip-block persistence, AVI DIB/RLE repaints, and
    Motion-JPEG in AVI or MP4 via the T.81 decoder).  Inter-frame
    predictive codecs — H.26x/VP9 samples, entropy-coded AVI streams
    beyond MJPEG — return None, same stance as ``decode_image``'s
    metadata path.  Returns {width, height, channels,
    frames: [rgb, ...]} or None."""
    data = bytes(payload or b"")
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_compose(data)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return _avi_compose(data)
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return _mp4_compose(data)
    return None


def _mkv_block_frames(r: _Reader, track: int) -> list[bytes]:
    """Frames of one Matroska (Simple)Block body (track-number vint,
    s16 timecode, flags, then the lace table + frame bytes): no
    lacing, Xiph (255-terminated size bytes), fixed (equal split) and
    EBML (first size + signed deltas) lacing all reconstruct exact
    frame byte ranges.  Blocks of other tracks return []; raises
    Malformed on a broken block."""
    tnum = r.vint()
    if tnum is None:
        raise Malformed("mkv: unknown-size track number")
    r.skip(2)  # timecode
    flags = r.u8()
    if tnum != track:
        return []
    lacing = (flags >> 1) & 3
    if lacing == 0:
        return [r.take(r.remaining)]
    k = r.u8() + 1
    if lacing == 2:  # fixed-size lacing: equal split of the rest
        if r.remaining % k:
            raise Malformed("mkv: fixed lacing not divisible")
        w = r.remaining // k
        return [r.take(w) for _ in range(k)]
    sizes = []
    if lacing == 1:  # Xiph: 255-terminated byte sums for k-1 frames
        for _ in range(k - 1):
            sz, b = 0, 255
            while b == 255:
                b = r.u8()
                sz += b
            sizes.append(sz)
    else:  # EBML: first size absolute, then signed deltas
        prev = r.vint()
        if prev is None:
            raise Malformed("mkv: unknown-size lace")
        sizes.append(prev)
        for _ in range(k - 2):
            prev += r.svint()
            if prev < 0:
                raise Malformed("mkv: negative lace size")
            sizes.append(prev)
    if r.remaining < sum(sizes):  # the final frame size is inferred
        raise Malformed("mkv: laces overrun block")
    return [r.take(sz) for sz in sizes] + [r.take(r.remaining)]


_EBML_MAGIC = b"\x1a\x45\xdf\xa3"


def _mkv_layout(data: bytes) -> tuple | None:
    """The one Matroska/WebM structure walk, shared by
    ``_decode_webm`` and ``_mkv_video_frames`` (public RFC 8794 EBML +
    the matroska.org element registry): the top-level element table
    must tile the payload, with an EBML header whose DocType is
    'matroska' or 'webm' and a Segment (unknown-size Segments, the
    streamed form, run to payload end).  Inside the Segment: the
    first Info, every Cluster, and each TrackEntry of every Tracks as
    (TrackType, TrackNumber, its Video settings elements).  Returns
    (doctype, info, tracks, clusters) as readers, or None; raises
    Malformed on a broken element table."""
    if len(data) < 8 or data[:4] != _EBML_MAGIC:
        return None
    doctype = seg = None
    for eid, el in _Reader(data).ebml_elements():
        if eid == 0x1A45DFA3 and doctype is None:
            for hid, h in el.ebml_elements():
                if hid == 0x4282:  # DocType
                    doctype = h.take(h.remaining).split(b"\x00")[0]
        elif eid == 0x18538067 and seg is None:
            seg = el
    if doctype not in (b"matroska", b"webm") or seg is None:
        return None
    info, tracks, clusters = None, [], []
    for eid, el in seg.ebml_elements():
        if eid == 0x1549A966 and info is None:
            info = el
        elif eid == 0x1654AE6B:  # Tracks
            for tid, entry in el.ebml_elements():
                if tid != 0xAE:  # TrackEntry
                    continue
                ttype = tnum = None
                video = []
                for fid, f in entry.ebml_elements():
                    if fid == 0x83 and f.remaining:  # TrackType
                        ttype = f.u8()
                    elif fid == 0xD7 and 1 <= f.remaining <= 8:
                        tnum = f.uint(f.remaining)  # TrackNumber
                    elif fid == 0xE0:  # Video settings
                        video.append(f)
                tracks.append((ttype, tnum, video))
        elif eid == 0x1F43B675:
            clusters.append(el)
    return doctype, info, tracks, clusters


@_never_raise
def _mkv_video_frames(payload: bytes | None) -> list[bytes] | None:
    """Ordered REAL video frames of a Matroska/WebM payload: the first
    video track's TrackNumber from ``_mkv_layout``, then every
    Cluster's SimpleBlocks and BlockGroup Blocks
    (``_mkv_block_frames``) — un-lacing Xiph / fixed / EBML lace
    tables — emitting each frame's exact bytes as the encoder wrote
    them (VP8/VP9/AV1/H.264 bitstream chunks), the same codec-free
    extraction step ``_mp4_video_frames`` performs from the ISO-BMFF
    sample tables.  None for non-Matroska / malformed / frameless
    payloads."""
    layout = _mkv_layout(bytes(payload or b""))
    if layout is None:
        return None
    _, _, tracks, clusters = layout
    video_track = next(
        (tnum for ttype, tnum, _ in tracks if ttype == 1 and tnum), None)
    if video_track is None or not clusters:
        return None
    frames: list[bytes] = []
    for cluster in clusters:
        for cid, c in cluster.ebml_elements():
            if cid == 0xA3:  # SimpleBlock
                blocks = [c]
            elif cid == 0xA0:  # BlockGroup → Block children
                blocks = [g for gid, g in c.ebml_elements() if gid == 0xA1]
            else:
                continue
            for block in blocks:
                frames.extend(_mkv_block_frames(block, video_track))
    return frames or None


def _decode_webm(payload: bytes) -> dict | None:
    """REAL Matroska / WebM container decode over ``_mkv_layout``:
    Info yields TimecodeScale (ns/tick, default 1e6) and the float
    Duration; Tracks yields the track count and the first video
    track's PixelWidth/PixelHeight; an Info and at least one Cluster
    (the ``mdat`` analog) must be present.  Reported ``timescale`` is
    ticks/second (1e9 / TimecodeScale) so the shape matches the MP4
    branch.  Frame extraction (SimpleBlock/laced Block payloads)
    carries codec bitstreams (VP8/VP9/AV1/H.264) and stays behind
    the codec boundary.  None on anything malformed."""
    layout = _mkv_layout(bytes(payload))
    if layout is None:
        return None
    doctype, info, tracks, clusters = layout
    if info is None or not clusters:
        return None
    scale = 1_000_000  # TimecodeScale default: 1 ms ticks
    duration = None
    for iid, f in info.ebml_elements():
        if iid == 0x2AD7B1:  # TimecodeScale (uint)
            if not 1 <= f.remaining <= 8:
                return None
            scale = f.uint(f.remaining)
            # ns/tick: 0 is invalid; >1e9 would zero the reported
            # ticks/second
            if not 1 <= scale <= 1_000_000_000:
                return None
        elif iid == 0x4489:  # Duration (float 4/8)
            if f.remaining not in (4, 8):
                return None
            duration = struct.unpack(
                ">f" if f.remaining == 4 else ">d", f.take(f.remaining))[0]
            # NaN, negative and inf all fail (inf would overflow the
            # int() conversion below)
            if not 0 <= duration < 1e15:
                return None
    width = height = None
    for _, _, video in tracks:
        for v in video:
            w = h = None
            for vid, p in v.ebml_elements():
                if not 1 <= p.remaining <= 8:
                    continue
                if vid == 0xB0:  # PixelWidth
                    w = p.uint(p.remaining)
                elif vid == 0xBA:  # PixelHeight
                    h = p.uint(p.remaining)
            if width is None and w and h:
                width, height = w, h
    dur_ms = int(duration * scale / 1e6) if duration else 0
    return {
        "format": "webm" if doctype == b"webm" else "mkv",
        "major_brand": doctype.decode("ascii"),
        "timescale": 1_000_000_000 // scale,
        "duration_ms": dur_ms,
        "n_tracks": len(tracks),
        "width": width,
        "height": height,
    }


@_never_raise
def decode_video(payload: bytes | None) -> dict | None:
    """REAL pure-Python video container decoder for MP4 (ISO base
    media file format): walk the top-level box table (every declared
    box size must tile the payload exactly — arbitrary bytes after a
    valid prefix fail, same contract as the PNG chunk walk), require
    an ``ftyp`` first box, a ``moov`` containing a valid ``mvhd``
    (version 0 or 1, nonzero timescale), and an ``mdat``; read track
    count and the presentation (width, height) from the first ``tkhd``
    with nonzero dimensions (16.16 fixed point, rounded to int).
    Also decodes RIFF-AVI containers (``_avi_scan``): the ``avih``
    main header yields frame timing, stream count and dimensions, the
    video ``strh`` the handler fourcc, reported with ``timescale`` =
    1e6 (microsecond units) so ``duration_ms`` = µs/frame × frames.
    And Matroska/WebM (``_decode_webm``): the RFC 8794 EBML element
    walk — DocType gate, Segment Info (TimecodeScale + Duration),
    Tracks (count + first video track's pixel dims), Cluster
    required.
    Returns ``{"format", "major_brand", "timescale", "duration_ms",
    "n_tracks", "width", "height"}`` or None.  For MJPEG AVIs the
    frames themselves decode for real too (``frame_sample`` emits the
    actual ``movi`` frame chunks, each a baseline JPEG that
    ``decode_jpeg_pixels`` handles); other codecs keep the labeled
    stub fan-out — but the container-structure contract is exercised
    for real in both containers."""
    data = bytes(payload or b"")
    n = len(data)
    if n >= 8 and data[:4] == _EBML_MAGIC:
        return _decode_webm(data)
    if n >= 12 and data[:4] == b"RIFF":
        scanned = _avi_scan(data)
        if scanned is None:
            return None
        meta, _ = scanned
        return {
            "format": "avi",
            "major_brand": meta["handler"],
            "timescale": 1_000_000,
            "duration_ms": meta["us_per_frame"]
            * (meta["total_frames"] or 0) // 1000,
            "n_tracks": meta["n_streams"] or 0,
            "width": meta["width"],
            "height": meta["height"],
        }
    if n < 16 or data[4:8] != b"ftyp":
        return None
    top, ok = _mp4_layout(_Reader(data))
    if not ok or top[0][2] - top[0][1] < 8:
        return None
    brand = data[top[0][1]:top[0][1] + 4]
    if not brand.isascii():
        return None
    timescale = duration = None
    n_tracks = 0
    width = height = None
    for btype, _, _, moov in top[1:]:
        if btype != b"moov":
            continue
        if not moov[1]:
            return None
        for ityp, ib, ie, trak in moov[0]:
            if ityp == b"mvhd":
                # smallest valid body is v0 (20 bytes); a header-only
                # mvhd ending at payload end would otherwise index
                # past the buffer
                r = _Reader(data, ib, ie)
                if r.remaining < 20:
                    return None
                ver = r.u8()
                if ver not in (0, 1) or (ver and r.remaining < 31):
                    return None
                r.skip(3 + 8 * (ver + 1))  # flags, creation/modification
                timescale, duration = r.u32(), r.uint(4 * (ver + 1))
                if timescale == 0:
                    return None
            elif ityp == b"trak":
                n_tracks += 1
                if not trak[1]:
                    return None
                for ttyp, tb, te, _ in trak[0]:
                    # tkhd v0 body is 84 bytes; width/height are the
                    # final two 16.16 fixed-point fields (nonzero only
                    # on visual tracks)
                    if ttyp != b"tkhd" or te - tb < 84:
                        continue
                    w16 = int.from_bytes(data[te - 8:te - 4], "big")
                    h16 = int.from_bytes(data[te - 4:te], "big")
                    if width is None and w16 and h16:
                        width, height = w16 >> 16, h16 >> 16
    saw = {b[0] for b in top[1:]}
    if b"moov" not in saw or b"mdat" not in saw or timescale is None:
        return None
    return {
        "format": "mp4",
        "major_brand": brand.decode("ascii").strip(),
        "timescale": timescale,
        "duration_ms": duration * 1000 // timescale,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
    }


def video_meta(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """(id, is_decodable, format, major_brand, timescale, duration_ms,
    n_tracks, width, height) via Arrow-batched ``decode_video`` — real
    for MP4 containers, null for formats needing a codec library."""
    return _meta_operator(df, id_col, payload_col, decode_video, [
        ("format", StringType()), ("major_brand", StringType()),
        ("timescale", LongType()), ("duration_ms", LongType()),
        ("n_tracks", IntegerType()), ("width", IntegerType()),
        ("height", IntegerType()),
    ])


def payload_meta(payload: bytes | None) -> dict:
    """Payload metadata: byte stats are always real; ``is_decodable``,
    ``format`` and the dimensions come from ``decode_image`` (real for
    all nine header formats, None for anything else)."""
    img = decode_image(payload)
    return {
        "n_bytes": len(payload) if payload is not None else 0,
        "first_byte": payload[0] if payload else 0,
        "is_decodable": img is not None,
        "format": img["format"] if img else None,
        "width": img["width"] if img else None,
        "height": img["height"] if img else None,
    }


def binary_meta(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """(id, n_bytes, first_byte, is_decodable, format, width, height)
    via Arrow-batched ``payload_meta``; dimensions are real for every
    ``decode_image`` format and null otherwise."""
    fields = [
        ("n_bytes", LongType()), ("first_byte", IntegerType()),
        ("is_decodable", BooleanType()), ("format", StringType()),
        ("width", IntegerType()), ("height", IntegerType()),
    ]
    return _map_payloads(
        df, id_col, payload_col, fields,
        lambda p: tuple(payload_meta(p).values()))


FRAME_STRIDE = 16


def frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every_n: int = 4,
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """(id, frame_idx, frame_bytes): every ``every_n``-th frame of the
    payload (one input row → many output rows).  REAL for AVI
    containers (the actual ``movi`` video chunks from the RIFF walk,
    ``_avi_video_frames`` — for MJPEG AVIs each one is a baseline
    JPEG that ``decode_jpeg_pixels`` then decodes to pixels), for
    MP4 containers (the actual video-trak samples reconstructed from
    the ``stsz``/``stsc``/``stco`` sample tables,
    ``_mp4_video_frames``), for animated GIFs (each image
    descriptor re-wrapped as a standalone GIF that
    ``decode_gif_pixels`` decodes, ``_gif_video_frames``), AND for
    Matroska/WebM (Cluster SimpleBlock/Block walk with Xiph / fixed /
    EBML un-lacing, ``_mkv_video_frames``) — so
    video → frames runs end-to-end with no codec library for all
    four container families.  Other payloads keep the labeled
    deterministic byte-slicing stub (fixed ``stride`` chunks); a
    deployment swaps that for ffmpeg keyframe extraction — schema,
    batch iterator, and row fan-out are identical."""
    def frames(payload) -> list[tuple]:
        if payload is None:
            return []
        for extract in (_avi_video_frames, _mp4_video_frames,
                        _gif_video_frames, _mkv_video_frames):
            real = extract(payload)
            if real is not None:  # REAL container frames
                return [(f, real[f]) for f in range(0, len(real), every_n)]
        return [
            (f, bytes(payload[f * stride:(f + 1) * stride]))
            for f in range(0, len(payload) // stride, every_n)
        ]

    return _map_payloads(df, id_col, payload_col, [
        ("frame_idx", LongType()),
        ("frame_bytes", df.schema[payload_col].dataType),
    ], frames)


def video_pixel_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """(id, frame_idx, width, height, pixels): every ``every_n``-th
    COMPOSITED frame of a video payload as full-canvas RGB bytes
    (``compose_video_pixels`` — GIF disposal/transparency composition,
    AVI MS Video 1 skip-block persistence, AVI DIB/RLE repaints,
    Motion-JPEG samples in AVI or MP4).
    Payloads the engine cannot pixel-decode emit no rows — pair with
    ``frame_sample`` for the byte-level extraction that covers every
    container.  Arrow-batched mapInPandas, one input row → many
    output rows; partitioning by payload row is the unit of
    parallelism, exactly like ``frame_sample``."""
    def frames(payload) -> list[tuple]:
        dec = compose_video_pixels(payload)
        if dec is None:
            return []
        return [
            (f, dec["width"], dec["height"], dec["frames"][f])
            for f in range(0, len(dec["frames"]), every_n)
        ]

    return _map_payloads(df, id_col, payload_col, [
        ("frame_idx", LongType()), ("width", LongType()),
        ("height", LongType()), ("pixels", BinaryType()),
    ], frames)


def _decode_pixels(payload: bytes | None) -> dict | None:
    """The image pixel dispatch shared by ``resize_meta`` and
    ``extract_features``."""
    return (
        decode_png_pixels(payload)
        or _ppm_pixels(payload)
        or decode_gif_pixels(payload)
        or decode_tiff_pixels(payload)
        or decode_jpeg_pixels(payload)
        or decode_bmp_pixels(payload)
        or decode_ico_pixels(payload)
    )


def resize_meta(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_side: int = 256,
) -> DataFrame:
    """(id, width, height, out_width, out_height, thumb): decode the
    payload's dimensions — REAL for netpbm/BMP/PNG/JPEG/GIF/TIFF/
    WebP/HEIF-AVIF headers (``decode_image``), stub (derived
    deterministically from
    the byte length) for undecodable payloads — compute
    aspect-preserving resize targets bounded by ``max_side``, and emit
    a thumbnail.  The thumbnail is REAL — nearest-neighbor resampled
    pixel bytes — wherever pixels decode codec-free: 8-bit non-palette
    PNG (``decode_png_pixels``, stdlib-zlib inflate + per-row
    unfilter), binary PPM (``_ppm_pixels``), GIF
    (``decode_gif_pixels``, pure-Python LZW + palette), TIFF —
    uncompressed / LZW / Deflate / PackBits / JPEG strips — and JPEG
    — sequential and progressive — (``decode_jpeg_pixels``,
    from-spec T.81 Huffman + IDCT).  Every image format this engine
    recognizes now pixel-decodes codec-free; the payload-prefix stub
    remains only for unrecognized payloads."""
    def resize(payload) -> tuple:
        p = payload or b""
        img = decode_image(p)
        if img is not None:  # real header decode
            w, h = img["width"], img["height"]
        else:
            # STUB for codec formats: dims from the byte length
            w = 64 + (len(p) % 1920)
            h = 64 + ((len(p) * 7) % 1080)
        scale = min(1.0, max_side / max(w, h))
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        pix = _decode_pixels(p)
        if pix is not None:  # REAL resampled pixel bytes
            thumb = _nn_resize(
                pix["pixels"], w, h, pix["channels"], ow, oh
            )
        else:  # labeled stub for entropy-coded formats
            thumb = bytes(p[:32])
        return w, h, ow, oh, thumb

    return _map_payloads(df, id_col, payload_col, [
        ("width", IntegerType()), ("height", IntegerType()),
        ("out_width", IntegerType()), ("out_height", IntegerType()),
        ("thumb", df.schema[payload_col].dataType),
    ], resize)


def extract_features(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    dim: int = 64,
) -> DataFrame:
    """(id, embedding array<float>): payload → feature vector.  REAL
    pooled-pixel features wherever pixels decode codec-free (PNG via
    ``decode_png_pixels``, binary PPM via ``_ppm_pixels``, GIF, TIFF
    — all supported compressions — JPEG via ``decode_jpeg_pixels``,
    and BMP): the image is divided into a √dim x √dim grid and
    each cell's mean luminance (channel average) is scaled to [-1, 1)
    — a classic tiny-gist descriptor, deterministic, no model weights.
    Entropy-coded formats and non-image payloads get a REAL
    byte-distribution gist instead: component b is the COUNT of
    payload bytes whose value falls in bin b (256/dim-wide bins) — the
    bag-of-bytes descriptor.  Cosine over raw counts equals cosine
    over the normalized histogram (scale invariance), so it feeds the
    ANN operators unchanged, and counts are exact in float32 for any
    payload under 2^24 bytes per bin (a 16 MB crawl-payload cap the
    fetch layer already enforces in practice).  NULL/empty payloads
    embed as the zero vector.  The output column shape is exactly the
    `embeddings.embedding` schema, so the result feeds
    ann.with_buckets / ann_topk unchanged — binary column in,
    similarity-searchable vector out."""
    grid = max(1, int(dim ** 0.5))

    def embed(payload: bytes) -> list[float]:
        pix = _decode_pixels(payload)
        if pix is not None:  # REAL grid-pooled luminance features
            w, h, ch = pix["width"], pix["height"], pix["channels"]
            data = pix["pixels"]
            out = []
            for gy in range(grid):
                y0, y1 = gy * h // grid, max((gy + 1) * h // grid, gy * h // grid + 1)
                for gx in range(grid):
                    x0 = gx * w // grid
                    x1 = max((gx + 1) * w // grid, x0 + 1)
                    tot = cnt = 0
                    for y in range(y0, min(y1, h)):
                        for x in range(x0, min(x1, w)):
                            base = (y * w + x) * ch
                            tot += sum(data[base:base + ch])
                            cnt += ch
                    out.append(tot / cnt / 127.5 - 1.0 if cnt else 0.0)
            return (out + [0.0] * dim)[:dim]
        if not payload:
            return [0.0] * dim
        arr = np.frombuffer(bytes(payload), dtype=np.uint8)
        # bin index = (byte * dim) >> 8: dim equal-width value bins
        idx = (arr.astype(np.int64) * dim) >> 8
        counts = np.bincount(idx, minlength=dim)[:dim]
        return counts.astype(np.float64).tolist()

    return _map_payloads(df, id_col, payload_col,
                         [("embedding", ArrayType(FloatType()))],
                         lambda p: (embed(p),))
