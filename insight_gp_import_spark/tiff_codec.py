"""Pure-stdlib TIFF codec (round-6 baseline; round-7 adds LZW/Deflate).

TIFF is a container with dozens of compression schemes; real-world
coverage needs a library. What IS tractable with stdlib+numpy — and
covers the overwhelming majority of real TIFF exports — is:

- ``decode_tiff``: first IFD of little- or big-endian TIFF files,
  Compression 1 (none), 5 (LZW — TIFF variant: MSB-first bit packing,
  early code-width change), 8 / 32946 (Deflate, zlib stream per
  strip), 32773 (PackBits byte-RLE), with horizontal-differencing
  Predictor (tag 317, value 2); 8-bit grayscale / RGB / RGBA, strip
  layout (any RowsPerStrip), PlanarConfiguration=1 (chunky).
  CCITT/JPEG-in-TIFF and tiled layouts refuse explicitly with the
  scheme named.
- ``encode_tiff``: little-endian strip writer, Compression 1/5/8/
  32773, optional Predictor 2 and multi-strip RowsPerStrip — the
  fixture source for the round-trip tests. Dimension tags are written
  as LONG (type 4), so images larger than 65535 on a side encode
  correctly.

Spec: TIFF 6.0 (Adobe, 1992; public), §13 (LZW) including the
early-change rule at codes 511/1023/2047 and the 4094 table-full
Clear. The LZW decoder is additionally pinned by a hand-packed code
stream in tests (independent of our encoder), so a mirrored
encoder/decoder bug cannot self-certify.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_PREDICTOR = 317

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

_COMPRESSION_NAMES = {
    2: "CCITT G3", 3: "CCITT T.4", 4: "CCITT T.6",
    6: "old JPEG", 7: "JPEG",
}

_CLEAR = 256
_EOI = 257


def is_tiff(data: bytes) -> bool:
    return bytes(data[:4]) in (b"II*\x00", b"MM\x00*")


def lzw_decode(buf: bytes) -> bytes:
    """TIFF-variant LZW: MSB-first bit order, 9→12-bit codes with the
    EARLY width change (width bumps when the next free slot reaches
    2^w - 1, i.e. at 511/1023/2047 — one code earlier than GIF's LSB
    variant in gif_codec.py)."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = 0
    nbits = 0
    pos = 0
    old: bytes | None = None

    def reset() -> None:
        nonlocal table, width, old
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        old = None

    reset()
    n = len(buf)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # tolerate missing EOI (common writers)
            acc = (acc << 8) | buf[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == _EOI:
            return bytes(out)
        if code == _CLEAR:
            reset()
            continue
        if old is None:
            if code >= 256:
                raise ValueError("LZW: first code after clear not a literal")
            out += table[code]
            old = table[code]
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = old + old[:1]
        else:
            raise ValueError("LZW: code beyond table")
        out += entry
        table.append(old + entry[:1])
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1  # early change
        old = entry


def lzw_encode(buf: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture source for the round-trip
    tests; mirrors lzw_decode's early-change rule and clears the table
    at slot 4094 per TIFF 6.0 §13)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {}
    width = 9
    nxt = 258

    def reset() -> None:
        nonlocal table, width, nxt
        table = {bytes([i]): i for i in range(256)}
        width = 9
        nxt = 258

    reset()
    emit(_CLEAR, width)
    omega = b""
    for byte in buf:
        k = omega + bytes([byte])
        if k in table:
            omega = k
            continue
        emit(table[omega], width)
        table[k] = nxt
        nxt += 1
        # Width pairing (libtiff tif_lzw.c, the de-facto standard): the
        # DECODER bumps when its next-free slot reaches (1<<w)-1 — the
        # "early change" — but the decoder's table trails the encoder's
        # by exactly one entry at read time, so the matching ENCODER
        # rule is next-free == (1<<w). Bumping here at (1<<w)-1 would
        # desync every stream longer than 253 table entries.
        if nxt == (1 << width) and width < 12:
            width += 1
        omega = bytes([byte])
        if nxt == 4094:
            emit(table[omega], width)
            emit(_CLEAR, width)
            reset()
            omega = b""
    if omega:
        emit(table[omega], width)
        # The decoder adds a table entry for this last code too (unless
        # it is the first code after a Clear), and may bump its width
        # before reading EOI; libtiff's LZWPostEncode pairs it the same
        # way.
        if nxt > 258 and nxt + 1 == (1 << width) and width < 12:
            width += 1
    emit(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_decode(buf: bytes) -> bytes:
    """TIFF PackBits (compression 32773): Apple's byte-RLE. Control
    byte n in 0..127 -> copy n+1 literals; n in -127..-1 (two's
    complement 129..255) -> repeat next byte 1-n times; -128 (128) is
    a no-op."""
    out = bytearray()
    pos = 0
    end = len(buf)
    while pos < end:
        n = buf[pos]
        pos += 1
        if n < 128:
            out += buf[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:
            out += buf[pos:pos + 1] * (257 - n)
            pos += 1
    return bytes(out)


def packbits_encode(buf: bytes) -> bytes:
    """PackBits encoder (fixture source for the round-trip tests):
    greedy — runs of >=3 identical bytes become repeat packets (max
    128), everything between becomes literal packets (max 128)."""
    out = bytearray()
    i = 0
    n = len(buf)
    lit_start = 0

    def flush_literals(end: int) -> None:
        nonlocal lit_start
        while lit_start < end:
            k = min(128, end - lit_start)
            out.append(k - 1)
            out.extend(buf[lit_start:lit_start + k])
            lit_start += k

    while i < n:
        run = 1
        while i + run < n and buf[i + run] == buf[i] and run < 128:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(buf[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def _read_ifd(data: bytes, endian: str):
    (ifd_off,) = struct.unpack(endian + "I", data[4:8])
    (n_entries,) = struct.unpack(endian + "H", data[ifd_off:ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        at = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(endian + "HHI", data[at:at + 8])
        if typ not in _TYPE_SIZES:
            continue
        size = _TYPE_SIZES[typ] * count
        if size <= 4:
            payload = data[at + 8:at + 8 + size]
        else:
            (off,) = struct.unpack(endian + "I", data[at + 8:at + 12])
            payload = data[off:off + size]
        if typ == 3:
            vals = list(struct.unpack(endian + "H" * count, payload))
        elif typ == 4:
            vals = list(struct.unpack(endian + "I" * count, payload))
        elif typ == 1:
            vals = list(payload)
        else:
            continue  # ASCII/RATIONAL tags are irrelevant here
        tags[tag] = vals
    return tags


def _undo_predictor2(strip: np.ndarray) -> np.ndarray:
    """Horizontal differencing (Predictor=2): each sample stores the
    delta to the previous pixel's same sample in the row; integrate
    with a mod-256 running sum per row/channel."""
    return np.cumsum(strip, axis=1, dtype=np.uint8)


def decode_tiff(data: bytes) -> np.ndarray:
    if not is_tiff(data):
        raise ValueError("not a TIFF (bad signature)")
    endian = "<" if data[:2] == b"II" else ">"
    tags = _read_ifd(data, endian)
    if _TAG_WIDTH not in tags or _TAG_HEIGHT not in tags:
        raise ValueError("TIFF missing dimensions")
    w, h = tags[_TAG_WIDTH][0], tags[_TAG_HEIGHT][0]
    comp = tags.get(_TAG_COMPRESSION, [1])[0]
    if comp not in (1, 5, 8, 32946, 32773):
        name = _COMPRESSION_NAMES.get(comp, str(comp))
        raise NotImplementedError(
            f"TIFF compression {name} (none/LZW/Deflate/PackBits supported)"
        )
    if tags.get(_TAG_PLANAR, [1])[0] != 1:
        raise NotImplementedError("TIFF planar configuration 2")
    spp = tags.get(_TAG_SAMPLES, [1])[0]
    bits = tags.get(_TAG_BITS, [8] * spp)
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"TIFF bit depths {bits} (8-bit only)")
    if spp not in (1, 3, 4):
        raise NotImplementedError(f"TIFF {spp} samples per pixel")
    predictor = tags.get(_TAG_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    offsets = tags.get(_TAG_STRIP_OFFSETS)
    counts = tags.get(_TAG_STRIP_COUNTS)
    if not offsets or not counts:
        raise NotImplementedError("TIFF tiled layout (no strip offsets)")
    rps = tags.get(_TAG_ROWS_PER_STRIP, [h])[0] or h
    row_bytes = w * spp
    rows_out: list[np.ndarray] = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        raw = bytes(data[off:off + cnt])
        if comp == 5:
            raw = lzw_decode(raw)
        elif comp in (8, 32946):
            raw = zlib.decompress(raw)
        elif comp == 32773:
            raw = packbits_decode(raw)
        n_rows = min(rps, h - si * rps)
        need = n_rows * row_bytes
        if len(raw) < need:
            raise ValueError("TIFF strip data shorter than image")
        strip = np.frombuffer(raw[:need], dtype=np.uint8).reshape(
            n_rows, w, spp
        )
        if predictor == 2:
            strip = _undo_predictor2(strip)
        rows_out.append(strip)
    img = np.concatenate(rows_out, axis=0)
    if img.shape[0] < h:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    if spp == 4:
        img = img[:, :, :3]  # drop alpha
    if spp == 1:
        # PhotometricInterpretation 0 = WhiteIsZero: invert to the
        # conventional black-is-zero grayscale
        if tags.get(_TAG_PHOTOMETRIC, [1])[0] == 0:
            img = 255 - img
        img = np.repeat(img, 3, axis=2)
    return np.ascontiguousarray(img)


def encode_tiff(
    arr: np.ndarray,
    compression: int = 1,
    rows_per_strip: int | None = None,
    predictor: int = 1,
) -> bytes:
    """uint8 (h, w[, 3]) RGB -> little-endian strip TIFF.

    compression: 1 (none), 5 (LZW), 8 (Deflate), 32773 (PackBits).
    predictor: 1 (none) or 2 (horizontal differencing; only meaningful
    with 5/8).
    Dimension/rows tags are LONG (type 4) per spec, so dimensions are
    not capped at 65535 (r6 ADVICE: the SHORT writer raised
    struct.error past that).
    """
    if compression not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=2)
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, spp = arr.shape
    rps = rows_per_strip or h
    strips: list[bytes] = []
    for y0 in range(0, h, rps):
        strip = arr[y0:y0 + rps]
        if predictor == 2:
            d = strip.astype(np.int16)
            d[:, 1:] -= d[:, :-1].copy()
            strip = (d & 0xFF).astype(np.uint8)
        raw = strip.tobytes()
        if compression == 5:
            raw = lzw_encode(raw)
        elif compression == 8:
            raw = zlib.compress(raw)
        elif compression == 32773:
            raw = packbits_encode(raw)
        strips.append(raw)
    # layout: header(8) | strip data | BitsPerSample | offsets | counts | IFD
    pix_off = 8
    strip_offs: list[int] = []
    at = pix_off
    for s in strips:
        strip_offs.append(at)
        at += len(s)
    bits_off = at
    offs_off = bits_off + 2 * spp
    counts_off = offs_off + 4 * len(strips)
    ifd_off = counts_off + 4 * len(strips)
    nstrips = len(strips)
    entries = [
        (_TAG_WIDTH, 4, 1, w),
        (_TAG_HEIGHT, 4, 1, h),
        (_TAG_BITS, 3, spp, bits_off),
        (_TAG_COMPRESSION, 3, 1, compression),
        (_TAG_PHOTOMETRIC, 3, 1, 2 if spp >= 3 else 1),
        (_TAG_STRIP_OFFSETS, 4, nstrips,
         strip_offs[0] if nstrips == 1 else offs_off),
        (_TAG_SAMPLES, 3, 1, spp),
        (_TAG_ROWS_PER_STRIP, 4, 1, rps),
        (_TAG_STRIP_COUNTS, 4, nstrips,
         len(strips[0]) if nstrips == 1 else counts_off),
        (_TAG_PLANAR, 3, 1, 1),
        (_TAG_PREDICTOR, 3, 1, predictor),
    ]
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    for s in strips:
        out += s
    out += struct.pack("<" + "H" * spp, *([8] * spp))
    if nstrips > 1:
        out += struct.pack("<" + "I" * nstrips, *strip_offs)
        out += struct.pack("<" + "I" * nstrips, *(len(s) for s in strips))
    else:
        # offsets/counts arrays are inlined in the entry value slot;
        # pad the reserved table space so the IFD lands at ifd_off
        out += b"\x00" * (4 * nstrips * 2)
    out += struct.pack("<H", len(entries))
    for tag, typ, count, val in entries:
        out += struct.pack("<HHI", tag, typ, count)
        if typ == 3 and count == 1:
            out += struct.pack("<HH", val, 0)
        else:
            out += struct.pack("<I", val)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)
