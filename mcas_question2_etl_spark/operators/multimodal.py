"""Multimodal column plumbing: opaque binary payloads (image/audio/
video) with typed metadata, processed by Arrow-batched pandas
iterators.

The Spark-side contract is fully real — schemas, partition sizing, UDF
signatures, batch shapes, and the mapInPandas pipeline are what a
production multimodal pipeline runs; only the codec kernels are
pluggable because no image/audio libraries ship in this container:

  * ``decoder=None`` -> DETERMINISTIC FAKE (metadata derived from the
    bytes themselves: length, checksum, synthesized dimensions) so the
    distributed plumbing is testable end-to-end;
  * a real kernel (PIL/libav via ``decoder=callable``) slots into the
    same signature;
  * ``strict_decoder()`` is the clearly-marked NotImplementedError stub
    to fail loudly where fake features must not leak into production.

Scale notes: binary payloads dominate row width, so operators here
never shuffle raw bytes — derived features are projected out and the
payload column dropped as early as possible; ``maxRecordsPerBatch``
bounds Arrow batch memory (payloads × batch size is the real memory
unit, not row count).
"""

from __future__ import annotations

import hashlib
import math
import zlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal column bundle: payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("source_uri", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic fake codec: features derived only from the bytes,
    so results are reproducible and assert-able without real media
    libraries. Width/height/duration are synthesized from the checksum."""
    if payload is None:
        return {"n_bytes": 0, "checksum": None, "width": None, "height": None, "duration_ms": None}
    h = hashlib.md5(payload).hexdigest()
    seed = int(h[:8], 16)
    out = {
        "n_bytes": len(payload),
        "checksum": h,
        "width": None,
        "height": None,
        "duration_ms": None,
    }
    if media_type == "image":
        out["width"] = 64 + seed % 1920
        out["height"] = 64 + (seed >> 8) % 1080
    elif media_type in ("audio", "video"):
        out["duration_ms"] = 1000 + seed % 600_000
        if media_type == "video":
            out["width"] = 320 + seed % 1600
            out["height"] = 240 + (seed >> 8) % 840
    return out


# --------------------------------------------------------------------------
# Real decoders for the uncompressed container formats (pure stdlib).
#
# BMP (BITMAPINFOHEADER, uncompressed BI_RGB), binary PPM/PGM (P6/P5)
# and PCM WAV cover the fixture formats without any codec library;
# compressed formats (JPEG/PNG/MP3/H.264) still fail loudly — that slot
# needs PIL/libav, which this container does not ship.
# --------------------------------------------------------------------------

import struct as _struct


def _decode_bmp(b: bytes) -> dict:
    if len(b) < 54:
        raise ValueError(f"BMP truncated: {len(b)} bytes < 54-byte header")
    # BITMAPFILEHEADER: magic(2) size(4) reserved(4) data_offset(4)
    file_size, data_off = _struct.unpack_from("<IxxxxI", b, 2)
    hdr_size = _struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (need BITMAPINFOHEADER)")
    width, height, _planes, bpp, compression = _struct.unpack_from(
        "<iihHI", b, 18
    )
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression} (only BI_RGB)")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    height = abs(height)  # negative height = top-down row order
    row_bytes = (width * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    need = data_off + row_bytes * height
    if len(b) < need:
        raise ValueError(f"BMP pixel data truncated: {len(b)} < {need}")
    return {"width": int(width), "height": int(height), "duration_ms": None}


def _decode_pnm(b: bytes) -> dict:
    # P5 (binary graymap) / P6 (binary pixmap): ASCII header tokens
    # (magic, width, height, maxval) with #-comments, then raw samples
    magic = b[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"unsupported PNM magic {magic!r} (only binary P5/P6)")
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        if i >= len(b):
            raise ValueError("PNM header truncated")
        c = b[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(b) and not b[j : j + 1].isspace():
                j += 1
            tokens.append(int(b[i:j]))
            i = j
    i += 1  # single whitespace byte after maxval, then raw data
    width, height, maxval = tokens
    depth = 3 if magic == b"P6" else 1
    sample_bytes = 2 if maxval > 255 else 1
    need = i + width * height * depth * sample_bytes
    if len(b) < need:
        raise ValueError(f"PNM sample data truncated: {len(b)} < {need}")
    return {"width": int(width), "height": int(height), "duration_ms": None}


def _decode_wav(b: bytes) -> dict:
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    # walk chunks: need fmt (byte rate) and data (payload size)
    pos = 12
    byte_rate = None
    data_len = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        clen = _struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError(f"fmt chunk too short: {clen}")
            audio_fmt, _ch, _rate, byte_rate = _struct.unpack_from(
                "<HHII", b, pos + 8
            )
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV format {audio_fmt} (only PCM)")
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen & 1)  # chunks pad to even length
    if byte_rate is None or data_len is None:
        raise ValueError("WAV missing fmt or data chunk")
    if not byte_rate:
        raise ValueError("WAV byte rate is zero")
    return {
        "width": None,
        "height": None,
        "duration_ms": int(data_len * 1000 // byte_rate),
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: colortype -> samples per pixel (bit depth 8); palette (3) excluded —
#: PLTE indirection needs a palette table, raise loudly instead
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_paeth(a: int, b: int, c: int) -> int:
    # PNG spec filter heuristic: nearest of left/up/up-left to a+b-c
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(b: bytes, return_raster: bool = False):
    """Pure-stdlib PNG decode (round 5, VERDICT r4 #5): chunk walk with
    CRC verification, zlib-inflate the IDAT stream, per-scanline
    unfilter (all five filter types incl. Paeth). Supports 8-bit
    non-interlaced grayscale/RGB/gray+alpha/RGBA; palette and Adam7
    raise loudly (they need a PLTE table / deinterlace pass this slot
    deliberately does not fake). Returns the metadata dict, or the
    recovered raster bytes when ``return_raster`` (used by the pytest
    that round-trips encode_png pixels)."""
    import zlib

    if b[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr: bytes | None = None
    idat = bytearray()
    while pos + 12 <= len(b):
        clen = int.from_bytes(b[pos : pos + 4], "big")
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError(f"PNG chunk {ctype!r} truncated")
        crc = int.from_bytes(b[pos + 8 + clen : pos + 12 + clen], "big")
        if (zlib.crc32(ctype + data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing/short IHDR")
    width, height, depth, colortype, comp, filt, interlace = _struct.unpack(
        ">IIBBBBB", ihdr
    )
    if comp != 0 or filt != 0:
        raise ValueError(f"PNG unknown compression/filter method {comp}/{filt}")
    if interlace != 0:
        raise ValueError("PNG Adam7 interlace unsupported (pure-stdlib slot)")
    if depth != 8 or colortype not in _PNG_CHANNELS:
        raise ValueError(
            f"PNG bit depth {depth} / color type {colortype} unsupported "
            "(8-bit gray/RGB/GA/RGBA only; palette needs PLTE handling)"
        )
    bpp = _PNG_CHANNELS[colortype]
    stride = width * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (1 + stride):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} != {height * (1 + stride)}"
        )
    recon = bytearray(height * stride)
    prev_off = -stride
    for y in range(height):
        f = raw[y * (1 + stride)]
        line = raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
        off = y * stride
        if f == 0:
            recon[off : off + stride] = line
        elif f == 1:  # Sub
            for i in range(stride):
                left = recon[off + i - bpp] if i >= bpp else 0
                recon[off + i] = (line[i] + left) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                up = recon[prev_off + i] if y else 0
                recon[off + i] = (line[i] + up) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = recon[off + i - bpp] if i >= bpp else 0
                up = recon[prev_off + i] if y else 0
                recon[off + i] = (line[i] + (left + up) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = recon[off + i - bpp] if i >= bpp else 0
                up = recon[prev_off + i] if y else 0
                ul = recon[prev_off + i - bpp] if (y and i >= bpp) else 0
                recon[off + i] = (line[i] + _png_paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"PNG scanline filter {f} invalid")
        prev_off = off
    if return_raster:
        return bytes(recon)
    return {"width": int(width), "height": int(height), "duration_ms": None}


_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decode (round 6, VERDICT r5 #5): LSB-first
    variable-width codes, CLEAR/EOI control codes, late code-size
    change (GIF, unlike TIFF, bumps the width only after the table
    reaches 2^size), 12-bit table cap with deferred-clear behavior
    (a full table stops growing until the stream sends CLEAR)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < size:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated (no EOI code)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << size) - 1)
        acc >>= size
        nbits -= size
        if code == clear:
            table = list(base)
            size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(
                f"GIF LZW code {code} beyond table size {len(table)}"
            )
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << size) and size < 12:
                size += 1
        prev = entry


def _gif_lzw_encode(pixels: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW encode, the exact mirror of
    :func:`_gif_lzw_decode`: emits CLEAR first, grows the code width
    when the entry just added reaches 2^size (one step AFTER the
    decoder's table hits it — the decoder runs one entry behind), and
    resets with CLEAR when the 12-bit table fills."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    size = min_code_size + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for byte in pixels:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if nxt < 4096:
            table[wc] = nxt
            if nxt == (1 << size) and size < 12:
                size += 1
            nxt += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            nxt = eoi + 1
            size = min_code_size + 1
        w = c
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_subblocks(b: bytes, pos: int) -> tuple[bytes, int]:
    """Walk a GIF sub-block chain starting at ``pos``; return
    (concatenated payload, position after the 0x00 terminator)."""
    data = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("GIF sub-block chain truncated")
        n = b[pos]
        pos += 1
        if n == 0:
            return bytes(data), pos
        if pos + n > len(b):
            raise ValueError("GIF sub-block data truncated")
        data += b[pos : pos + n]
        pos += n


def _decode_gif(b: bytes, return_raster: bool = False):
    """Pure-stdlib GIF decode (round 6, VERDICT r5 #5): header +
    logical-screen walk, global/local color-table skip, extension
    sub-block chains (Graphic Control delays summed into
    ``duration_ms``), and a full LZW decompress of every frame's
    raster — the pixel count is verified against the frame
    descriptor, so a corrupt stream raises rather than yielding
    plausible metadata. Returns the metadata dict, or the first
    frame's palette-index raster when ``return_raster`` (used by the
    round-trip pytest)."""
    if b[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF (bad signature)")
    if len(b) < 13:
        raise ValueError("GIF truncated before logical screen descriptor")
    width, height = _struct.unpack_from("<HH", b, 6)
    packed = b[10]
    pos = 13
    if packed & 0x80:  # global color table: 3 * 2^((packed&7)+1) bytes
        pos += 3 * (2 << (packed & 7))
    frames = 0
    delay_cs = 0
    saw_delay = False
    raster: bytes | None = None
    while True:
        if pos >= len(b):
            raise ValueError("GIF truncated before trailer")
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension
            if pos >= len(b):
                raise ValueError("GIF extension truncated")
            label = b[pos]
            pos += 1
            data, pos = _gif_subblocks(b, pos)
            if label == 0xF9 and len(data) >= 4:  # Graphic Control
                delay_cs += int.from_bytes(data[1:3], "little")
                saw_delay = True
        elif blk == 0x2C:  # image descriptor
            if pos + 9 > len(b):
                raise ValueError("GIF image descriptor truncated")
            _, _, fw, fh = _struct.unpack_from("<HHHH", b, pos)
            fpacked = b[pos + 8]
            pos += 9
            if fpacked & 0x80:  # local color table
                pos += 3 * (2 << (fpacked & 7))
            if pos >= len(b):
                raise ValueError("GIF image data truncated")
            min_code = b[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                raise ValueError(f"GIF LZW min code size {min_code} invalid")
            data, pos = _gif_subblocks(b, pos)
            pix = _gif_lzw_decode(data, min_code)
            if len(pix) != fw * fh:
                raise ValueError(
                    f"GIF frame raster {len(pix)} px != descriptor {fw * fh}"
                )
            frames += 1
            if raster is None:
                raster = pix
        else:
            raise ValueError(f"GIF unknown block introducer 0x{blk:02x}")
    if frames == 0:
        raise ValueError("GIF contains no image frames")
    if return_raster:
        return raster
    return {
        "width": int(width),
        "height": int(height),
        "duration_ms": (delay_cs * 10) if saw_delay else None,
    }


def strict_decoder(payload: bytes, media_type: str) -> dict:
    """Real decode kernel (pure stdlib + numpy): BMP (BITMAPINFOHEADER
    / BI_RGB), binary PPM/PGM (P6/P5), PCM WAV, 8-bit non-interlaced
    PNG (zlib IDAT inflate + full scanline unfilter — round 5), GIF
    (full LZW — round 6), baseline uncompressed TIFF (both byte
    orders, multi-strip — round 6), and baseline sequential JPEG
    (huffman + DCT — round 7, VERDICT r6 #7).
    Container sniffing is by magic bytes, so a mislabeled payload still
    decodes by its actual format. Remaining compressed codecs
    (MP3/H.264, progressive JPEG) raise loudly — those slots need
    libav/PIL, absent in this container; ``fake_decode`` remains the
    deterministic stand-in for tests that need synthetic metadata for
    arbitrary blobs."""
    if payload is None:
        return {
            "n_bytes": 0,
            "checksum": None,
            "width": None,
            "height": None,
            "duration_ms": None,
        }
    if payload[:8] == _PNG_MAGIC:
        dims = _decode_png(payload)
    elif payload[:6] in _GIF_MAGICS:
        dims = _decode_gif(payload)
    elif payload[:4] in _TIFF_MAGICS:
        dims = _decode_tiff(payload)
    elif payload[:2] == b"\xff\xd8":
        dims = _decode_jpeg(payload)
    elif payload[:2] == b"BM":
        dims = _decode_bmp(payload)
    elif payload[:2] in (b"P5", b"P6"):
        dims = _decode_pnm(payload)
    elif payload[:4] == b"RIFF":
        dims = _decode_wav(payload)
    else:
        raise NotImplementedError(
            f"no pure-stdlib decoder for payload magic {payload[:4]!r} "
            f"(media_type={media_type!r}); remaining compressed codecs "
            "(MP3/H.264) need libav — pass decoder=<kernel> with the "
            "same signature"
        )
    return {
        "n_bytes": len(payload),
        "checksum": hashlib.md5(payload).hexdigest(),
        **dims,
    }


# ---- matching encoders: deterministic fixture synthesis ------------------


def encode_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid 24bpp BI_RGB BMP with deterministic pixel bytes."""
    row_bytes = (width * 3 + 3) & ~3
    data = bytearray()
    for y in range(height):
        row = bytearray(
            (seed + x * 7 + y * 13 + c * 29) % 256
            for x in range(width)
            for c in range(3)
        )
        row += b"\x00" * (row_bytes - len(row))
        data += row
    size = 54 + len(data)
    hdr = b"BM" + _struct.pack("<IHHI", size, 0, 0, 54)
    hdr += _struct.pack("<IiihHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return bytes(hdr + data)


def encode_png(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid 8-bit RGB PNG with deterministic pixels (same
    pixel function as :func:`encode_bmp`) and a DIFFERENT scanline
    filter per row (y % 5 — none/sub/up/average/paeth), so decoding it
    exercises every unfilter branch. IDAT is zlib level 0 (stored
    blocks), making the encoded byte count a closed-form function of
    (width, height) that a SQL oracle can recompute:

        raw   = height * (1 + 3*width)
        idat  = 2 + 5*ceil(raw/65535) + raw + 4
        total = 57 + idat          # 8 sig + 25 IHDR + 12 IEND + 12+idat
    """
    import zlib

    bpp = 3
    stride = width * bpp
    pixel = lambda x, y, c: (seed + x * 7 + y * 13 + c * 29) % 256  # noqa: E731
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        cur = bytes(pixel(x, y, c) for x in range(width) for c in range(bpp))
        f = y % 5
        raw.append(f)
        if f == 0:
            raw += cur
        elif f == 1:
            raw += bytes(
                (cur[i] - (cur[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:
            raw += bytes((cur[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:
            raw += bytes(
                (cur[i] - ((cur[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
                & 0xFF
                for i in range(stride)
            )
        else:
            raw += bytes(
                (
                    cur[i]
                    - _png_paeth(
                        cur[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(raw), 0)  # stored blocks: size is closed-form
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def gif_pixels(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic palette-index raster for :func:`encode_gif`:
    run-structured (runs of 8 equal indices) so the LZW dictionary
    actually builds phrases — the round-trip pytest exercises the
    phrase/KwKwK decode paths, not just literals."""
    return bytes(((i >> 3) * 37 + seed) & 0xFF for i in range(width * height))


def encode_gif(width: int, height: int, delay_cs: int | None = None, seed: int = 0) -> bytes:
    """Minimal valid GIF89a with a 256-entry grayscale global color
    table, one full-frame image LZW-compressed by the REAL compressor
    (:func:`_gif_lzw_encode` — variable-width codes, dictionary
    growth), and, when ``delay_cs`` is given, a Graphic Control
    Extension carrying that frame delay (centiseconds) so the decoder's
    ``duration_ms`` path is exercised."""
    # packed 0xF7: GCT present | color resolution 8 | GCT size 2^8
    out = bytearray(b"GIF89a" + _struct.pack("<HH", width, height) + bytes([0xF7, 0, 0]))
    out += bytes(v for i in range(256) for v in (i, i, i))  # grayscale GCT
    if delay_cs is not None:
        out += b"\x21\xf9\x04\x00" + _struct.pack("<H", delay_cs) + b"\x00\x00"
    out += b"\x2c" + _struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    lzw = _gif_lzw_encode(gif_pixels(width, height, seed), min_code_size=8)
    out.append(8)  # LZW min code size
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def encode_ppm(width: int, height: int, seed: int = 0) -> bytes:
    """Binary P6 PPM with deterministic pixel bytes."""
    hdr = f"P6\n{width} {height}\n255\n".encode()
    data = bytes(
        (seed + i * 11) % 256 for i in range(width * height * 3)
    )
    return hdr + data


def encode_wav(
    duration_ms: int, sample_rate: int = 8000, seed: int = 0
) -> bytes:
    """PCM 16-bit mono WAV whose data chunk encodes exactly
    ``duration_ms`` at ``sample_rate`` (byte rate = 2 * rate)."""
    n_samples = duration_ms * sample_rate // 1000
    byte_rate = sample_rate * 2
    data = b"".join(
        _struct.pack("<h", ((seed + 257 * i) % 65536) - 32768)
        for i in range(n_samples)
    )
    fmt = _struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(data)) + data
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], dict] | None = None,
) -> DataFrame:
    """Decode/feature-extract via mapInPandas: Arrow-batched, one
    Python worker pass, payload column dropped on output."""
    import pandas as pd

    decode = decoder or fake_decode

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [
                decode(p, t) for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out[[f.name for f in FEATURE_SCHEMA.fields]]

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 16
) -> DataFrame:
    """Frame-sampling plumbing for video: one output row per sampled
    frame offset. The frame *extraction* is the pluggable kernel (fake:
    frame checksum = payload checksum salted by offset); the row
    explosion, offset arithmetic, and schema are the real pipeline."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("offset_ms", T.LongType()),
            T.StructField("frame_checksum", T.StringType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                if mtype != "video" or payload is None:
                    continue
                dur = fake_decode(payload, "video")["duration_ms"]
                n = min(max_frames, max(1, dur // every_ms))
                for i in range(int(n)):
                    off = i * every_ms
                    salt = f"{mid}:{off}".encode()
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_index": i,
                            "offset_ms": off,
                            "frame_checksum": format(
                                zlib.crc32(payload + salt), "08x"
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return media.mapInPandas(run, schema=schema)


#: 8x8 grayscale thumbnail: the canonical perceptual-hash input
PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("pixels", T.ArrayType(T.IntegerType())),
    ]
)


def fake_thumbnail(payload: bytes) -> list[int]:
    """Deterministic fake thumbnail kernel: 64 4-bit 'pixels' from the
    md5 keystream of the payload (two salted digests -> 64 hex nibbles).
    A real kernel (PIL resize->grayscale->8x8) slots into the same
    signature; everything downstream (perceptual hash, banding, verify)
    is kernel-agnostic."""
    hx = (
        hashlib.md5(payload + b":0").hexdigest()
        + hashlib.md5(payload + b":1").hexdigest()
    )
    return [int(c, 16) for c in hx]


def decode_thumbnails(
    media: DataFrame,
    kernel: Callable[[bytes], list[int]] | None = None,
    media_type: str = "image",
) -> DataFrame:
    """payload -> 64 decoded samples via Arrow-batched mapInPandas
    (rows of ``media_type`` only; payload dropped on output so raw
    bytes never travel past the decode stage). For images the fake
    kernel yields an 8x8 grayscale thumbnail; the same plumbing
    serves audio by treating the 64 nibbles as an energy envelope
    (see plans/wave31.py) — a real kernel (PIL resize / RMS frames)
    slots into the same signature either way."""
    import pandas as pd

    from .fanout import fan_out

    # spread the payload rows across the session's parallelism before
    # the Python decode: media often arrives as a 1-partition local
    # scan (or broadcast-join output) and the per-row kernel otherwise
    # serializes on one task; fan_out no-ops when the input already
    # has enough partitions, so a large corpus never pays the shuffle
    media = fan_out(media)

    k = kernel or fake_thumbnail

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            sub = pdf[pdf["media_type"] == media_type]
            if sub.empty:
                continue  # an empty frame would type pixels as float64
            yield pd.DataFrame(
                {
                    "media_id": sub["media_id"].values,
                    "media_type": sub["media_type"].values,
                    "pixels": pd.Series(
                        [k(p) for p in sub["payload"]], dtype=object
                    ).values,
                }
            )

    return media.mapInPandas(run, schema=PIXEL_SCHEMA)


def ahash_words(pixels_col: str) -> tuple[F.Column, F.Column]:
    """Average-hash (aHash) of a 64-pixel thumbnail as two 32-bit
    words: bit i set iff pixel i exceeds the thumbnail mean. Pure
    codegen expressions — the hash costs no Python once pixels exist."""
    mean = f"(aggregate({pixels_col}, 0L, (a, x) -> a + x) / 64.0)"

    def word(offset: int) -> F.Column:
        return F.expr(
            f"aggregate(transform(slice({pixels_col}, {offset + 1}, 32), "
            f"(x, i) -> if(cast(x as double) > {mean}, shiftleft(1L, i), 0L)), "
            "0L, (a, x) -> a + x)"
        )

    return word(0), word(32)


def ahash_words_sql(pixels: str) -> tuple[str, str]:
    """DuckDB twin of :func:`ahash_words` (1-indexed lists)."""
    mean = f"(list_sum({pixels}) / 64.0)"

    def word(offset: int) -> str:
        return (
            f"CAST(list_sum([CASE WHEN CAST({pixels}[i + {offset}] AS DOUBLE) > {mean} "
            f"THEN 1::BIGINT << (i - 1) ELSE 0 END "
            f"for i in range(1, 33)]) AS BIGINT)"
        )

    return word(0), word(32)


# --------------------------------------------------------------------------
# TIFF (baseline, uncompressed) — round 6 codec-matrix extension.
# --------------------------------------------------------------------------

_TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

#: the baseline tags the decoder consumes
_TIFF_WIDTH, _TIFF_LENGTH = 256, 257
_TIFF_BITS, _TIFF_COMPRESSION = 258, 259
_TIFF_STRIP_OFFSETS, _TIFF_SPP = 273, 277
_TIFF_ROWS_PER_STRIP, _TIFF_STRIP_COUNTS = 278, 279

_TIFF_TYPE_SIZES = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def _decode_tiff(b: bytes, return_raster: bool = False):
    """Baseline TIFF decode, pure stdlib: both byte orders (II/MM), the
    first IFD walked tag by tag, values read as BYTE/SHORT/LONG either
    inline (≤4 bytes) or via offset, raster reassembled by
    concatenating the uncompressed strips. Any Compression other than
    1 raises loudly (LZW/JPEG-in-TIFF need a codec library)."""
    if len(b) < 8:
        raise ValueError(f"TIFF truncated: {len(b)} bytes < 8-byte header")
    if b[:4] not in _TIFF_MAGICS:
        raise ValueError(f"not a TIFF header: {b[:4]!r}")
    eo = "<" if b[:2] == b"II" else ">"
    (ifd_off,) = _struct.unpack(eo + "I", b[4:8])
    if ifd_off + 2 > len(b):
        raise ValueError("TIFF truncated: IFD offset past EOF")
    (n_entries,) = _struct.unpack(eo + "H", b[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        ep = ifd_off + 2 + 12 * i
        if ep + 12 > len(b):
            raise ValueError("TIFF truncated: IFD entry past EOF")
        tag, typ, cnt = _struct.unpack(eo + "HHI", b[ep : ep + 8])
        size = _TIFF_TYPE_SIZES.get(typ)
        if size is None:
            continue  # RATIONAL etc. — not consumed by the baseline set
        total = size * cnt
        if total <= 4:
            raw = b[ep + 8 : ep + 8 + total]
        else:
            (off,) = _struct.unpack(eo + "I", b[ep + 8 : ep + 12])
            if off + total > len(b):
                raise ValueError(f"TIFF truncated: tag {tag} value past EOF")
            raw = b[off : off + total]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(_struct.unpack(eo + str(cnt) + fmt, raw))
    for required in (
        _TIFF_WIDTH, _TIFF_LENGTH, _TIFF_STRIP_OFFSETS, _TIFF_STRIP_COUNTS
    ):
        if required not in tags:
            raise ValueError(f"TIFF missing required baseline tag {required}")
    compression = tags.get(_TIFF_COMPRESSION, [1])[0]
    if compression != 1:
        raise NotImplementedError(
            f"TIFF compression {compression} needs a codec library; only "
            "baseline uncompressed (1) decodes pure-stdlib"
        )
    width = tags[_TIFF_WIDTH][0]
    height = tags[_TIFF_LENGTH][0]
    spp = tags.get(_TIFF_SPP, [1])[0]
    bits = tags.get(_TIFF_BITS, [8])[0]
    if bits != 8:
        raise NotImplementedError(f"TIFF bits-per-sample {bits} != 8")
    strips = []
    for off, cnt in zip(tags[_TIFF_STRIP_OFFSETS], tags[_TIFF_STRIP_COUNTS]):
        if off + cnt > len(b):
            raise ValueError("TIFF truncated: strip past EOF")
        strips.append(b[off : off + cnt])
    raster = b"".join(strips)
    expected = width * height * spp
    if len(raster) != expected:
        raise ValueError(
            f"TIFF raster size {len(raster)} != w*h*spp {expected}"
        )
    if return_raster:
        return raster
    return {"width": width, "height": height, "duration_ms": None}


def tiff_pixels(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic RGB bytes for TIFF fixtures (same recipe family as
    gif_pixels: position-and-seed arithmetic, no RNG state)."""
    return bytes(
        (x * 7 + y * 13 + seed * 31 + c * 101) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )


def encode_tiff(
    width: int,
    height: int,
    seed: int = 0,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Minimal baseline TIFF (8-bit RGB, Compression=1), either byte
    order, raster split into real multi-strip layout when
    ``rows_per_strip`` is set — so the decoder's strip reassembly is
    exercised, not just the single-strip happy path."""
    eo = ">" if big_endian else "<"
    pixels = tiff_pixels(width, height, seed)
    rps = rows_per_strip or height
    row_bytes = width * 3
    strips = [
        pixels[y * row_bytes : (y + rps) * row_bytes]
        for y in range(0, height, rps)
    ]
    n = len(strips)
    # layout: header(8) | IFD | offsets arrays | strip data
    n_entries = 8
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    arrays_off = ifd_off + ifd_size
    # arrays: strip offsets (n LONGs) + strip counts (n LONGs) +
    # bits-per-sample (3 SHORTs)
    bits_off = arrays_off
    so_off = bits_off + 6
    sc_off = so_off + 4 * n
    data_off = sc_off + 4 * n
    offs = []
    pos = data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def entry(tag, typ, cnt, value, inline_fmt=None):
        head = _struct.pack(eo + "HHI", tag, typ, cnt)
        if inline_fmt:
            val = _struct.pack(eo + inline_fmt, *value)
            val += b"\x00" * (4 - len(val))
        else:
            val = _struct.pack(eo + "I", value)
        return head + val

    entries = [
        entry(_TIFF_WIDTH, 4, 1, (width,), "I"),
        entry(_TIFF_LENGTH, 4, 1, (height,), "I"),
        entry(_TIFF_BITS, 3, 3, bits_off),
        entry(_TIFF_COMPRESSION, 3, 1, (1,), "H"),
        entry(
            _TIFF_STRIP_OFFSETS, 4, n, (offs[0],) if n == 1 else so_off,
            "I" if n == 1 else None,
        ),
        entry(_TIFF_SPP, 3, 1, (3,), "H"),
        entry(_TIFF_ROWS_PER_STRIP, 4, 1, (rps,), "I"),
        entry(
            _TIFF_STRIP_COUNTS, 4, n,
            (len(strips[0]),) if n == 1 else sc_off,
            "I" if n == 1 else None,
        ),
    ]
    out = bytearray()
    out += (b"II*\x00" if not big_endian else b"MM\x00*")
    out += _struct.pack(eo + "I", ifd_off)
    out += _struct.pack(eo + "H", n_entries)
    for e in entries:
        out += e
    out += _struct.pack(eo + "I", 0)  # next-IFD pointer
    out += _struct.pack(eo + "3H", 8, 8, 8)  # bits-per-sample array
    if n > 1:
        out += _struct.pack(eo + f"{n}I", *offs)
        out += _struct.pack(eo + f"{n}I", *[len(s) for s in strips])
    else:
        # keep the layout stable: reserve the (unused) array slots
        out += _struct.pack(eo + "I", offs[0])
        out += _struct.pack(eo + "I", len(strips[0]))
    for s in strips:
        out += s
    return bytes(out)


# ──────────────────────────────────────────────────────────────────────────
# wave 119: baseline sequential JPEG (VERDICT r6 #7 — the one format a
# real multimodal corpus hits constantly). Pure stdlib + numpy: canonical
# Huffman coding, zigzag run-length, quality-scaled Annex-K quantization,
# vectorized 8x8 DCT/IDCT, JFIF YCbCr. Baseline (SOF0) only; progressive
# (SOF2) and arithmetic coding raise loudly. All tables below are from
# the public JPEG standard (ITU-T T.81 Annex K).
# ──────────────────────────────────────────────────────────────────────────

#: zigzag scan order: zigzag index -> natural (row-major) index
_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_JPEG_QL = [  # Annex K luminance base quant table (natural order)
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [  # Annex K chrominance base quant table
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K huffman specs: (bits[1..16], values)
_JPEG_HUFF = {
    ("dc", 0): (
        [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("dc", 1): (
        [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("ac", 0): (
        [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
        [
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
        ],
    ),
    ("ac", 1): (
        [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
            0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
            0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
            0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
            0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
            0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
            0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
            0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
            0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
            0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
            0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
            0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
            0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
            0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
            0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
            0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
            0xF9, 0xFA,
        ],
    ),
}

#: lazy singleton for the encoder's canonical code tables (fixed
#: Annex-K inputs — no reason to rebuild per image)
_JPEG_HTABS_CACHE = None


def _jpeg_canonical_codes(bits, vals):
    """Canonical JPEG huffman code assignment (T.81 C.2): symbols of
    length L get consecutive codes, lengths ascending. Returns
    {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_quant_tables(quality: int):
    """libjpeg-style quality scaling of the Annex-K base tables."""
    q = max(1, min(100, quality))
    s = 5000 // q if q < 50 else 200 - 2 * q
    return tuple(
        [max(1, min(255, (b * s + 50) // 100)) for b in base]
        for base in (_JPEG_QL, _JPEG_QC)
    )


_DCT_MAT_CACHE = None


def _dct_mat():
    global _DCT_MAT_CACHE
    if _DCT_MAT_CACHE is not None:
        return _DCT_MAT_CACHE
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / (2.0**0.5)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    m.setflags(write=False)
    _DCT_MAT_CACHE = m
    return m


def jpeg_pixels(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic SMOOTH RGB bytes for JPEG fixtures: sinusoidal
    ramps (no sawtooth wrap like gif_pixels — block discontinuities
    inflate quantization error and would force a sloppy closeness
    bound). Vectorized in r8 (this ran twice per doc in the decode
    spec's kernel and was its top cost after the decoder fix); same
    truncate-toward-zero/clamp semantics as the scalar loop."""
    import numpy as np

    x = np.arange(width, dtype=np.float64)[None, :, None]
    y = np.arange(height, dtype=np.float64)[:, None, None]
    c = np.arange(3, dtype=np.float64)[None, None, :]
    v = (
        128.0
        + 60.0 * np.sin(0.31 * x + 0.17 * y + 0.9 * (seed % 17))
        + 40.0 * np.cos(0.23 * y - 0.11 * x + 1.7 * c)
    )
    return np.clip(v.astype(np.int64), 0, 255).astype(np.uint8).tobytes()


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3
        return bytes(self.buf)


def _jpeg_magnitude(v: int) -> int:
    return 0 if v == 0 else v.bit_length() if v > 0 else (-v).bit_length()


def _jpeg_rgb_to_ycbcr(rgb):
    import numpy as np

    r = rgb[..., 0].astype("f8")
    g = rgb[..., 1].astype("f8")
    b = rgb[..., 2].astype("f8")
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def encode_jpeg(
    width: int,
    height: int,
    seed: int = 0,
    quality: int = 90,
    return_coeffs: bool = False,
    restart_interval: int = 0,
):
    """Baseline sequential JFIF JPEG (SOF0, 3-component YCbCr 4:4:4,
    Annex-K huffman tables, quality-scaled Annex-K quant tables) of the
    deterministic :func:`jpeg_pixels` raster. ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that-many MCUs (with DC
    predictor reset + byte realignment), so the decoder's restart
    resync path is exercised by real streams. With ``return_coeffs``,
    also returns the per-component quantized zigzag coefficient lists —
    the entropy coding is lossless, so a correct decoder must recover
    them EXACTLY (the roundtrip invariant multimodal_jpeg_decode
    grades)."""
    import numpy as np

    ql, qc = _jpeg_quant_tables(quality)
    dct = _dct_mat()
    px = np.frombuffer(
        jpeg_pixels(width, height, seed), dtype=np.uint8
    ).reshape(height, width, 3)
    ycc = _jpeg_rgb_to_ycbcr(px)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    # edge-replicate pad to full blocks
    pad = np.pad(
        ycc, ((0, bh * 8 - height), (0, bw * 8 - width), (0, 0)), mode="edge"
    )
    # batched forward DCT (r8): all (by, bx, ci) blocks in one
    # broadcasting matmul chain + one vectorized quantize/zigzag
    blocks = (
        pad.reshape(bh, 8, bw, 8, 3)
        .transpose(0, 2, 4, 1, 3)
        .reshape(-1, 8, 8)
        - 128.0
    )
    f_all = dct @ blocks @ dct.T
    qt_all = np.asarray(
        [ql, qc, qc], dtype="f8"
    ).reshape(3, 8, 8)  # broadcast per-component over (bh*bw)
    qz_all = np.rint(
        f_all.reshape(bh * bw, 3, 8, 8) / qt_all
    ).astype(np.int64)
    zz_order = np.asarray([_JPEG_ZZ[i] for i in range(64)])
    zz_all = qz_all.reshape(bh * bw, 3, 64)[:, :, zz_order]
    coeffs: list[list[int]] = [
        zz_all[:, ci, :].ravel().tolist() for ci in range(3)
    ]
    # entropy-code interleaved 4:4:4 MCUs (one block per component)
    global _JPEG_HTABS_CACHE
    if _JPEG_HTABS_CACHE is None:
        _JPEG_HTABS_CACHE = {
            k: _jpeg_canonical_codes(*v) for k, v in _JPEG_HUFF.items()
        }
    htabs = _JPEG_HTABS_CACHE
    scan_parts = []
    w = _JpegBitWriter()
    prev_dc = [0, 0, 0]
    n_blocks = bw * bh
    for bi in range(n_blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            scan_parts.append(w.flush())
            scan_parts.append(
                bytes([0xFF, 0xD0 + (bi // restart_interval - 1) % 8])
            )
            w = _JpegBitWriter()
            prev_dc = [0, 0, 0]
        for ci in range(3):
            tid = 0 if ci == 0 else 1
            zz = coeffs[ci][bi * 64 : bi * 64 + 64]
            diff = zz[0] - prev_dc[ci]
            prev_dc[ci] = zz[0]
            cat = _jpeg_magnitude(diff)
            code, ln = htabs[("dc", tid)][cat]
            w.write(code, ln)
            if cat:
                w.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            run = 0
            for k in range(1, 64):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    zc, zl = htabs[("ac", tid)][0xF0]  # ZRL
                    w.write(zc, zl)
                    run -= 16
                cat = _jpeg_magnitude(v)
                ac, al = htabs[("ac", tid)][(run << 4) | cat]
                w.write(ac, al)
                w.write(v if v >= 0 else v + (1 << cat) - 1, cat)
                run = 0
            if run:
                ec, el = htabs[("ac", tid)][0x00]  # EOB
                w.write(ec, el)
    scan_parts.append(w.flush())
    scan = b"".join(scan_parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return _struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, qt in ((0, ql), (1, qc)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(qt[_JPEG_ZZ[i]] for i in range(64)),
        )
    sof = bytes([8]) + _struct.pack(">HH", height, width) + bytes([3])
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])  # 4:4:4 — h=v=1
    out += seg(0xFFC0, sof)
    for (kind, tid), (bits, vals) in _JPEG_HUFF.items():
        tc = 0 if kind == "dc" else 1
        out += seg(
            0xFFC4, bytes([(tc << 4) | tid]) + bytes(bits) + bytes(vals)
        )
    if restart_interval:
        out += seg(0xFFDD, _struct.pack(">H", restart_interval))
    sos = bytes([3])
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += bytes([cid, tabs])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    payload = bytes(out)
    return (payload, coeffs) if return_coeffs else payload


_DHT_MEMO: dict = {}


def _jpeg_decode_table(bits, vals):
    """{(length, code): symbol} decode map from a DHT segment —
    memoized on the raw (bits, vals) payload: every image in a corpus
    typically re-declares the same standard tables."""
    memo_key = (tuple(bits), tuple(vals))
    got = _DHT_MEMO.get(memo_key)
    if got is not None:
        return got
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    _DHT_MEMO[memo_key] = out
    return out


def _jpeg_extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


#: process-wide huffman LUT memo keyed by frozen table contents —
#: corpora reuse the standard Annex-K tables, so the 64K flat decode
#: tables are built once per process, not once per image
_JPEG_LUT_MEMO: dict = {}


def _decode_jpeg(b: bytes, return_coeffs: bool = False,
                 return_raster: bool = False):
    """Baseline sequential JPEG decoder (pure stdlib + numpy): marker
    walk, DQT/DHT/SOF0/SOS/DRI parse, huffman entropy decode with byte
    unstuffing and restart-marker resync, dequant, de-zigzag, vectorized
    IDCT, replication chroma upsampling, JFIF YCbCr->RGB. Progressive
    (SOF2), arithmetic coding (SOF9+), and 12-bit precision raise
    loudly — baseline covers the dominant share of real corpora."""
    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    w = h = 0
    dri = 0
    scan_pos = None
    scan_comps: list[tuple[int, int, int]] = []
    while pos < len(b):
        if b[pos] != 0xFF:
            pos += 1
            continue
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        ln = _struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        seg = b[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                if pq:  # 16-bit table
                    raw = list(
                        _struct.unpack(f">64H", seg[sp + 1 : sp + 129])
                    )
                    sp += 129
                else:
                    raw = list(seg[sp + 1 : sp + 65])
                    sp += 65
                nat = [0] * 64
                for i in range(64):
                    nat[_JPEG_ZZ[i]] = raw[i]
                qt[tq] = nat
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1 : sp + 17])
                n = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + n])
                huff[(tc, th)] = _jpeg_decode_table(bits, vals)
                sp += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} != 8")
            h, w = _struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid, hv, tq2 = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq2}
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X}: only baseline "
                "sequential (SOF0) is implemented"
            )
        elif marker == 0xDD:  # DRI
            dri = _struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cs, tabs = seg[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cs, tabs >> 4, tabs & 0xF))
            scan_pos = pos + 2 + ln
            break
        pos += 2 + ln
    if scan_pos is None or not comps:
        raise ValueError("JPEG: no SOS/SOF0 found")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}
    order = [by_id[cs] for cs, _, _ in scan_comps]
    tabs_of = {cs: (td, ta) for cs, td, ta in scan_comps}
    dct = _dct_mat()
    planes = []
    coeffs: list[list[int]] = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
        )
        coeffs.append([])

    # ── r8 entropy-decode vectorization (VERDICT r7 #6) ──
    # The per-bit dict-walk huffman + per-block Python zigzag/IDCT was
    # the suite's costliest constant factor. Three batched stages:
    #   1. restart-segment split + byte unstuffing with numpy masks;
    #   2. per segment, a 16-bit PEEK table (sliding window over
    #      unpacked bits) so each huffman symbol is ONE flat-LUT
    #      lookup (lut[peek[pos]] -> packed length<<8|symbol) and each
    #      magnitude read is one shift — no per-bit loop, no dicts;
    #   3. all blocks' zigzag/dequant/IDCT done once, batched, via
    #      fancy indexing + einsum, then scattered into the planes.
    # Semantics are bit-identical to the sequential reader (the
    # roundtrip pytest pins decoded bytes against the encoder).
    data = np.frombuffer(b, dtype=np.uint8)
    ff = np.where(data[scan_pos:-1] == 0xFF)[0] + scan_pos
    nxt = data[ff + 1]
    is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    is_stuff = nxt == 0x00
    real = ff[~is_rst & ~is_stuff]
    end_idx = int(real[0]) if len(real) else len(b)
    rst_at = ff[is_rst & (ff < end_idx)]
    seg_bounds: list[tuple[int, int]] = []
    prev = scan_pos
    for rp in rst_at.tolist():
        seg_bounds.append((prev, rp))
        prev = rp + 2
    seg_bounds.append((prev, end_idx))

    def _seg_u32(lo: int, hi: int) -> list:
        """Per-BYTE sliding 32-bit big-endian windows of the
        unstuffed segment (+4 zero pad); a 16-bit peek at bit offset
        p is then ``(u32[p>>3] >> (16 - (p & 7))) & 0xFFFF`` — setup
        cost is a few numpy ops per byte, not per bit."""
        seg = data[lo:hi]
        if len(seg) == 0:
            return []
        drop = np.zeros(len(seg), dtype=bool)
        if len(seg) > 1:
            fpos = np.where(seg[:-1] == 0xFF)[0]
            drop[fpos[seg[fpos + 1] == 0] + 1] = True
        clean = np.concatenate(
            [seg[~drop], np.zeros(4, dtype=np.uint8)]
        ).astype(np.int64)
        u32 = (
            (clean[:-3] << 24)
            | (clean[1:-2] << 16)
            | (clean[2:-1] << 8)
            | clean[3:]
        )
        return u32.tolist()

    def _lut(key: tuple[int, int]) -> list:
        table = huff[key]
        memo_key = tuple(sorted(table.items()))
        got = _JPEG_LUT_MEMO.get(memo_key)
        if got is None:
            arr = np.zeros(65536, dtype=np.int32)
            for (length, code), sym in table.items():
                start = code << (16 - length)
                arr[start : start + (1 << (16 - length))] = (
                    (length << 8) | sym
                )
            got = _JPEG_LUT_MEMO[memo_key] = arr.tolist()
        return got

    blk_meta: list[tuple[int, int, int]] = []  # (ci, py0, px0)
    blk_zz: list[int] = []  # flat, n_blocks*64
    prev_dc = {c["id"]: 0 for c in comps}
    n_mcu = mcux * mcuy
    seg_i = 0
    u32 = _seg_u32(*seg_bounds[0])
    pos = 0
    # SOS scan order with LUTs resolved ONCE (not per block)
    order_ci = [
        (
            comps.index(c),
            c,
            _lut((0, tabs_of[c["id"]][0])),
            _lut((1, tabs_of[c["id"]][1])),
        )
        for c in order
    ]
    for mi in range(n_mcu):
        if dri and mi and mi % dri == 0:
            seg_i += 1
            u32 = _seg_u32(*seg_bounds[seg_i])
            pos = 0
            prev_dc = {c["id"]: 0 for c in comps}
        my, mx = divmod(mi, mcux)
        for ci, c, ldc, lac in order_ci:
            for vy in range(c["v"]):
                for vx in range(c["h"]):
                    zz = [0] * 64
                    e = ldc[(u32[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                    if not e:
                        raise ValueError("invalid JPEG huffman code")
                    pos += e >> 8
                    cat = e & 0xFF
                    if cat:
                        v = (u32[pos >> 3] >> (32 - (pos & 7) - cat)) & (
                            (1 << cat) - 1
                        )
                        pos += cat
                        diff = (
                            v
                            if v >= (1 << (cat - 1))
                            else v - (1 << cat) + 1
                        )
                    else:
                        diff = 0
                    prev_dc[c["id"]] += diff
                    zz[0] = prev_dc[c["id"]]
                    k = 1
                    while k < 64:
                        e = lac[
                            (u32[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF
                        ]
                        if not e:
                            raise ValueError("invalid JPEG huffman code")
                        pos += e >> 8
                        rs = e & 0xFF
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += r
                        v = (u32[pos >> 3] >> (32 - (pos & 7) - s)) & (
                            (1 << s) - 1
                        )
                        pos += s
                        zz[k] = (
                            v
                            if v >= (1 << (s - 1))
                            else v - (1 << s) + 1
                        )
                        k += 1
                    if return_coeffs:
                        coeffs[ci].extend(zz)
                    blk_meta.append(
                        (ci, (my * c["v"] + vy) * 8, (mx * c["h"] + vx) * 8)
                    )
                    blk_zz.extend(zz)
    if blk_zz:
        zzarr = np.asarray(blk_zz, dtype=np.float64).reshape(-1, 64)
        qtab = np.asarray(
            [qt[c["tq"]] for c in comps], dtype=np.float64
        )
        ci_arr = np.fromiter(
            (m[0] for m in blk_meta), dtype=np.intp, count=len(blk_meta)
        )
        zzidx = np.asarray(_JPEG_ZZ)
        nat = np.zeros_like(zzarr)
        nat[:, zzidx] = zzarr
        nat *= qtab[ci_arr]
        # dct.T @ B @ dct, batched via broadcasting matmul (BLAS path)
        pix_all = dct.T @ nat.reshape(-1, 8, 8) @ dct + 128.0
        for t, (ci, py0, px0) in enumerate(blk_meta):
            planes[ci][py0 : py0 + 8, px0 : px0 + 8] = pix_all[t]
    dims = {"width": w, "height": h, "duration_ms": None}
    if not (return_coeffs or return_raster):
        return dims
    raster = None
    if return_raster:
        full = []
        for ci, c in enumerate(comps):
            p = planes[ci]
            if c["h"] != hmax or c["v"] != vmax:
                p = np.repeat(
                    np.repeat(p, vmax // c["v"], axis=0),
                    hmax // c["h"],
                    axis=1,
                )
            full.append(p[:h, :w])
        if len(comps) == 3:
            y, cb, cr = full
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
            bch = y + 1.772 * (cb - 128.0)
            rgb = np.stack([r, g, bch], axis=-1)
        else:
            rgb = np.stack([full[0]] * 3, axis=-1)
        raster = bytes(
            np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()
        )
    if return_coeffs and return_raster:
        return dims, coeffs, raster
    if return_coeffs:
        return dims, coeffs
    return raster


# ──────────────────────────────────────────────────────────────────────────
# wave 120: compressed AUDIO codecs — G.711 mu-law / A-law (the
# telephony companding standard, ITU-T G.711) and IMA/DVI4 ADPCM
# (IMA Digital Audio Pack, the classic 4-bit predictive codec). All
# pure-integer state machines — bit-exact by construction, the codec
# sibling of wave 119's JPEG. Published algorithms; tables from the
# public specs.
# ──────────────────────────────────────────────────────────────────────────


def ulaw_encode_sample(x: int) -> int:
    """G.711 mu-law compress one int16 sample to an 8-bit code
    (bias-133 segmented log, sign-magnitude, ones-complement output)."""
    x = max(-32635, min(32635, x))
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    x += 0x84  # bias
    exp = 7
    mask = 0x4000
    while exp > 0 and not (x & mask):
        exp -= 1
        mask >>= 1
    mant = (x >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def ulaw_decode_sample(u: int) -> int:
    """Exact inverse expansion: returns the segment-midpoint int16."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = (((mant << 3) + 0x84) << exp) - 0x84
    return -x if sign else x


_ALAW_SEG_END = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]


def alaw_encode_sample(x: int) -> int:
    """G.711 A-law compress one int16 sample to an 8-bit code
    (13-bit segmented log, even-bit inversion 0x55)."""
    x >>= 3  # 13-bit domain (arithmetic shift keeps the sign)
    if x >= 0:
        mask = 0xD5  # sign bit 1 for non-negative, then 0x55 inversion
    else:
        mask = 0x55
        x = -x - 1
    seg = 8
    for i, end in enumerate(_ALAW_SEG_END):
        if x <= end:
            seg = i
            break
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (x >> 1) & 0x0F if seg < 2 else (x >> seg) & 0x0F
    return aval ^ mask


def alaw_decode_sample(a: int) -> int:
    """Exact inverse expansion: segment-midpoint int16."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_IDX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(code: int, pred: int, index: int) -> tuple[int, int]:
    """Shared decoder state transition (T-quantizer reconstruction):
    returns (new_pred, new_index). Integer-exact per the IMA spec."""
    step = _ADPCM_STEPS[index]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _ADPCM_IDX[code & 7]))
    return pred, index


def adpcm_encode(samples: list[int]) -> tuple[bytes, list[int]]:
    """IMA ADPCM encode int16 samples to 4-bit codes (two per byte,
    low nibble first). Returns (codes, reconstructed) where
    ``reconstructed`` is the encoder's own integer prediction path — a
    correct decoder must reproduce it EXACTLY (both sides run the same
    integer state machine)."""
    pred, index = 0, 0
    nibbles: list[int] = []
    recon: list[int] = []
    for s in samples:
        step = _ADPCM_STEPS[index]
        diff = s - pred
        code = 0
        if diff < 0:
            code = 8
            diff = -diff
        if diff >= step:
            code |= 4
            diff -= step
        if diff >= step >> 1:
            code |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            code |= 1
        pred, index = _adpcm_step(code, pred, index)
        nibbles.append(code)
        recon.append(pred)
    if len(nibbles) % 2:
        nibbles.append(0)
    data = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    return data, recon


def adpcm_decode(data: bytes, n_samples: int) -> list[int]:
    """IMA ADPCM decode: the exact mirror state machine."""
    pred, index = 0, 0
    out: list[int] = []
    for b in data:
        for code in (b & 0x0F, b >> 4):
            pred, index = _adpcm_step(code, pred, index)
            out.append(pred)
            if len(out) == n_samples:
                return out
    return out


def pcm_fixture(n: int, seed: int = 0) -> list[int]:
    """Deterministic int16 test signal: two sinusoids + a ramp, full
    dynamic range, no RNG state (the audio sibling of jpeg_pixels).
    Vectorized with numpy (one sin call per doc instead of one per
    sample — the fixture synthesis was the kernel's hot loop)."""
    import numpy as np

    i = np.arange(n, dtype=np.float64)
    v = (
        12000.0 * np.sin(0.07 * i + 0.9 * (seed % 13))
        + 6000.0 * np.sin(0.41 * i + 0.3 * seed)
        + (np.arange(n, dtype=np.int64) * (7 + seed % 5)) % 4096
        - 2048
    )
    return [
        int(x) for x in np.clip(np.trunc(v), -32768, 32767).astype(np.int64)
    ]


# ──────────────────────────────────────────────────────────────────────────
# wave 110: audio spectral profile via explicit DFT bins
# ──────────────────────────────────────────────────────────────────────────


def spectral_profile(
    frames: DataFrame,
    media_col: str = "media_id",
    frame_col: str = "frame",
    energy_col: str = "energy",
    n_frames: int = 64,
    k_max: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Per-media spectral read-out of a frame-energy envelope via
    EXPLICIT DFT bins — X_k = Σ_n e_n·e^(−2πikn/N) spelled as two
    cos/sin sums per bin, entirely JVM-side expression code (the
    audio analogue of the suite's "no Python in the hot path" rule;
    an FFT library would be a UDF, the O(N·k_max) naive transform for
    small k_max is pure SQL in both engines).

    Reports the standard low-level audio descriptors over bins
    1..k_max: per-bin power P_k = |X_k|², total band power, the
    spectral centroid Σk·P_k/ΣP_k (bin units — where the energy
    lives), and spectral flatness exp(mean ln P)/mean P (1 = white,
    → 0 = tonal; NULL if any bin is exactly empty). One explode to
    (media, k, n) — N·k_max rows per media — and two rollups.
    Output per media: (media_id, total_power, spectral_centroid,
    spectral_flatness)."""
    two_pi = 6.283185307179586
    ks = F.array(*[F.lit(k) for k in range(1, k_max + 1)])
    terms = frames.select(
        F.col(media_col).alias("__m"),
        F.col(frame_col).cast("double").alias("__n"),
        F.col(energy_col).cast("double").alias("__e"),
        F.explode(ks).alias("__k"),
    ).select(
        "__m",
        "__k",
        (
            F.col("__e")
            * F.cos(
                F.lit(two_pi)
                * F.col("__k").cast("double")
                * F.col("__n")
                / F.lit(float(n_frames))
            )
        ).alias("__re"),
        (
            -F.col("__e")
            * F.sin(
                F.lit(two_pi)
                * F.col("__k").cast("double")
                * F.col("__n")
                / F.lit(float(n_frames))
            )
        ).alias("__im"),
    )
    bins = terms.groupBy("__m", "__k").agg(
        F.sum("__re").alias("re"), F.sum("__im").alias("im")
    ).select(
        "__m",
        "__k",
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias(
            "__p"
        ),
    )
    g = bins.groupBy(F.col("__m").alias(media_col)).agg(
        F.sum("__p").alias("total"),
        F.sum(F.col("__k").cast("double") * F.col("__p")).alias("kp"),
        F.avg("__p").alias("pbar"),
        F.avg(
            F.when(F.col("__p") > 0, F.log("__p"))
        ).alias("lnbar"),
        F.sum(F.when(F.col("__p") > 0, 0).otherwise(1)).alias("zeros"),
    )
    # a DC-only envelope leaves ~1e-24 of cos/sin float dust in the
    # bins, not exact zeros: anything below 1e-9 total band power is
    # silence (real envelopes land at O(1)+), NULL read-outs
    flat = F.when(
        (F.col("zeros") == 0) & (F.col("total") > 1e-9),
        F.exp(F.col("lnbar")) / F.col("pbar"),
    ).otherwise(F.lit(None).cast("double"))
    return g.select(
        media_col,
        F.round(F.col("total"), round_to).alias("total_power"),
        F.round(
            F.when(
                F.col("total") > 1e-9, F.col("kp") / F.col("total")
            ).otherwise(F.lit(None).cast("double")),
            round_to,
        ).alias("spectral_centroid"),
        F.round(flat, round_to).alias("spectral_flatness"),
    ).orderBy(media_col)


def spectral_profile_sql(
    frames_sql: str,
    media_col: str = "media_id",
    frame_col: str = "frame",
    energy_col: str = "energy",
    n_frames: int = 64,
    k_max: int = 8,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`spectral_profile`. ``frames_sql`` must
    yield (media_id, frame, energy)."""
    two_pi = 6.283185307179586
    return f"""
    WITH frames AS ({frames_sql}),
    terms AS (
      SELECT f.{media_col} AS m, k.k,
             CAST(f.{energy_col} AS DOUBLE)
               * COS({two_pi!r} * CAST(k.k AS DOUBLE)
                     * CAST(f.{frame_col} AS DOUBLE)
                     / {float(n_frames)!r}) AS re,
             -CAST(f.{energy_col} AS DOUBLE)
               * SIN({two_pi!r} * CAST(k.k AS DOUBLE)
                     * CAST(f.{frame_col} AS DOUBLE)
                     / {float(n_frames)!r}) AS im
      FROM frames f
      CROSS JOIN (SELECT unnest(range(1, {k_max + 1})) AS k) k
    ),
    bins AS (
      SELECT m, k, re * re + im * im AS p
      FROM (SELECT m, k, SUM(re) AS re, SUM(im) AS im
            FROM terms GROUP BY m, k)
    ),
    g AS (
      SELECT m AS {media_col},
             SUM(p) AS total,
             SUM(CAST(k AS DOUBLE) * p) AS kp,
             AVG(p) AS pbar,
             AVG(CASE WHEN p > 0 THEN LN(p) END) AS lnbar,
             SUM(CASE WHEN p > 0 THEN 0 ELSE 1 END) AS zeros
      FROM bins GROUP BY m
    )
    SELECT {media_col},
           ROUND(total, {round_to}) AS total_power,
           ROUND(CASE WHEN total > 1e-9 THEN kp / total ELSE NULL END,
                 {round_to}) AS spectral_centroid,
           ROUND(CASE WHEN zeros = 0 AND total > 1e-9
                      THEN EXP(lnbar) / pbar ELSE NULL END,
                 {round_to}) AS spectral_flatness
    FROM g ORDER BY {media_col}
    """


_G711_LUTS: dict | None = None


def g711_luts():
    """Vectorization tables for the G.711 kernels: full 65536-entry
    int16 -> code LUTs for both laws plus the 256-entry decode tables,
    built once per process from the scalar reference functions (the
    scalar path stays the spec the tests pin; the LUTs are how the
    Arrow kernel applies it at corpus scale — one fancy-index per
    batch instead of two Python calls per sample)."""
    global _G711_LUTS
    if _G711_LUTS is None:
        import numpy as np

        xs = np.arange(-32768, 32768, dtype=np.int32)
        ue = np.fromiter(
            (ulaw_encode_sample(int(x)) for x in xs), dtype=np.uint8,
            count=65536,
        )
        ae = np.fromiter(
            (alaw_encode_sample(int(x)) for x in xs), dtype=np.uint8,
            count=65536,
        )
        ud = np.fromiter(
            (ulaw_decode_sample(c) for c in range(256)), dtype=np.int32,
            count=256,
        )
        ad = np.fromiter(
            (alaw_decode_sample(c) for c in range(256)), dtype=np.int32,
            count=256,
        )
        _G711_LUTS = {"ue": ue, "ae": ae, "ud": ud, "ad": ad}
    return _G711_LUTS


def g711_bounded_check(pcm: list[int], bound: int = 512) -> bool:
    """Vectorized companding-error check for both laws: every sample's
    decode(encode(x)) must sit within ``bound`` of the (mu-law-clipped)
    input. numpy LUT application — O(1) Python ops per batch."""
    import numpy as np

    luts = g711_luts()
    x = np.asarray(pcm, dtype=np.int32)
    ix = x + 32768
    du = luts["ud"][luts["ue"][ix]]
    da = luts["ad"][luts["ae"][ix]]
    cu = np.clip(x, -32635, 32635)
    return bool(
        (np.abs(du - cu) <= bound).all() and (np.abs(da - x) <= bound).all()
    )
