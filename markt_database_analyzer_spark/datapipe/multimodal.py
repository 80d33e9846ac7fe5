"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats images/audio/video as ``binary`` columns with a struct
of typed metadata alongside. What is REAL here (and tested):

- schema convention (``payload binary, meta struct<...>``)
- metadata extraction as pure column expressions (size, content hash,
  magic-byte sniffing)
- the Arrow-batched decode/feature pipeline shape: ``mapInPandas`` over
  an iterator of record batches, preserving partitioning, with bounded
  batch memory (the exact shape a real image decoder plugs into)

Every decoder is one row of the ``CODECS`` table (parser, featurizer,
output schema, feature version, fixture) and runs in one envelope,
``decode(df, codec)``; ``crafted(df, codec)`` builds the codec's
md5-derived fixture payloads, which the catalog's DuckDB oracles replay
as hex-pair arithmetic. The codecs:

- ``bytes`` — deterministic byte-stat featurizer (the original stand-in,
  kept for the plumbing entry; no fixture);
- ``raster`` — BMP 24-bpp BI_RGB and binary PPM ``P6`` pixel decode;
- ``wav`` — RIFF/WAVE PCM 16-bit;
- ``gif`` / ``gif_anim`` — GIF87a/89a with LZW, single image and
  animation;
- ``png`` — 8-bit palette PNG with a complete RFC 1951 inflate.

All are pure python/numpy. A payload a parser does not handle decodes to
a ``format='unsupported'`` row with NULL features — the batch shape,
schema and partitioning are identical to what a PIL/ffmpeg featurizer
plugs into.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import fan_out

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",  # wav/avi containers
    b"GIF8": "gif",
}


def to_payload(col: Column | str) -> Column:
    """Encode a (here: text) column as the opaque binary payload column —
    stand-in for real media bytes in the testdata."""
    c = F.col(col) if isinstance(col, str) else col
    return F.encode(c, "UTF-8")


def payload_meta(payload: Column | str) -> Column:
    """Typed metadata struct from the raw bytes, no decode required:
    byte length, md5 content id, sniffed container format."""
    p = F.col(payload) if isinstance(payload, str) else payload
    fmt: Column = F.lit("unknown")
    for magic, name in MAGIC.items():
        hexpref = magic.hex()
        fmt = F.when(F.hex(F.substring(p, 1, len(magic))) == F.lit(hexpref.upper()), F.lit(name)).otherwise(fmt)
    return F.struct(
        F.length(p).alias("n_bytes"),
        F.md5(p).alias("content_id"),
        fmt.alias("format"),
    )


def _md5(*keys: str) -> bytes:
    """Concatenated md5 digests of ``keys``: the pixel/sample source of
    every crafted fixture."""
    return b"".join(hashlib.md5(k.encode("ascii")).digest() for k in keys)


def _md5_indices(d: int) -> tuple[bytes, np.ndarray]:
    """The GIF/PNG fixture raster: 64 2-bit pixel indices, the bytes of
    md5(str(d)), md5(str(d)+'a'), +'b', +'c' mod 4 (and the raw bytes)."""
    raw = _md5(*(f"{d}{sfx}" for sfx in ("", "a", "b", "c")))
    return raw, (np.frombuffer(raw, dtype=np.uint8) % 4).astype(np.int64)


def _byte_stats(b: bytes) -> tuple[int, float, int, int]:
    """Deterministic stand-in featurizer: byte statistics of the payload
    (``np.frombuffer`` is zero-copy). Replaces (e.g.) decode→resize→embed
    for an image batch."""
    if not b:
        return (0, 0.0, 0, 0)
    arr = np.frombuffer(b, dtype=np.uint8)
    return (len(b), float(arr.sum()) / len(b), int(arr.min()), int(arr.max()))


# ---------------------------------------------------------------------------
# Real raster decode: BMP (24-bpp BI_RGB) and binary PPM (P6) in pure numpy.
# Self-describing uncompressed formats, so the full decode path — header
# parse, row stride/padding, bottom-up flip, BGR→RGB — runs with zero
# external codecs while exercising exactly the batch shape a PIL/ffmpeg
# featurizer plugs into.
# ---------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bpp BI_RGB BMP encoder for an HxWx3 uint8 RGB array —
    bottom-up rows, BGR channel order, 4-byte row padding (the on-disk
    layout Windows bitmaps have used since 1990). Used by tests and the
    ``multimodal_decode_real`` fixture builder; the decoder below must
    invert it bit-exactly."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = pixels[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    data = bytes(rows)
    offset = 14 + 40
    size = offset + len(data)
    file_header = b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + offset.to_bytes(4, "little")
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")     # planes
        + (24).to_bytes(2, "little")    # bpp
        + (0).to_bytes(4, "little")     # BI_RGB
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16                   # ppm resolutions + palette counts
    )
    return file_header + info + data


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) encoder for an HxWx3 uint8 RGB array."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def _parse_bmp(b: bytes) -> tuple[str, np.ndarray] | None:
    """Decode an uncompressed 24-bpp BI_RGB BMP to an HxWx3 uint8 RGB
    array; None for anything else (compressed, paletted, truncated)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    offset = int.from_bytes(b[10:14], "little")
    header_size = int.from_bytes(b[14:18], "little")
    if header_size < 40:
        return None
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if len(b) < offset + stride * h:
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return "bmp", rows[:, :, ::-1]  # BGR -> RGB


def _parse_ppm(b: bytes) -> tuple[str, np.ndarray] | None:
    """Decode a binary PPM (P6, maxval 255, with optional # comments)."""
    if b[:2] != b"P6":
        return None
    # header = magic + 3 ASCII ints separated by whitespace/comments,
    # terminated by exactly one whitespace byte before the raster
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(b):
        c = b[pos : pos + 1]
        if c == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(b) and b[pos : pos + 1].isdigit():
                pos += 1
            fields.append(int(b[start:pos]))
        else:
            return None
    if len(fields) < 3 or pos >= len(b) or not b[pos : pos + 1].isspace():
        return None
    pos += 1
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0 or len(b) < pos + w * h * 3:
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
    return "ppm", raw.reshape(h, w, 3)


def decode_pixels(b: bytes) -> tuple[str, np.ndarray] | None:
    """Dispatch on magic bytes; None when no zero-dependency decoder
    applies (png/jpeg/... need external codecs)."""
    if not b:
        return None
    return _parse_bmp(b) or _parse_ppm(b)


def _channel_means(decoded: tuple[str, np.ndarray]) -> tuple:
    """(format, width, height, n_pixels, mean_r, mean_g, mean_b) of a
    decoded HxWx3 raster."""
    fmt, px = decoded
    h, w, _ = px.shape
    means = px.reshape(-1, 3).mean(axis=0, dtype=np.float64)
    return (fmt, w, h, h * w, *(round(float(m), 6) for m in means))


def _raster_fixture(d: int) -> bytes:
    """A 2x2 RGB image whose 12 pixel bytes are the first 12 md5 bytes of
    ``str(d)``. Container rotates on ``d % 3``: BMP (exercises stride
    padding + bottom-up + BGR), PPM P6 (exercises ASCII header parse), and
    a PNG-magic payload no raster decoder handles (the NULL-feature path)."""
    raw = _md5(str(d))[:12]
    k = d % 3
    if k == 2:
        return PNG_SIG + raw
    px = np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)
    return encode_bmp(px) if k == 0 else encode_ppm(px)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-frame-sampling shape without a codec: given (doc_id, payload),
    emit one row per sampled "frame" index based on payload size — the
    partition-preserving explode pattern a real frame sampler uses."""
    n_frames = (F.length("payload") / F.lit(100)).cast("int") + 1
    return (
        df.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))))
        .select("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# Real audio decode: RIFF/WAVE PCM 16-bit in pure numpy — the audio twin of
# the BMP/PPM raster path above (VERDICT r10 item 6). The chunk walker
# handles the real container grammar (fmt /data discovery, interleaved
# extra chunks, odd-size pad bytes), so a libsndfile/ffmpeg featurizer
# plugs into the identical mapInPandas batch shape.
# ---------------------------------------------------------------------------

# |sample| at or above this counts as clipped for clip_frac — a fixed
# featurizer constant (full-scale int16 minus headroom), mirrored in the
# catalog entry's SQL oracle.
CLIP_ABS = 30000


def encode_wav(samples: np.ndarray, n_channels: int = 1, sample_rate: int = 8000,
               extra_chunk: bytes | None = None) -> bytes:
    """Minimal RIFF/WAVE PCM encoder for an int16 sample vector
    (interleaved when ``n_channels > 1``). ``extra_chunk`` injects a raw
    pre-encoded chunk between ``fmt `` and ``data`` so tests exercise the
    decoder's chunk walking. The decoder below must invert this
    bit-exactly."""
    data = samples.astype("<i2").tobytes()
    block_align = 2 * n_channels
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")                       # PCM
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")                      # bits/sample
    )
    body = fmt + (extra_chunk or b"") + b"data" + len(data).to_bytes(4, "little") + data
    if len(data) % 2:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


def _parse_wav(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Decode RIFF/WAVE PCM 16-bit to (n_channels, sample_rate, int16
    samples); None for anything else (non-PCM codec, other bit depths,
    truncated/foreign containers)."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, n_channels, sample_rate, bits, fmt_code, data = 12, None, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        payload_at = pos + 8
        if payload_at + size > len(b):
            return None
        if cid == b"fmt " and size >= 16:
            fmt_code = int.from_bytes(b[payload_at : payload_at + 2], "little")
            n_channels = int.from_bytes(b[payload_at + 2 : payload_at + 4], "little")
            sample_rate = int.from_bytes(b[payload_at + 4 : payload_at + 8], "little")
            bits = int.from_bytes(b[payload_at + 14 : payload_at + 16], "little")
        elif cid == b"data":
            data = b[payload_at : payload_at + size]
        pos = payload_at + size + (size % 2)  # word-aligned pad byte
    if fmt_code != 1 or bits != 16 or not n_channels or not sample_rate or data is None:
        return None
    if len(data) % (2 * n_channels):
        return None
    return n_channels, sample_rate, np.frombuffer(data, dtype="<i2")


def _amplitude_stats(parsed: tuple[int, int, np.ndarray]) -> tuple:
    """(format, n_channels, sample_rate, n_frames, n_samples, mean_amp,
    rms, clip_frac) of decoded PCM samples."""
    n_channels, sample_rate, smp = parsed
    n = len(smp)
    s64 = smp.astype(np.int64)
    # exact integer sums first, float division last — the same
    # operation order the SQL oracle replays, so doubles bit-match
    mean_amp = float(int(s64.sum())) / n if n else None
    rms = round(float(np.sqrt(float(int((s64 * s64).sum())) / n)), 6) if n else None
    clip = float(int((np.abs(s64) >= CLIP_ABS).sum())) / n if n else None
    return ("wav", n_channels, sample_rate, n // n_channels, n, mean_amp, rms, clip)


def _wav_fixture(d: int) -> bytes:
    """8 int16 samples, the first 16 md5 bytes of ``str(d)`` read
    little-endian, at sample rate ``8000 + 1000 * (d % 5)``. Container
    rotates on ``d % 3``: mono WAV (straight fmt→data layout), stereo WAV
    with an extra LIST chunk between fmt and data (exercises the chunk
    walker and interleave accounting), and an ID3-magic payload (the
    NULL-feature path)."""
    raw = _md5(str(d))[:16]
    k = d % 3
    if k == 2:
        return b"ID3\x03\x00" + raw
    smp = np.frombuffer(raw, dtype="<i2")
    extra = (b"LIST" + (6).to_bytes(4, "little") + b"INFOab") if k == 1 else None
    return encode_wav(smp, n_channels=k + 1, sample_rate=8000 + 1000 * (d % 5),
                      extra_chunk=extra)


# ---------------------------------------------------------------------------
# Real GIF decode: GIF87a + LZW in pure numpy/python — the COMPRESSED
# container step (VERDICT r11 item 5). BMP/PPM/WAV above are uncompressed;
# GIF's LZW stream (variable-width codes, dictionary growth, clear/EOI,
# sub-block framing) is the smallest real compressed decode, and the
# chunk walker additionally skips extension blocks — so a libgif/PIL
# featurizer plugs into the identical mapInPandas batch shape.
# ---------------------------------------------------------------------------

# Fixed 4-colour palette for the crafted fixture (2-bit indices): black,
# pure R, pure G, pure B — channel means then reduce to exact index
# counts, which is what makes the decode SQL-replayable.
GIF_PALETTE = np.array(
    [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.int64
)


def _lzw_encode_gif(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (LSB-first variable-width codes, clear
    code up front, EOI at the end). Width grows one step LATER than the
    decoder's ``next == 2**size`` rule — the decoder's table is one
    entry behind the encoder at each read, the classic LZW boundary."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    size, next_code = min_code_size + 1, eoi + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    out_bits: list[tuple[int, int]] = [(clear, size)]
    seq = tuple(int(v) for v in indices)
    w = (seq[0],) if seq else ()  # zero-pixel raster: clear + EOI only
    for s in seq[1:]:
        ws = w + (s,)
        if ws in table:
            w = ws
            continue
        out_bits.append((table[w], size))
        if next_code < 4096:
            table[ws] = next_code
            next_code += 1
            if next_code == (1 << size) + 1 and size < 12:
                size += 1
        w = (s,)
    if w:
        out_bits.append((table[w], size))
    out_bits.append((eoi, size))
    acc = n = 0
    data = bytearray()
    for code, width in out_bits:
        acc |= code << n
        n += width
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decode_gif(data: bytes, min_code_size: int) -> list[int] | None:
    """GIF-variant LZW decoder: variable-width LSB-first codes, table
    reset on clear, KwKwK handling for the just-assigned code, width
    bump when the next free code reaches ``2**size``. None on a
    malformed stream (code beyond the table, missing EOI is fine)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1

    def reset() -> tuple[dict[int, tuple[int, ...]], int, int]:
        return {i: (i,) for i in range(clear)}, min_code_size + 1, eoi + 1

    table, size, next_code = reset()
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = n = pos = 0
    while True:
        while n < size:
            if pos >= len(data):
                return out  # stream exhausted without EOI — accept
            acc |= data[pos] << n
            pos += 1
            n += 8
        code = acc & ((1 << size) - 1)
        acc >>= size
        n -= size
        if code == clear:
            table, size, next_code = reset()
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= clear:
                return None
            out.extend(table[code])
            prev = table[code]
            continue
        if code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)  # KwKwK
        else:
            return None
        out.extend(entry)
        if next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << size) and size < 12:
                size += 1
        prev = entry


def encode_gif(
    indices: np.ndarray, palette: np.ndarray = GIF_PALETTE,
    comment: bytes | None = None,
) -> bytes:
    """Minimal GIF87a encoder for a HxW index raster over ``palette``
    (power-of-two sized): logical screen descriptor + global colour
    table + optional comment extension + one image descriptor with a
    real LZW-compressed, sub-block-framed data stream. The decoder
    below must invert this bit-exactly."""
    h, w = indices.shape
    n_colors = len(palette)
    gct_bits = max(1, (n_colors - 1).bit_length())
    min_code_size = max(2, gct_bits)
    head = (
        b"GIF87a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (gct_bits - 1)])  # GCT present, size 2**gct_bits
        + b"\x00\x00"                     # bg index, aspect
        + palette.astype(np.uint8).tobytes()
    )
    body = b""
    if comment is not None:
        # a zero-length sub-block IS the terminator — emit data blocks
        # only for non-empty comments
        sub = bytes([len(comment)]) + comment if comment else b""
        body += b"\x21\xfe" + sub + b"\x00"
    body += (
        b"\x2c" + b"\x00\x00\x00\x00"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + b"\x00"                         # no local table, not interlaced
        + bytes([min_code_size])
    )
    stream = _lzw_encode_gif(indices.reshape(-1), min_code_size)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        body += bytes([len(chunk)]) + chunk
    return head + body + b"\x00\x3b"      # block terminator + trailer


def _parse_gif(b: bytes) -> tuple[int, int, np.ndarray, np.ndarray] | None:
    """Decode a GIF87a/89a with a global colour table, one non-interlaced
    image and no local colour table to (width, height, palette HxWx3,
    indices flat); None for anything else (foreign magic, truncated
    stream, interlace/local-table variants, bad LZW)."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    if not packed & 0x80:
        return None  # no global colour table
    n_colors = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * n_colors > len(b):
        return None
    palette = np.frombuffer(b[pos : pos + 3 * n_colors], dtype=np.uint8)
    palette = palette.reshape(n_colors, 3).astype(np.int64)
    pos += 3 * n_colors
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                return None
            iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
            ipacked = b[pos + 9]
            if ipacked & 0xC0:  # local colour table or interlace
                return None
            pos += 10
            if pos >= len(b):
                return None
            min_code_size = b[pos]
            pos += 1
            stream = bytearray()
            while pos < len(b) and b[pos] != 0:
                size = b[pos]
                if pos + 1 + size > len(b):
                    return None
                stream += b[pos + 1 : pos + 1 + size]
                pos += 1 + size
            if pos >= len(b):
                return None  # sub-block chain without the 0x00 terminator
            decoded = _lzw_decode_gif(bytes(stream), min_code_size)
            if decoded is None or len(decoded) != iw * ih:
                return None
            idx = np.asarray(decoded, dtype=np.int64)
            if (idx >= n_colors).any():
                return None
            return width, height, palette, idx
        elif block == 0x3B:  # trailer before any image
            return None
        else:
            return None
    return None


def _palette_means(fmt: str, parsed: tuple[int, int, np.ndarray, np.ndarray]) -> tuple:
    """(format, width, height, n_pixels, n_colors, mean_r, mean_g, mean_b)
    of a decoded palette image (GIF or PNG)."""
    width, height, palette, idx = parsed
    n = len(idx)
    rgb = palette[idx]
    # exact integer channel sums first, float division last — the
    # same operation order the SQL oracle replays
    means = [round(float(int(rgb[:, c].sum())) / n, 6) if n else None for c in range(3)]
    return (fmt, width, height, n, len(palette), *means)


def _gif_fixture(d: int) -> bytes:
    """The 64 md5-derived pixel indices (``_md5_indices``) over the fixed
    4-colour palette. Container rotates on ``d % 3``: 8x8 GIF87a (straight
    layout), 16x4 GIF with a comment extension before the image descriptor
    (exercises the chunk walker AND a different header geometry), and a
    PNG-magic payload (the NULL-feature path). 64 four-symbol pixels push
    the LZW dictionary across the 3→4→5→6 bit code-width boundaries, so
    width growth is exercised on every payload."""
    raw, idx = _md5_indices(d)
    k = d % 3
    if k == 2:
        return PNG_SIG + raw
    if k == 1:
        return encode_gif(idx.reshape(4, 16), comment=b"crafted")
    return encode_gif(idx.reshape(8, 8))


# ---------------------------------------------------------------------------
# Animated GIF: the TEMPORAL decode surface — multiple image blocks with
# graphics-control extensions (per-frame delay), the smallest real
# video-like container. Reuses the round-12 LZW machinery; a real
# ffmpeg-style frame featurizer plugs into the identical batch shape.
# ---------------------------------------------------------------------------

def encode_gif_animation(
    frames: list, delays_cs: list, palette: np.ndarray = GIF_PALETTE
) -> bytes:
    """Minimal GIF89a animation encoder: logical screen + global colour
    table, then per frame a graphics-control extension (0xF9, 4-byte
    block carrying the centisecond delay) and an image descriptor with a
    real LZW data stream. All frames share the screen geometry."""
    h, w = frames[0].shape
    n_colors = len(palette)
    gct_bits = max(1, (n_colors - 1).bit_length())
    min_code_size = max(2, gct_bits)
    out = bytearray(
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (gct_bits - 1)]) + b"\x00\x00"
        + palette.astype(np.uint8).tobytes()
    )
    for frame, delay in zip(frames, delays_cs):
        assert frame.shape == (h, w)
        out += (
            b"\x21\xf9\x04\x00"
            + int(delay).to_bytes(2, "little") + b"\x00\x00"
        )
        out += (
            b"\x2c" + b"\x00\x00\x00\x00"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00" + bytes([min_code_size])
        )
        stream = _lzw_encode_gif(frame.reshape(-1), min_code_size)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _parse_gif_frames(
    b: bytes,
) -> tuple[int, int, np.ndarray, list, int] | None:
    """Decode every frame of a GIF87a/89a animation to (width, height,
    palette, [flat index arrays], total centiseconds). Same restrictions
    as the single-image parser (global colour table, no interlace/local
    tables); frames whose geometry diverges from the screen, bad LZW, or
    a missing trailer return None."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    if not packed & 0x80:
        return None
    n_colors = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * n_colors > len(b):
        return None
    palette = np.frombuffer(b[pos : pos + 3 * n_colors], dtype=np.uint8)
    palette = palette.reshape(n_colors, 3).astype(np.int64)
    pos += 3 * n_colors
    frames: list = []
    total_cs = 0
    while pos < len(b):
        block = b[pos]
        if block == 0x21:
            if pos + 2 >= len(b):
                return None
            label = b[pos + 1]
            pos += 2
            sub_start = pos
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            if pos >= len(b):
                return None
            if label == 0xF9 and b[sub_start] == 4 and sub_start + 4 <= len(b):
                total_cs += int.from_bytes(b[sub_start + 2 : sub_start + 4], "little")
            pos += 1
        elif block == 0x2C:
            if pos + 10 > len(b):
                return None
            iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
            if (iw, ih) != (width, height) or b[pos + 9] & 0xC0:
                return None
            pos += 10
            if pos >= len(b):
                return None
            min_code_size = b[pos]
            pos += 1
            stream = bytearray()
            while pos < len(b) and b[pos] != 0:
                size = b[pos]
                if pos + 1 + size > len(b):
                    return None
                stream += b[pos + 1 : pos + 1 + size]
                pos += 1 + size
            if pos >= len(b):
                return None
            pos += 1
            decoded = _lzw_decode_gif(bytes(stream), min_code_size)
            if decoded is None or len(decoded) != iw * ih:
                return None
            idx = np.asarray(decoded, dtype=np.int64)
            if (idx >= n_colors).any():
                return None
            frames.append(idx)
        elif block == 0x3B:
            if not frames:
                return None
            return width, height, palette, frames, total_cs
        else:
            return None
    return None  # ran off the end without a trailer


def _frame_stats(parsed: tuple[int, int, np.ndarray, list, int]) -> tuple:
    """(format, n_frames, width, height, n_pixels_total, total_cs,
    mean_idx, motion) of a decoded animation; motion is the mean absolute
    per-pixel index delta between consecutive frames (NULL for one frame)."""
    width, height, _palette, frames, total_cs = parsed
    k, px = len(frames), width * height
    total = k * px
    # exact integer sums first, float division last — the SQL
    # oracle's operation order
    mean_idx = round(float(int(sum(int(f.sum()) for f in frames))) / total, 6)
    if k > 1:
        msum = sum(int(np.abs(frames[i] - frames[i - 1]).sum()) for i in range(1, k))
        motion = round(float(msum) / ((k - 1) * px), 6)
    else:
        motion = None
    return ("gif", k, width, height, total, total_cs, mean_idx, motion)


def _gif_anim_fixture(d: int) -> bytes:
    """Frame f's pixel indices are the first (width*height) bytes of
    md5(str(d) + 'f' + str(f)) mod 4; frame f's delay is (d + f) % 7
    centiseconds. Container rotates on ``d % 3``: 3 frames of 4x4, 5
    frames of 4x2 (different geometry AND frame count), and a JPEG-magic
    payload (the NULL-feature path)."""
    k = d % 3
    if k == 2:
        return b"\xff\xd8\xff\xe0" + _md5(str(d))
    n_frames, (h, w) = ((3, (4, 4)), (5, (2, 4)))[k]
    frames = [
        (np.frombuffer(_md5(f"{d}f{f}")[: h * w], dtype=np.uint8) % 4)
        .astype(np.int64).reshape(h, w)
        for f in range(n_frames)
    ]
    return encode_gif_animation(frames, [(d + f) % 7 for f in range(n_frames)])


# ---------------------------------------------------------------------------
# Real PNG decode: DEFLATE (stored + fixed-Huffman blocks with LZ77
# back-references) in pure python/numpy — the second compression CLASS
# after GIF's LZW (r12 verdict item: Huffman coding + LZ77 sliding-window
# matches vs LZW's dictionary codes). The chunk walker verifies real
# CRC-32s, the zlib container a real Adler-32, and the scanline stage
# inverts all five PNG filter predictors (None/Sub/Up/Average/Paeth).
# Dynamic-Huffman blocks (BTYPE=10) are out of scope and take the
# unsupported path — documented, and pinned by a rejection test.
# ---------------------------------------------------------------------------

_CRC_TABLE = None


def _crc32(data: bytes) -> int:
    """Table-driven CRC-32 (reflected, poly 0xEDB88320) — the PNG chunk
    checksum, implemented rather than imported so the walk is
    self-contained and the rejection tests exercise OUR table."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
            tbl.append(c)
        _CRC_TABLE = tbl
    c = 0xFFFFFFFF
    for byte in data:
        c = _CRC_TABLE[(c ^ byte) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _adler32(data: bytes) -> int:
    a, b = 1, 0
    for byte in data:
        a = (a + byte) % 65521
        b = (b + a) % 65521
    return (b << 16) | a


# RFC 1951 length/distance code tables: (base, extra_bits) per symbol.
_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
             35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
              3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0]
_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
              257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145,
              8193, 12289, 16385, 24577]
_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
               7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13]


class _BitWriter:
    """LSB-first deflate bitstream. Huffman codes go MSB-of-code first
    (RFC 1951 packing rule); extra-bit fields go LSB-first."""

    def __init__(self) -> None:
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def bits(self, value: int, width: int) -> None:
        self.acc |= value << self.n
        self.n += width
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def huff(self, code: int, width: int) -> None:
        rev = 0
        for _ in range(width):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.bits(rev, width)

    def align(self) -> None:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = self.n = 0

    def done(self) -> bytes:
        self.align()
        return bytes(self.out)


def _fixed_lit_code(sym: int) -> tuple[int, int]:
    """Canonical fixed-Huffman (code, width) for literal/length symbol."""
    if sym <= 143:
        return 0x30 + sym, 8
    if sym <= 255:
        return 0x190 + (sym - 144), 9
    if sym <= 279:
        return sym - 256, 7
    return 0xC0 + (sym - 280), 8


def _len_to_code(length: int) -> tuple[int, int, int]:
    """(symbol, extra_bits_value, extra_bits_width) for a match length."""
    for i in range(len(_LEN_BASE) - 1, -1, -1):
        if length >= _LEN_BASE[i]:
            # symbol 285 (i=28) has 0 extra; guard the 258 exact case
            if i < 28 and length > _LEN_BASE[i] + (1 << _LEN_EXTRA[i]) - 1:
                continue
            return 257 + i, length - _LEN_BASE[i], _LEN_EXTRA[i]
    raise ValueError(length)


def _dist_to_code(dist: int) -> tuple[int, int, int]:
    for i in range(len(_DIST_BASE) - 1, -1, -1):
        if dist >= _DIST_BASE[i]:
            return i, dist - _DIST_BASE[i], _DIST_EXTRA[i]
    raise ValueError(dist)


def deflate_stored(data: bytes) -> bytes:
    """DEFLATE with stored (BTYPE=00) blocks only — byte-aligned
    LEN/NLEN framing, no compression."""
    w = _BitWriter()
    views = [data[i : i + 65535] for i in range(0, len(data), 65535)] or [b""]
    for i, chunk in enumerate(views):
        w.bits(1 if i == len(views) - 1 else 0, 1)  # BFINAL
        w.bits(0, 2)                                # BTYPE=00
        w.align()
        ln = len(chunk)
        w.out += ln.to_bytes(2, "little")
        w.out += (ln ^ 0xFFFF).to_bytes(2, "little")
        w.out += chunk
    return w.done()


def deflate_fixed(data: bytes) -> bytes:
    """DEFLATE with one fixed-Huffman (BTYPE=01) block: greedy LZ77
    (see ``_lz77_tokens``) emitting real length/distance
    back-references — the compression mechanism LZW does not have."""
    w = _BitWriter()
    w.bits(1, 1)  # BFINAL
    w.bits(1, 2)  # BTYPE=01
    for t in _lz77_tokens(data):
        if t[0] == "lit":
            code, width = _fixed_lit_code(t[1])
            w.huff(code, width)
        else:
            _, sym, ev, ew, dsym, dev, dew = t
            code, width = _fixed_lit_code(sym)
            w.huff(code, width)
            if ew:
                w.bits(ev, ew)
            w.huff(dsym, 5)  # fixed distance codes are plain 5-bit
            if dew:
                w.bits(dev, dew)
    code, width = _fixed_lit_code(256)  # end of block
    w.huff(code, width)
    return w.done()


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int | None:
        if not self.n:
            if self.pos >= len(self.data):
                return None
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        b = self.acc & 1
        self.acc >>= 1
        self.n -= 1
        return b

    def bits(self, width: int) -> int | None:
        v = 0
        for i in range(width):
            b = self.bit()
            if b is None:
                return None
            v |= b << i
        return v

    def align(self) -> None:
        self.acc = self.n = 0


class _HuffDecoder:
    """Canonical Huffman decoder per RFC 1951 §3.2.2: codes of each
    length are consecutive integers starting where the previous length
    left off (shifted). Lookup is bit-serial MSB-first — fine at header
    scale and fixture scale; a table-driven fast path plugs in without
    changing callers."""

    def __init__(self, lengths: list[int]) -> None:
        max_len = max(lengths, default=0)
        bl_count = [0] * (max_len + 1)
        for ln in lengths:
            if ln:
                bl_count[ln] += 1
        code = 0
        next_code = [0] * (max_len + 1)
        for bits in range(1, max_len + 1):
            code = (code + bl_count[bits - 1]) << 1
            next_code[bits] = code
        self.table: dict[tuple[int, int], int] = {}
        for sym, ln in enumerate(lengths):
            if ln:
                self.table[(ln, next_code[ln])] = sym
                next_code[ln] += 1
        self.max_len = max_len

    def read(self, r: _BitReader) -> int | None:
        code = 0
        for length in range(1, self.max_len + 1):
            b = r.bit()
            if b is None:
                return None
            code = (code << 1) | b
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        return None  # not a code in this tree


def _fixed_decoders() -> tuple[_HuffDecoder, _HuffDecoder]:
    lit = [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
    return _HuffDecoder(lit), _HuffDecoder([5] * 30)


_FIXED_LIT_DEC, _FIXED_DIST_DEC = _fixed_decoders()

# code-length-code transmission order (RFC 1951 §3.2.7)
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]


def _read_dynamic_tables(r: _BitReader) -> tuple[_HuffDecoder, _HuffDecoder] | None:
    """Parse a BTYPE=10 header: HLIT/HDIST/HCLEN, the 3-bit code-length
    code lengths in permuted order, then the RLE-coded (16/17/18)
    literal+distance code lengths."""
    hlit, hdist, hclen = r.bits(5), r.bits(5), r.bits(4)
    if hlit is None or hdist is None or hclen is None:
        return None
    n_lit, n_dist = hlit + 257, hdist + 1
    cl_lengths = [0] * 19
    for i in range(hclen + 4):
        v = r.bits(3)
        if v is None:
            return None
        cl_lengths[_CLC_ORDER[i]] = v
    cl_dec = _HuffDecoder(cl_lengths)
    lengths: list[int] = []
    while len(lengths) < n_lit + n_dist:
        sym = cl_dec.read(r)
        if sym is None:
            return None
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            ev = r.bits(2)
            if ev is None or not lengths:
                return None
            lengths += [lengths[-1]] * (3 + ev)
        elif sym == 17:
            ev = r.bits(3)
            if ev is None:
                return None
            lengths += [0] * (3 + ev)
        else:
            ev = r.bits(7)
            if ev is None:
                return None
            lengths += [0] * (11 + ev)
    if len(lengths) != n_lit + n_dist:
        return None  # a repeat ran past the table boundary
    return _HuffDecoder(lengths[:n_lit]), _HuffDecoder(lengths[n_lit:])


def _inflate_compressed_block(
    r: _BitReader, out: bytearray, lit_dec: _HuffDecoder,
    dist_dec: _HuffDecoder, max_out: int,
) -> bool:
    """Shared symbol loop for fixed AND dynamic blocks: literals,
    end-of-block, length/distance back-references with extra bits and
    byte-at-a-time overlap-copy semantics."""
    while True:
        sym = lit_dec.read(r)
        if sym is None:
            return False
        if sym == 256:
            return True
        if sym < 256:
            if len(out) + 1 > max_out:
                return False
            out.append(sym)
            continue
        if sym > 285:
            return False
        i = sym - 257
        ev = r.bits(_LEN_EXTRA[i])
        if ev is None:
            return False
        length = _LEN_BASE[i] + ev
        dsym = dist_dec.read(r)
        if dsym is None or dsym > 29:
            return False
        dev = r.bits(_DIST_EXTRA[dsym])
        if dev is None:
            return False
        dist = _DIST_BASE[dsym] + dev
        if dist > len(out) or len(out) + length > max_out:
            return False
        for _ in range(length):  # byte-at-a-time: overlap semantics
            out.append(out[-dist])


def inflate(data: bytes, max_out: int) -> bytes | None:
    """Complete RFC 1951 inflate: stored (BTYPE=00, LEN/NLEN verified),
    fixed-Huffman (01, canonical fixed trees), and dynamic-Huffman (10,
    full header parse — code-length code in permuted order, 16/17/18
    run-length symbols — then the same symbol loop). Returns None on
    reserved block type 11, truncation, bad framing, codes outside the
    transmitted trees, or output overrun past ``max_out``."""
    r = _BitReader(data)
    out = bytearray()
    while True:
        bfinal = r.bit()
        btype = r.bits(2)
        if bfinal is None or btype is None:
            return None
        if btype == 0:
            r.align()
            if r.pos + 4 > len(r.data):
                return None
            ln = int.from_bytes(r.data[r.pos : r.pos + 2], "little")
            nlen = int.from_bytes(r.data[r.pos + 2 : r.pos + 4], "little")
            if ln ^ 0xFFFF != nlen:
                return None
            r.pos += 4
            if r.pos + ln > len(r.data) or len(out) + ln > max_out:
                return None
            out += r.data[r.pos : r.pos + ln]
            r.pos += ln
        elif btype in (1, 2):
            if btype == 1:
                lit_dec, dist_dec = _FIXED_LIT_DEC, _FIXED_DIST_DEC
            else:
                tables = _read_dynamic_tables(r)
                if tables is None:
                    return None
                lit_dec, dist_dec = tables
            if not _inflate_compressed_block(r, out, lit_dec, dist_dec, max_out):
                return None
        else:
            return None  # reserved block type 11
        if bfinal:
            return bytes(out)


# --------------------------------------------------------------- dynamic
# Dynamic-Huffman ENCODER: real frequency-derived canonical trees, RLE
# header transmission — the full RFC 1951 §3.2.7 surface, so the decoder
# above is exercised end-to-end without leaning on stdlib zlib's choice
# of block type (which falls back to fixed/stored on tiny inputs).


def _huffman_lengths(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Code lengths from symbol frequencies (package-style: plain
    Huffman, halving frequencies and rebuilding if a length exceeds
    ``limit`` — converges because all-equal frequencies give the
    balanced tree). Single-symbol alphabets get length 1."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        return {}
    if len(syms) == 1:
        return {syms[0]: 1}
    f = {s: freqs[s] for s in syms}
    while True:
        heap = [(f[s], s, (s,)) for s in syms]
        heapq.heapify(heap)
        depth: dict[int, int] = {s: 0 for s in syms}
        while len(heap) > 1:
            fa, _, ga = heapq.heappop(heap)
            fb, tb, gb = heapq.heappop(heap)
            for s in ga + gb:
                depth[s] += 1
            heapq.heappush(heap, (fa + fb, tb, ga + gb))
        if max(depth.values()) <= limit:
            return depth
        f = {s: (v + 1) // 2 for s, v in f.items()}


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """(code, width) per symbol for the canonical code of ``lengths`` —
    the same assignment rule _HuffDecoder inverts."""
    max_len = max(lengths.values(), default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths.values():
        bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out: dict[int, tuple[int, int]] = {}
    for sym in sorted(lengths):
        ln = lengths[sym]
        out[sym] = (next_code[ln], ln)
        next_code[ln] += 1
    return out


def _lz77_tokens(data: bytes) -> list[tuple]:
    """Greedy LZ77 tokenization shared by the fixed and dynamic
    encoders: ('lit', byte) and ('match', len_sym, len_ev, len_ew,
    dist_sym, dist_ev, dist_ew) tuples; the end-of-block symbol is
    appended by the caller. Min match 3, max 258, 32 KiB window,
    last-occurrence hash chain of depth 1."""
    tokens: list[tuple] = []
    last: dict[bytes, int] = {}
    i, n = 0, len(data)
    while i < n:
        match_len = 0
        match_dist = 0
        if i + 3 <= n:
            key = data[i : i + 3]
            j = last.get(key, -1)
            if j >= 0 and i - j <= 32768:
                length = 3
                limit = min(258, n - i)
                while length < limit and data[j + length] == data[i + length]:
                    length += 1
                match_len, match_dist = length, i - j
            last[key] = i
        if match_len >= 3:
            sym, ev, ew = _len_to_code(match_len)
            dsym, dev, dew = _dist_to_code(match_dist)
            tokens.append(("match", sym, ev, ew, dsym, dev, dew))
            for p in range(i + 1, min(i + match_len, n - 2)):
                last[data[p : p + 3]] = p
            i += match_len
        else:
            tokens.append(("lit", data[i]))
            i += 1
    return tokens


def _rle_code_lengths(lengths: list[int]) -> list[tuple[int, int, int]]:
    """RLE-encode a code-length vector with symbols 16 (copy prev 3-6),
    17 (zeros 3-10), 18 (zeros 11-138): (symbol, extra_val, extra_width)
    triples. The whole equal-valued run starting at each position is
    consumed before advancing."""
    out: list[tuple[int, int, int]] = []
    i, n = 0, len(lengths)
    while i < n:
        v = lengths[i]
        j = i + 1
        while j < n and lengths[j] == v:
            j += 1
        run = j - i
        if v == 0:
            while run >= 11:
                take = min(run, 138)
                out.append((18, take - 11, 7))
                run -= take
            while run >= 3:
                take = min(run, 10)
                out.append((17, take - 3, 3))
                run -= take
            out += [(0, 0, 0)] * run
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                take = min(run, 6)
                out.append((16, take - 3, 2))
                run -= take
            out += [(v, 0, 0)] * run
        i = j
    return out


def deflate_dynamic(data: bytes) -> bytes:
    """DEFLATE with one dynamic-Huffman (BTYPE=10) block: the same
    greedy LZ77 tokenization as ``deflate_fixed``, but literal/length
    and distance trees are built from the ACTUAL symbol frequencies,
    canonicalized, and transmitted via the RLE-coded (16/17/18) header
    with its own code-length code — the full RFC 1951 §3.2.7 surface."""
    tokens = _lz77_tokens(data)
    lit_freq: dict[int, int] = {256: 1}
    dist_freq: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            lit_freq[t[1]] = lit_freq.get(t[1], 0) + 1
        else:
            _, sym, _, _, dsym, _, _ = t
            lit_freq[sym] = lit_freq.get(sym, 0) + 1
            dist_freq[dsym] = dist_freq.get(dsym, 0) + 1
    lit_lengths = _huffman_lengths(lit_freq, 15)
    dist_lengths = _huffman_lengths(dist_freq, 15) if dist_freq else {0: 1}
    n_lit = max(257, max(lit_lengths) + 1)
    n_dist = max(1, max(dist_lengths) + 1)
    lit_vec = [lit_lengths.get(s, 0) for s in range(n_lit)]
    dist_vec = [dist_lengths.get(s, 0) for s in range(n_dist)]
    rle = _rle_code_lengths(lit_vec + dist_vec)
    cl_freq: dict[int, int] = {}
    for s, _, _ in rle:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    cl_vec = [cl_lengths.get(s, 0) for s in range(19)]
    hclen = len(_CLC_ORDER)
    while hclen > 4 and cl_vec[_CLC_ORDER[hclen - 1]] == 0:
        hclen -= 1
    lit_codes = _canonical_codes(lit_lengths)
    dist_codes = _canonical_codes(dist_lengths)
    cl_codes = _canonical_codes(cl_lengths)
    w = _BitWriter()
    w.bits(1, 1)  # BFINAL
    w.bits(2, 2)  # BTYPE=10
    w.bits(n_lit - 257, 5)
    w.bits(n_dist - 1, 5)
    w.bits(hclen - 4, 4)
    for i in range(hclen):
        w.bits(cl_vec[_CLC_ORDER[i]], 3)
    for s, ev, ew in rle:
        code, width = cl_codes[s]
        w.huff(code, width)
        if ew:
            w.bits(ev, ew)
    for t in tokens:
        if t[0] == "lit":
            code, width = lit_codes[t[1]]
            w.huff(code, width)
        else:
            _, sym, ev, ew, dsym, dev, dew = t
            code, width = lit_codes[sym]
            w.huff(code, width)
            if ew:
                w.bits(ev, ew)
            code, width = dist_codes[dsym]
            w.huff(code, width)
            if dew:
                w.bits(dev, dew)
    code, width = lit_codes[256]
    w.huff(code, width)
    return w.done()


def zlib_wrap(raw: bytes, *, method: str = "fixed") -> bytes:
    """RFC 1950 container around our own deflate: CMF/FLG 0x78 0x01
    (CM=8, no preset dict, fcheck-valid) + deflate stream + Adler-32.
    ``method``: 'stored' | 'fixed' | 'dynamic'."""
    enc = {"stored": deflate_stored, "fixed": deflate_fixed,
           "dynamic": deflate_dynamic}[method]
    return b"\x78\x01" + enc(raw) + _adler32(raw).to_bytes(4, "big")


def zlib_unwrap(b: bytes, max_out: int) -> bytes | None:
    if len(b) < 6 or b[0] & 0x0F != 8 or b[1] & 0x20:
        return None  # not deflate / preset dictionary
    if (b[0] * 256 + b[1]) % 31:
        return None  # FCHECK failure
    raw = inflate(b[2:-4], max_out)
    if raw is None or _adler32(raw) != int.from_bytes(b[-4:], "big"):
        return None
    return raw


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanlines(idx: np.ndarray, filters: list[int]) -> bytes:
    """Apply per-row PNG filters (bpp=1, 8-bit palette indices):
    filter byte + filtered bytes per scanline."""
    h, w = idx.shape
    out = bytearray()
    prior = [0] * w
    for y in range(h):
        row = [int(v) for v in idx[y]]
        f = filters[y % len(filters)]
        out.append(f)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - (left + up) // 2
            else:
                v = row[x] - _paeth(left, up, upleft)
            out.append(v & 0xFF)
        prior = row
    return bytes(out)


def _unfilter_scanlines(raw: bytes, w: int, h: int) -> np.ndarray | None:
    if len(raw) != h * (w + 1):
        return None
    out = np.zeros((h, w), dtype=np.int64)
    prior = [0] * w
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        if f > 4:
            return None
        row = [0] * w
        for x in range(w):
            v = raw[pos + x]
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if f == 1:
                v += left
            elif f == 2:
                v += up
            elif f == 3:
                v += (left + up) // 2
            elif f == 4:
                v += _paeth(left, up, upleft)
            row[x] = v & 0xFF
        pos += w
        out[y] = row
        prior = row
    return out


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big") + ctype + data
        + _crc32(ctype + data).to_bytes(4, "big")
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_MAX_RAW = 1 << 24  # 16 MiB decoded-scanline cap (DoS guard)


def encode_png(
    indices: np.ndarray, palette: np.ndarray = GIF_PALETTE, *,
    method: str = "fixed", filters: list[int] | None = None,
    split_idat: bool = False,
) -> bytes:
    """Minimal real PNG encoder for an HxW palette-index raster: IHDR
    (bit depth 8, colour type 3) + PLTE + IDAT (our own zlib/DEFLATE,
    stored or fixed-Huffman-with-LZ77) + IEND, every chunk carrying a
    real CRC-32. ``filters`` rotates per-row predictors to exercise
    None/Sub/Up/Average/Paeth; ``split_idat`` splits the stream across
    two IDAT chunks to exercise reassembly. The decoder below must
    invert all of it bit-exactly."""
    h, w = indices.shape
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 3, 0, 0, 0])  # depth 8, palette, deflate, adaptive, no interlace
    )
    raw = _filter_scanlines(indices, filters or [0])
    z = zlib_wrap(raw, method=method)
    out = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if split_idat and len(z) > 8:
        mid = len(z) // 2
        out += _png_chunk(b"IDAT", z[:mid]) + _png_chunk(b"IDAT", z[mid:])
    else:
        out += _png_chunk(b"IDAT", z)
    return out + _png_chunk(b"IEND", b"")


def _parse_png(b: bytes) -> tuple[int, int, np.ndarray, np.ndarray] | None:
    """Decode an 8-bit palette (colour type 3), non-interlaced PNG to
    (width, height, palette Nx3, indices flat): CRC-verified chunk walk
    → IHDR validation → PLTE → IDAT reassembly → zlib container
    (FCHECK + Adler-32) → complete RFC 1951 inflate (stored +
    fixed-Huffman + dynamic-Huffman) → per-row unfilter. None for
    anything else: foreign magic, CRC/Adler mismatch, truncation,
    grayscale/RGB colour types, interlace, bad filter bytes,
    out-of-palette indices."""
    if len(b) < 8 or b[:8] != PNG_SIG:
        return None
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    seen_end = False
    while pos < len(b):
        if pos + 8 > len(b):
            return None
        ln = int.from_bytes(b[pos : pos + 4], "big")
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + ln > len(b):
            return None
        data = b[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(b[pos + 8 + ln : pos + 12 + ln], "big")
        if _crc32(ctype + data) != crc:
            return None
        pos += 12 + ln
        if ctype == b"IHDR":
            if ihdr is not None or ln != 13:
                return None
            ihdr = data
        elif ctype == b"PLTE":
            if palette is not None or ln % 3 or not ln:
                return None
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_end = True
            break
        # ancillary chunks: skipped (CRC still verified above)
    if not seen_end or ihdr is None or palette is None or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype_v, comp, filt, inter = ihdr[8:13]
    if (depth, ctype_v, comp, filt, inter) != (8, 3, 0, 0, 0):
        return None  # only 8-bit palette, deflate, adaptive, progressive-off
    if not (0 < w and 0 < h):
        return None
    if h * (w + 1) > PNG_MAX_RAW:
        # IHDR dimensions are attacker-controlled: without this cap a
        # KB-sized IDAT of maximal back-references could inflate to
        # h*(w+1) bytes (GBs) before the length check fires
        return None
    raw = zlib_unwrap(bytes(idat), max_out=h * (w + 1))
    if raw is None:
        return None
    idx2 = _unfilter_scanlines(raw, w, h)
    if idx2 is None:
        return None
    idx = idx2.reshape(-1)
    if (idx >= len(palette)).any():
        return None
    return w, h, palette.astype(np.int64), idx


def _png_fixture(d: int) -> bytes:
    """The SAME 64 md5-derived pixel indices as the GIF fixture. Container
    rotates on ``d % 4`` — one variant per DEFLATE block type plus the
    rejection path: 8x8 stored-block PNG with all five filter predictors
    rotating across rows; 4x16 fixed-Huffman PNG (real LZ77
    back-references) with the predictor rotation reversed AND the stream
    split across two IDAT chunks; 8x8 dynamic-Huffman PNG
    (frequency-derived trees, RLE-coded header) with a third predictor
    rotation; and a GIF-magic payload (the NULL-feature path)."""
    raw, idx = _md5_indices(d)
    k = d % 4
    if k == 0:
        return encode_png(idx.reshape(8, 8), method="stored", filters=[0, 1, 2, 3, 4])
    if k == 1:
        return encode_png(idx.reshape(4, 16), method="fixed",
                          filters=[4, 3, 2, 1, 0], split_idat=True)
    if k == 2:
        return encode_png(idx.reshape(8, 8), method="dynamic", filters=[2, 0, 4, 1, 3])
    return b"GIF87a" + raw


# ---------------------------------------------------------------------------
# The codec table and the one Arrow decode envelope every codec runs in.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Codec:
    """One decoder. ``parse`` turns payload bytes into a decoded value, or
    None for a payload it does not handle; ``featurize`` turns that value
    into the columns of ``schema`` between ``doc_id`` and
    ``feature_version``; ``fixture`` builds the crafted payload of one
    doc_id (None: the codec has no fixture)."""

    parse: Callable[[bytes], object]
    featurize: Callable[[object], tuple]
    schema: str
    version: str
    fixture: Callable[[int], bytes] | None = None


_PALETTE_SCHEMA = (
    "doc_id long, format string, width int, height int, n_pixels bigint, "
    "n_colors int, mean_r double, mean_g double, mean_b double, "
    "feature_version string"
)

CODECS: dict[str, Codec] = {
    # every payload parses: the bytes themselves are the decoded value
    "bytes": Codec(
        bytes, _byte_stats,
        "doc_id long, n_bytes long, byte_mean double, byte_min int, byte_max int, "
        "feature_version string",
        "fake-v1",
    ),
    "raster": Codec(
        decode_pixels, _channel_means,
        "doc_id long, format string, width int, height int, n_pixels long, "
        "mean_r double, mean_g double, mean_b double, feature_version string",
        "real-v1", _raster_fixture,
    ),
    "wav": Codec(
        _parse_wav, _amplitude_stats,
        "doc_id long, format string, n_channels int, sample_rate int, "
        "n_frames bigint, n_samples bigint, mean_amp double, rms double, "
        "clip_frac double, feature_version string",
        "audio-v1", _wav_fixture,
    ),
    "gif": Codec(
        _parse_gif, functools.partial(_palette_means, "gif"), _PALETTE_SCHEMA,
        "gif-v1", _gif_fixture,
    ),
    "gif_anim": Codec(
        _parse_gif_frames, _frame_stats,
        "doc_id long, format string, n_frames int, width int, height int, "
        "n_pixels_total bigint, total_cs int, mean_idx double, motion double, "
        "feature_version string",
        "gifanim-v1", _gif_anim_fixture,
    ),
    "png": Codec(
        _parse_png, functools.partial(_palette_means, "png"), _PALETTE_SCHEMA,
        "png-v1", _png_fixture,
    ),
}


def _codec(name: str) -> Codec:
    if name not in CODECS:
        raise ValueError(f"unknown codec {name!r}; expected one of {sorted(CODECS)}")
    return CODECS[name]


def decode_batch(pdf: pd.DataFrame, codec: str) -> pd.DataFrame:
    """Decode one batch of (doc_id, payload): one feature row per payload,
    ``format='unsupported'`` and NULL features where the parser returns
    None. Column names come from the codec's schema."""
    c = _codec(codec)
    names = [field.split()[0] for field in c.schema.split(",")][:-1]
    unsupported = ("unsupported",) + (None,) * (len(names) - 2)
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        parsed = c.parse(bytes(payload) if payload is not None else b"")
        rows.append((doc_id, *(unsupported if parsed is None else c.featurize(parsed))))
    return pd.DataFrame(rows, columns=names).assign(feature_version=c.version)


def decode(df: DataFrame, codec: str) -> DataFrame:
    """Arrow-batched decode/feature extraction over (doc_id, payload) with
    one ``CODECS`` row: map-only, partition-preserving, bounded batch
    memory. Swapping in a PIL/ffmpeg codec is one new table row."""
    schema = _codec(codec).schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_batch(pdf, codec)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(run, schema=schema)


def crafted(df: DataFrame, codec: str) -> DataFrame:
    """(doc_id, payload) with the codec's crafted fixture payload per
    doc_id. Every fixture derives its pixels/samples from md5 digests of
    the id, so the catalog's DuckDB oracle replays the decoded features as
    hex-pair arithmetic: the decoder's output is value-checked, not just
    its row count. Pure map work inside the same Arrow plumbing."""
    fixture = _codec(codec).fixture
    if fixture is None:
        raise ValueError(f"codec {codec!r} has no crafted fixture")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(payload=[fixture(int(d)) for d in pdf["doc_id"]])

    return fan_out(df.select("doc_id")).mapInPandas(build, schema="doc_id long, payload binary")
