"""Multimodal column plumbing: image/audio/video as opaque binary.

North-star surface (build brief): binary payload columns with typed
metadata, plus decode / feature-extract / resize / frame-sample stages
as Arrow-batched pandas UDFs over ``mapInPandas``.

Decode is REAL for every format a pure numpy + stdlib parser can
handle — BMP (uncompressed 24/32-bit), PPM (P6/P3), and PNG (DEFLATE
via stdlib ``zlib`` + numpy scanline unfiltering — a genuine
compressed-bitstream codec) to full pixel arrays; PNG/JPEG/GIF to
header metadata; WAV (PCM 8/16-bit) to full sample arrays. The
remaining compressed formats (JPEG DCT, GIF LZW, MP3/FLAC) need codec
libraries absent from this container — that boundary is DECLARED
FINAL (README "Multimodal codec boundary"); their payloads raise
``NotImplementedError`` naming the policy. The md5-seeded
deterministic fake decoder remains for the synthetic text-payload
fixtures (``fake=True``), so the distributed plumbing stays
benchmarkable on data that isn't really images.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, format string, width int, height int"
)


def binarize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Turn a text column into an opaque binary payload column — the
    shape of an image/audio ingest table: (id, payload binary,
    n_bytes, checksum)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def _image_header(data: bytes) -> tuple[str, int, int] | None:
    """Sniff magic bytes and parse (format, width, height) from the
    container header alone — pure byte arithmetic, no codec."""
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack_from("<ii", data, 18)
        return "bmp", w, abs(h)  # negative height = top-down DIB
    if data[:2] in (b"P6", b"P3"):
        try:
            w, h, _ = _ppm_header(data)[:3]
            return "ppm", w, h
        except ValueError:
            return None
    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = struct.unpack_from(">II", data, 16)  # IHDR is first
        return "png", w, h
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack_from("<HH", data, 6)
        return "gif", w, h
    if data[:2] == b"\xff\xd8":
        # scan JPEG markers for the first SOFn frame header
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                return None
            # the spec allows any number of 0xFF fill bytes before a
            # marker byte; standalone markers (RSTn, SOI, EOI, TEM)
            # carry no length segment
            j = i
            while j + 1 < len(data) and data[j + 1] == 0xFF:
                j += 1
            if j + 9 >= len(data):
                return None
            marker = data[j + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", data, j + 5)
                return "jpeg", w, h
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i = j + 2  # standalone marker, no length
            else:
                i = j + 2 + struct.unpack_from(">H", data, j + 2)[0]
        return None
    return None


def _ppm_header(data: bytes) -> tuple[int, int, int, int, bytes]:
    """Parse a PPM header → (width, height, maxval, pixel_offset, magic).
    Handles whitespace/comment runs per the netpbm spec."""
    magic = data[:2]
    pos = 2
    vals: list[int] = []
    while len(vals) < 3 and pos < len(data):
        c = data[pos: pos + 1]
        if c == b"#":  # comment to end of line
            while pos < len(data) and data[pos] not in b"\r\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(data) and data[pos: pos + 1].isdigit():
                pos += 1
            vals.append(int(data[start:pos]))
        else:
            raise ValueError("bad PPM header")
    if len(vals) < 3:
        raise ValueError("truncated PPM header")
    pos += 1  # single whitespace after maxval, then raster
    return vals[0], vals[1], vals[2], pos, magic


def decode_image(data: bytes, fake: bool = False) -> tuple[str, int, int]:
    """Decode an image payload → (format, width, height).

    REAL for BMP/PPM/PNG/GIF/JPEG via pure header parsing (magic bytes
    + fixed-offset or marker-scan dimensions — no codec library).
    ``fake=True`` switches to the md5-seeded deterministic decoder for
    the synthetic text-payload fixtures, which aren't real images.
    """
    if fake:
        d = hashlib.md5(data).digest()
        fmt = ("png", "jpeg", "webp")[d[0] % 3]
        width = 64 + (int.from_bytes(d[1:3], "big") % 1024)
        height = 64 + (int.from_bytes(d[3:5], "big") % 1024)
        return fmt, width, height
    meta = _image_header(data)
    if meta is None:
        raise NotImplementedError(
            "unrecognized image container (BMP/PPM/PNG/GIF/JPEG headers "
            "supported without codec libraries)"
        )
    return meta


def _png_unfilter(raw: np.ndarray, h: int, w: int, nch: int) -> np.ndarray:
    """Undo PNG scanline filtering (spec §6: None/Sub/Up/Average/Paeth).
    Each scanline is 1 filter byte + w*nch sample bytes; Sub/Average/
    Paeth reference the RECONSTRUCTED left neighbor, so those rows
    decode with a per-pixel walk — bounded per payload (decode runs
    inside an Arrow batch on one executor; images, not tables)."""
    stride = w * nch + 1
    out = np.zeros((h, w * nch), np.uint8)
    prev = np.zeros(w * nch, np.uint16)
    for y in range(h):
        ftype = raw[y * stride]
        line = raw[y * stride + 1: (y + 1) * stride].astype(np.uint16)
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: + recon left — per-lane cumsum mod 256
            rec = np.cumsum(
                line.reshape(-1, nch).astype(np.uint32), axis=0
            ).reshape(-1) % 256
        elif ftype == 2:  # Up
            rec = (line + prev) % 256
        elif ftype in (3, 4):  # Average / Paeth: left-recursive
            rec = np.zeros_like(line)
            for x in range(len(line)):
                a = rec[x - nch] if x >= nch else 0
                b = prev[x]
                if ftype == 3:
                    rec[x] = (line[x] + (a + b) // 2) % 256
                else:
                    c = prev[x - nch] if x >= nch else 0
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                    rec[x] = (line[x] + pr) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def decode_png_pixels(data: bytes) -> np.ndarray:
    """REAL compressed-bitstream decode: PNG → uint8 (h, w, 3).

    The one compressed codec expressible with the container's stdlib —
    DEFLATE is ``zlib`` and unfiltering is numpy — so no codec-library
    boundary applies. Supports the non-interlaced 8-bit-depth color
    types (0 gray, 2 RGB, 4 gray+alpha, 6 RGBA; alpha dropped, gray
    replicated to RGB). Interlaced (Adam7) and 16-bit payloads raise
    NotImplementedError under the declared codec policy (README
    "Multimodal codec boundary")."""
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        ln = struct.unpack_from(">I", data, pos)[0]
        typ = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if interlace:
        raise NotImplementedError(
            "Adam7-interlaced PNG not supported (codec policy: README"
            " 'Multimodal codec boundary')"
        )
    if depth != 8 or ctype not in (0, 2, 4, 6) or comp or filt:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {ctype} not supported"
            " (codec policy: README 'Multimodal codec boundary')"
        )
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(raw) != h * (w * nch + 1):
        raise ValueError("PNG raster size mismatch")
    px = _png_unfilter(raw, h, w, nch).reshape(h, w, nch)
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]


def encode_png(px: np.ndarray) -> bytes:
    """Serialize an RGB pixel array as an 8-bit non-interlaced PNG
    (filter 0 scanlines, one zlib IDAT) — the round-trip source for
    the compressed-codec decode path."""
    import zlib

    h, w = px.shape[:2]
    raster = np.zeros((h, w * 3 + 1), np.uint8)
    raster[:, 1:] = px[:, :, :3].reshape(h, w * 3)

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raster.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def decode_image_pixels(data: bytes) -> np.ndarray:
    """Full pixel decode → uint8 array of shape (height, width, 3).

    REAL for BMP (24/32-bit BI_RGB, including bottom-up row order and
    4-byte row padding), PPM (P6 binary and P3 ascii), and PNG —
    DEFLATE via stdlib zlib + numpy unfiltering, no codec library
    (``decode_png_pixels``). The remaining compressed bitstreams
    (JPEG DCT, GIF LZW) fall under the declared codec policy (README
    "Multimodal codec boundary") and raise NotImplementedError.
    """
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(data)
    if data[:2] == b"BM":
        off = struct.unpack_from("<I", data, 10)[0]
        w, h = struct.unpack_from("<ii", data, 18)
        bpp = struct.unpack_from("<H", data, 28)[0]
        comp = struct.unpack_from("<I", data, 30)[0]
        if comp != 0 or bpp not in (24, 32):
            raise NotImplementedError(
                f"only uncompressed 24/32-bit BMP supported (bpp={bpp},"
                f" compression={comp})"
            )
        top_down, h = h < 0, abs(h)
        nch = bpp // 8
        stride = (w * nch + 3) & ~3  # rows pad to 4 bytes
        raw = np.frombuffer(data, np.uint8, stride * h, off)
        px = raw.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
        if not top_down:
            px = px[::-1]
        return px[:, :, 2::-1]  # BGR(A) storage → RGB
    if data[:2] in (b"P6", b"P3"):
        w, h, maxval, off, magic = _ppm_header(data)
        if maxval > 255:
            raise NotImplementedError("16-bit PPM not supported")
        if magic == b"P6":
            px = np.frombuffer(data, np.uint8, w * h * 3, off)
        else:
            px = np.array(data[off - 1:].split(), np.uint8)[: w * h * 3]
        return px.reshape(h, w, 3)
    raise NotImplementedError(
        "pixel decode supports BMP, PPM, and PNG payloads; JPEG/GIF"
        " pixels need codec libraries absent from this container"
        " (declared final: README 'Multimodal codec boundary')"
    )


def resize_pixels(px: np.ndarray, max_side: int) -> np.ndarray:
    """Aspect-preserving nearest-neighbor downscale of the longer side
    to ``max_side`` (no-op when already small enough) — vectorized
    index-gather, the numpy analog of a codec resample."""
    h, w = px.shape[:2]
    scale = min(1.0, max_side / max(h, w))
    if scale >= 1.0:
        return px
    # clamp to >= 1: a degenerate strip (1xN) must not round to zero
    # rows/cols and divide by zero
    nh, nw = max(1, int(h * scale)), max(1, int(w * scale))
    rows = (np.arange(nh) * (h / nh)).astype(np.int64)
    cols = (np.arange(nw) * (w / nw)).astype(np.int64)
    return px[rows][:, cols]


def encode_ppm(px: np.ndarray) -> bytes:
    """Serialize an RGB pixel array as binary PPM (P6) — the round-trip
    target for the real resize stage."""
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px[:, :, :3].astype(np.uint8).tobytes()


def encode_bmp(px: np.ndarray) -> bytes:
    """Serialize an RGB pixel array as an uncompressed 24-bit BMP
    (BI_RGB, bottom-up row order, rows padded to 4 bytes — the layout
    ``decode_image_pixels`` must undo). Pure struct + numpy."""
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), np.uint8)
    # RGB → BGR storage, bottom-up
    raster[:, : w * 3] = px[::-1, :, 2::-1].reshape(h, w * 3)
    body = raster.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Serialize a (frames, channels) sample array as PCM 16-bit WAV.
    Float inputs in [-1, 1] quantize half-up (floor(x*32767 + 0.5)) so
    an external oracle can state the stored int exactly; int16 inputs
    pass through."""
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    channels = samples.shape[1]
    if samples.dtype != np.int16:
        # clip BEFORE the cast: an out-of-range float (un-normalized
        # gain) must saturate like every real PCM encoder, not wrap a
        # loud positive peak into a large negative sample
        samples = np.clip(
            np.floor(samples.astype(np.float64) * 32767 + 0.5),
            -32768,
            32767,
        ).astype(np.int16)
    data = samples.tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, rate,
        rate * block_align, block_align, 16,
    )
    hdr = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def extract_image_meta(binary_df: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature-extraction stage: per-partition Arrow batches
    in, one metadata row per payload out. This is the pattern a real
    decode/resize/frame-sample stage uses — swap the stub for a codec
    call and the distributed shape is unchanged."""

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            metas = [decode_image(b, fake=fake) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "format": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                }
            )

    return binary_df.mapInPandas(_extract, schema=IMAGE_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, codec string, sample_rate int,"
    " channels int, duration_ms int, n_samples bigint"
)


def _wav_chunks(data: bytes) -> dict[bytes, tuple[int, int]]:
    """Walk RIFF/WAVE chunks → {chunk_id: (offset, size)} for the first
    occurrence of each (chunks pad to even byte boundaries)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    out: dict[bytes, tuple[int, int]] = {}
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos: pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        if pos + 8 + size > len(data):
            raise ValueError(
                f"WAV chunk {cid!r} overruns payload "
                f"({pos + 8}+{size} > {len(data)})"
            )
        out.setdefault(cid, (pos + 8, size))
        pos += 8 + size + (size & 1)
    if b"fmt " in out and out[b"fmt "][1] < 16:
        raise ValueError("WAV fmt chunk shorter than 16 bytes")
    return out


def decode_audio(data: bytes, fake: bool = False) -> tuple[str, int, int, int]:
    """Decode an audio payload → (codec, sample_rate, channels,
    duration_ms).

    REAL for WAV: RIFF chunk walk + fmt/data parse, pure struct
    arithmetic. Compressed codecs (mp3/flac) need libraries absent from
    this container and raise NotImplementedError. ``fake=True`` keeps
    the md5-seeded deterministic decoder for synthetic payloads."""
    if fake:
        d = hashlib.md5(data).digest()
        codec = ("wav", "mp3", "flac")[d[0] % 3]
        sample_rate = (8000, 16000, 22050, 44100, 48000)[d[1] % 5]
        channels = 1 + d[2] % 2
        duration_ms = 500 + int.from_bytes(d[3:5], "big") % 60000
        return codec, sample_rate, channels, duration_ms
    if data[:4] != b"RIFF":
        raise NotImplementedError(
            "unrecognized audio container (WAV supported without codec "
            "libraries)"
        )
    chunks = _wav_chunks(data)
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("WAV missing fmt/data chunks")
    off, _ = chunks[b"fmt "]
    _, channels, sample_rate, _, block_align, _ = struct.unpack_from(
        "<HHIIHH", data, off
    )
    if sample_rate <= 0:
        raise ValueError("WAV declares non-positive sample rate")
    _, dsize = chunks[b"data"]
    n_frames = dsize // block_align if block_align else 0
    return "wav", sample_rate, channels, n_frames * 1000 // sample_rate


def wav_frame_count(data: bytes) -> int:
    """Exact PCM frame count of a WAV payload (data bytes / frame
    stride). The metadata stage needs this DIRECTLY: reconstructing it
    as duration_ms * rate // 1000 double-truncates (duration_ms is
    already floored) and undercounts — 100 frames @ 44100 Hz would
    report 88."""
    chunks = _wav_chunks(data)
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("WAV missing fmt/data chunks")
    off, _ = chunks[b"fmt "]
    _, _, _, _, block_align, _ = struct.unpack_from("<HHIIHH", data, off)
    _, dsize = chunks[b"data"]
    return dsize // block_align if block_align else 0


def decode_audio_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Full sample decode → (float32 array of shape (frames, channels)
    scaled to [-1, 1], sample_rate). REAL for PCM 8/16-bit WAV."""
    chunks = _wav_chunks(data)
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("WAV missing fmt/data chunks")
    off, _ = chunks[b"fmt "]
    fmt_tag, channels, sample_rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", data, off
    )
    if fmt_tag != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only PCM 8/16-bit WAV supported (fmt={fmt_tag}, bits={bits})"
        )
    doff, dsize = chunks[b"data"]
    if bits == 16:
        raw = np.frombuffer(data, "<i2", dsize // 2, doff)
        samples = raw.astype(np.float32) / 32768.0
    else:  # 8-bit WAV is unsigned, midpoint 128
        raw = np.frombuffer(data, np.uint8, dsize, doff)
        samples = (raw.astype(np.float32) - 128.0) / 128.0
    return samples.reshape(-1, channels), sample_rate


def extract_audio_meta(binary_df: DataFrame, fake: bool = True) -> DataFrame:
    """Audio feature-extraction stage over the same mapInPandas plumbing
    as ``extract_image_meta``; adds the derived sample count (the number
    a training pipeline budgets audio-token counts from)."""

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            metas = [decode_audio(b, fake=fake) for b in pdf["payload"]]
            duration = [m[3] for m in metas]
            rate = [m[1] for m in metas]
            # fake payloads only HAVE a duration (derive samples from
            # it, matching the oracle's closed form); real WAVs count
            # frames exactly — duration_ms*rate//1000 double-truncates
            n_samples = (
                [dm * r // 1000 for dm, r in zip(duration, rate)]
                if fake
                else [wav_frame_count(b) for b in pdf["payload"]]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "codec": [m[0] for m in metas],
                    "sample_rate": rate,
                    "channels": [m[2] for m in metas],
                    "duration_ms": duration,
                    "n_samples": n_samples,
                }
            )

    return binary_df.mapInPandas(_extract, schema=AUDIO_META_SCHEMA)


RESIZED_PAYLOAD_SCHEMA = (
    "doc_id bigint, payload binary, format string, width int, height int"
)


def resize_payloads(binary_df: DataFrame, max_side: int = 256) -> DataFrame:
    """REAL resize stage: decode pixels (BMP/PPM), nearest-neighbor
    downscale, re-encode as PPM — full payload→payload transform over
    the same Arrow-batched mapInPandas plumbing as the metadata stages.
    This is the exact distributed shape a libvips/Pillow resize uses;
    only the per-payload codec call differs."""

    def _resize(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "payload": [], "format": [],
                "width": [], "height": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = resize_pixels(decode_image_pixels(bytes(payload)), max_side)
                out["doc_id"].append(doc_id)
                out["payload"].append(encode_ppm(px))
                out["format"].append("ppm")
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(_resize, schema=RESIZED_PAYLOAD_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_ts double, frame_checksum string"


def sample_frames(binary_df: DataFrame, max_frames: int = 4) -> DataFrame:
    """Frame-sampling stage for video payloads: one input row fans out
    to up to ``max_frames`` evenly-spaced frame rows (the 1→N batch
    shape that distinguishes this stage from per-row decode). Duration
    and frame checksums are deterministic digest fakes; a real decoder
    swaps in container demux + keyframe seek with the same schema."""

    def _sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_ts": [], "frame_checksum": []
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                d = hashlib.md5(data).digest()
                duration = 1 + d[5] % 60  # fake seconds
                n = min(max_frames, duration)
                for i in range(n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_ts"].append(round(i * duration / n, 6))
                    rows["frame_checksum"].append(
                        hashlib.md5(data + b"#%d" % i).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(_sample, schema=FRAME_SCHEMA)


PIXEL_EMBED_SCHEMA = (
    "doc_id bigint, sum_px bigint, sumsq_px bigint, row_mom bigint, "
    "col_mom bigint, min_px int, max_px int, center_px int"
)


def embed_image_pixels(binary_df: DataFrame) -> DataFrame:
    """REAL feature-extraction stage: full pixel decode → 7 integer
    pixel moments per image (sum, sum-of-squares, row/col first
    moments, min/max, center tap). This is the multimodal→vector
    bridge run on real bytes — the moments ARE a (unnormalized)
    embedding; ``pixel_embedding_expr`` turns them into the
    array<double> the ANN operators consume, as a pure Catalyst
    projection (no second Python pass over the payloads).

    Every feature is an exact integer, so the closed-form oracle for
    the synthesized corpus has zero float drift, and the driver's
    pandas canonicalization sees matching int64 columns on both sides
    (the r5 lesson: no array-typed or dtype-ambiguous column in an
    oracle-graded output). numpy accumulations run in int64 — a
    uint8 overflow would corrupt sumsq at ~64px images."""

    def _embed(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_image_pixels(bytes(b)).astype(np.int64)
                h, w = px.shape[:2]
                rows.append((
                    int(d),
                    int(px.sum()),
                    int((px * px).sum()),
                    int((px.sum(axis=(1, 2)) * np.arange(h)).sum()),
                    int((px.sum(axis=(0, 2)) * np.arange(w)).sum()),
                    int(px.min()),
                    int(px.max()),
                    int(px[(h - 1) // 2, (w - 1) // 2, 0]),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sum_px", "sumsq_px", "row_mom", "col_mom",
                    "min_px", "max_px", "center_px",
                ],
            )

    return binary_df.mapInPandas(_embed, schema=PIXEL_EMBED_SCHEMA)


def pixel_embedding_expr():
    """array<double> embedding from the integer pixel moments —
    Catalyst-only normalization (each moment scaled to a comparable
    magnitude) so the ANN/near-dup/clustering operators can consume
    ``embed_image_pixels`` output without another Python stage."""
    from pyspark.sql import functions as F

    return F.array(
        F.col("sum_px") / (F.col("sumsq_px") + F.lit(1.0)),
        F.col("row_mom") / (F.col("sum_px") + F.lit(1.0)),
        F.col("col_mom") / (F.col("sum_px") + F.lit(1.0)),
        F.col("min_px") / F.lit(255.0),
        F.col("max_px") / F.lit(255.0),
        F.col("center_px") / F.lit(255.0),
        (F.col("max_px") - F.col("min_px")) / F.lit(255.0),
        F.col("sum_px") / (F.lit(1.0) + F.col("max_px")),
    ).cast("array<double>")


# ---------------------------------------------------------------------------
# Deterministic synthetic media corpus + REAL-decode statistics.
#
# These two pairs of stages exist so the REAL codecs (encode_bmp →
# decode_image_pixels, encode_wav → decode_audio_samples) can be graded
# by an external SQL oracle: every payload's dimensions, pixel values,
# and sample values are closed-form functions of its id, so DuckDB can
# state the decoded result without ever touching a byte of the payload.
# Any stride/padding/row-order/scale bug in the decoders breaks the
# pixel-sum / sample equality, not just the header fields.

SYNTH_IMAGE_SCHEMA = "doc_id bigint, n_bytes bigint, payload binary"


def synthesize_image_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    formats: tuple[str, ...] = ("bmp", "ppm", "png"),
) -> DataFrame:
    """One real image per input id, rotating through ``formats`` by
    d % len(formats) — the default covers all three real codecs
    including PNG, the compressed DEFLATE path, so a decode query
    proves every container format. Closed forms (d = doc_id): width =
    4 + d % 13, height = 3 + d % 11, pixel(r, c) = all three channels
    = (d % 200) + r + c  (max 199 + 10 + 15 < 256 — never wraps, so
    pixel sums stay polynomial in d regardless of codec). Pass
    ``formats=("bmp",)`` when the oracle must state n_bytes in closed
    form — a zlib-compressed PNG's size is deterministic but not
    SQL-expressible."""

    def _gen(batches: Iterator) -> Iterator:
        import pandas as pd

        all_enc = {"bmp": encode_bmp, "ppm": encode_ppm, "png": encode_png}
        encoders = tuple(all_enc[f] for f in formats)
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                w, h = 4 + d % 13, 3 + d % 11
                r = np.arange(h).reshape(h, 1, 1)
                c = np.arange(w).reshape(1, w, 1)
                px = np.broadcast_to(
                    (d % 200 + r + c).astype(np.uint8), (h, w, 3)
                )
                payloads.append(
                    encoders[d % len(encoders)](np.ascontiguousarray(px))
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "payload": payloads,
                }
            )

    return df.select(id_col).mapInPandas(_gen, schema=SYNTH_IMAGE_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "doc_id bigint, format string, width int, height int, sum_px bigint"
)


def image_pixel_stats(binary_df: DataFrame) -> DataFrame:
    """REAL decode of every payload (header + full pixel raster —
    ``fake`` has no say here) → per-image pixel-sum statistics. sum_px
    is the value an oracle can compute in closed form for the
    synthesized corpus; it is wrong unless stride padding, bottom-up
    row order and BGR→RGB swizzle are all undone correctly."""

    def _stats(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(b)
                fmt, w, h = decode_image(data)
                px = decode_image_pixels(data)
                rows.append(
                    (int(d), fmt, w, h, int(px.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "format", "width", "height", "sum_px"],
            )

    return binary_df.mapInPandas(_stats, schema=IMAGE_STATS_SCHEMA)


SYNTH_AUDIO_SCHEMA = "doc_id bigint, n_bytes bigint, payload binary"
_WAV_RATES = (8000, 16000, 22050, 44100)


def synthesize_audio_corpus(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One real PCM-16 WAV per input id. Closed forms (d = doc_id):
    rate = _WAV_RATES[d % 4], channels = 1 + d % 2, frames =
    100 + d % 50, every sample = floor((d % 64)/64 · 32767 + 0.5)."""

    def _gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                rate = _WAV_RATES[d % 4]
                channels = 1 + d % 2
                frames = 100 + d % 50
                amp = (d % 64) / 64.0
                samples = np.full((frames, channels), amp, np.float64)
                payloads.append(encode_wav(samples, rate))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "payload": payloads,
                }
            )

    return df.select(id_col).mapInPandas(_gen, schema=SYNTH_AUDIO_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "doc_id bigint, codec string, sample_rate int, channels int,"
    " duration_ms int, n_frames bigint, first_amp_q int"
)


def audio_sample_stats(binary_df: DataFrame) -> DataFrame:
    """REAL decode of every payload (RIFF chunk walk + full PCM sample
    read). first_amp_q re-quantizes the first decoded float sample back
    to its stored int16 — equality with the oracle's closed form proves
    the byte→float scale path, not just the header fields."""

    def _stats(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(b)
                codec, rate, channels, duration_ms = decode_audio(data)
                samples, _ = decode_audio_samples(data)
                rows.append(
                    (
                        int(d), codec, rate, channels, duration_ms,
                        samples.shape[0],
                        int(round(float(samples[0, 0]) * 32768.0)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "sample_rate", "channels",
                    "duration_ms", "n_frames", "first_amp_q",
                ],
            )

    return binary_df.mapInPandas(_stats, schema=AUDIO_STATS_SCHEMA)
