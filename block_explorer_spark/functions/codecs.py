"""Real media codecs in pure Python (stdlib + numpy only).

This container has no PIL/pyav, so "real decode" is implemented
directly against the public file-format specifications — which also
makes the executor-side dependency footprint zero:

- **PNG** (RFC 2083 / W3C PNG spec): full decoder for the 8-bit
  non-interlaced color types (greyscale 0, RGB 2, grey+alpha 4,
  RGBA 6) — chunk walk, zlib inflate, all five scanline filters
  (None/Sub/Up/Average/Paeth) — plus a matching encoder used by
  tests to build fixtures.
- **WAV** (RIFF PCM): 8/16/32-bit PCM parse via the stdlib `wave`
  module, returning normalized float samples.
- **Y4M** (YUV4MPEG2, the mjpegtools interchange format): plain-text
  header + uncompressed frames; supports C420*/C422/C444/Cmono.
  Chosen as the video path because it is a real public format that
  needs no entropy decoder — frame *sampling* semantics (the part
  Spark cares about) are identical to what pyav would produce.

When PIL is installed, `block_explorer_spark.operators.multimodal.
real_decode` prefers it for images (import-guarded) and these
decoders remain the fallback. Corrupt/unknown payloads decode to
None — corrupt media is data, not an error, at 100 TB.

reference parity note: the reference engine has no media codecs at
all (binary payloads pass through its storage layer opaquely); this
module is part of the training-data-pipeline surface the build brief
adds on top.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class CodecError(ValueError):
    """Payload does not parse as the claimed format."""


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(payload: bytes) -> np.ndarray:
    """Decode a PNG to a uint8 array of shape (h, w, channels).

    Supports bit depth 8, color types 0/2/4/6, interlace 0 — the
    shapes every encoder in practice emits for data pipelines.
    Raises CodecError on anything else or on corrupt bytes.
    """
    if not payload or not payload.startswith(PNG_SIG):
        raise CodecError("not a PNG (bad signature)")
    pos = len(PNG_SIG)
    width = height = None
    channels = 0
    idat = bytearray()
    try:
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) != length:
                raise CodecError("truncated chunk")
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                width, height, depth, color, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8:
                    raise CodecError(f"unsupported bit depth {depth}")
                if color not in _PNG_CHANNELS:
                    raise CodecError(f"unsupported color type {color}")
                if interlace != 0:
                    raise CodecError("interlaced PNG unsupported")
                channels = _PNG_CHANNELS[color]
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
        if width is None or not idat:
            raise CodecError("missing IHDR/IDAT")
        raw = zlib.decompress(bytes(idat))
    except (struct.error, zlib.error) as e:
        raise CodecError(str(e)) from e

    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise CodecError("scanline data size mismatch")

    # Unfilter scanline by scanline (spec §6). Per-row numpy would
    # still be sequential in the Sub/Paeth carry, so plain bytearrays
    # keep it simple; images on the feature path are thumbnails.
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                upleft = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], upleft)) & 0xFF
        elif ftype != 0:
            raise CodecError(f"bad filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(height, width, channels)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode a uint8 (h, w) or (h, w, channels) array as a PNG
    (filter 0 rows, one zlib stream) — the fixture generator for
    tests and a legitimate minimal encoder."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _block_mean(px: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Deterministic area-mean downsample of a 2-D array to
    (rows, cols): output cell (r, c) = mean of the input block
    [floor(r*h/rows), floor((r+1)*h/rows)) x [floor(c*w/cols), ...).
    Identity when the input is already (rows, cols)."""
    h, w = px.shape
    rb = (np.arange(rows + 1) * h) // rows
    cb = (np.arange(cols + 1) * w) // cols
    out = np.empty((rows, cols), dtype=np.float64)
    for r in range(rows):
        for c in range(cols):
            out[r, c] = px[rb[r] : rb[r + 1], cb[c] : cb[c + 1]].mean()
    return out


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (the public dHash recipe: Krawetz,
    "Kind of Like That", 2013): grayscale -> area-mean resize to
    8 rows x 9 cols -> bit (r*8 + c) = px[r, c] > px[r, c+1].

    Fully deterministic (no filter kernels, integer block bounds), so
    a SQL oracle can recompute it from the same pixel values. Returns
    a SIGNED 64-bit value (bit 63 wraps negative) — the layout
    simhash/hamming blocking already uses."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 3:
        px = px.mean(axis=2)
    px = _block_mean(px, 8, 9)
    bits = (px[:, :-1] > px[:, 1:]).ravel()  # row-major: bit k = r*8+c
    val = 0
    for k in np.nonzero(bits)[0]:
        val |= 1 << int(k)
    return val - (1 << 64) if val >= (1 << 63) else val


# ---------------------------------------------------------------------------
# WAV (RIFF PCM)
# ---------------------------------------------------------------------------


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode PCM WAV bytes -> (float32 samples in [-1, 1] with shape
    (n_frames, n_channels), sample_rate). Raises CodecError on
    non-PCM / corrupt input."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            n = wf.getnframes()
            width = wf.getsampwidth()
            channels = wf.getnchannels()
            rate = wf.getframerate()
            frames = wf.readframes(n)
    except (wave.Error, EOFError, struct.error) as e:
        raise CodecError(str(e)) from e
    if width == 1:  # 8-bit PCM is unsigned
        samples = np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
        samples = (samples - 128.0) / 128.0
    elif width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        samples = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise CodecError(f"unsupported sample width {width}")
    return samples.reshape(-1, channels), rate


def wav_encode(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode float samples in [-1, 1] (1-D mono or (n, ch)) as
    16-bit PCM WAV — the test-fixture generator."""
    arr = np.asarray(samples, dtype=np.float32)
    if arr.ndim == 1:
        arr = arr[:, None]
    pcm = (arr.clip(-1.0, 1.0) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(arr.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


#: audio_fingerprint64 frame layout: 16 frames x 4 bands = 64 bits
#: over the first FP_SAMPLES mono PCM samples (zero-padded).
FP_SAMPLES = 128
_FP_FRAMES = 16
_FP_BANDS = 4
_FP_FRAME_LEN = FP_SAMPLES // _FP_FRAMES


def audio_fingerprint64(samples: np.ndarray, rate: int | None = None) -> int:
    """64-bit perceptual audio fingerprint — chromaprint-SHAPED
    (windowed band energies, sign of the temporal energy delta;
    Chromaprint/AcoustID's public recipe), reduced to an
    oracle-replicable integer form the way dhash64 reduces pHash:

      - mono-mix, requantize to the int16 PCM grid (round(s*32768) —
        the exact inverse of wav_decode's /32768, so a WAV roundtrip
        is bit-stable), take the first FP_SAMPLES samples zero-padded;
      - 4 "bands" = finite-difference orders 0..3 of the PCM signal
        (closed form, integer) — a DFT-free proxy for low->high
        frequency content;
      - 16 frames of 8 samples; E[f, b] = sum of d_b(i)^2 over the
        frame (pure int64 arithmetic — no float summation order to
        disagree with a SQL oracle about);
      - bit (f*4 + b) = E[f, b] > E[(f-1) mod 16, b] (the sign-of-
        delta rule; the wrap keeps all 64 bits defined).

    Returns a SIGNED 64-bit value (bit 63 wraps negative), the
    simhash/dhash hamming-blocking layout."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    pcm = np.round(x * 32768.0).astype(np.int64)
    if pcm.shape[0] < FP_SAMPLES:
        pcm = np.pad(pcm, (0, FP_SAMPLES - pcm.shape[0]))
    pcm = pcm[:FP_SAMPLES]
    # difference orders 0..3, zero where the window lacks history
    coef = [[1], [1, -1], [1, -2, 1], [1, -3, 3, -1]]
    energies = np.zeros((_FP_FRAMES, _FP_BANDS), dtype=np.int64)
    for b in range(_FP_BANDS):
        d = np.zeros(FP_SAMPLES, dtype=np.int64)
        for j, c in enumerate(coef[b]):
            d[b:] += c * pcm[b - j : FP_SAMPLES - j]
        d[:b] = 0
        sq = d * d
        energies[:, b] = sq.reshape(_FP_FRAMES, _FP_FRAME_LEN).sum(axis=1)
    val = 0
    for f in range(_FP_FRAMES):
        prev = (f - 1) % _FP_FRAMES
        for b in range(_FP_BANDS):
            if energies[f, b] > energies[prev, b]:
                val |= 1 << (f * _FP_BANDS + b)
    return val - (1 << 64) if val >= (1 << 63) else val


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) video
# ---------------------------------------------------------------------------

_Y4M_MAGIC = b"YUV4MPEG2"


def _y4m_frame_bytes(w: int, h: int, colorspace: str) -> int:
    if colorspace.startswith("C420") or colorspace == "":
        return w * h * 3 // 2
    if colorspace.startswith("C422"):
        return w * h * 2
    if colorspace.startswith("C444"):
        return w * h * 3
    if colorspace.startswith("Cmono"):
        return w * h
    raise CodecError(f"unsupported colorspace {colorspace}")


def y4m_parse(payload: bytes) -> tuple[int, int, str, list[bytes]]:
    """Parse an uncompressed Y4M stream -> (w, h, colorspace, frames);
    each frame is raw planar bytes (Y plane first). Raises CodecError
    on corrupt input."""
    if not payload or not payload.startswith(_Y4M_MAGIC):
        raise CodecError("not a YUV4MPEG2 stream")
    nl = payload.find(b"\n")
    if nl < 0:
        raise CodecError("missing stream header terminator")
    w = h = None
    colorspace = ""
    for tok in payload[len(_Y4M_MAGIC) : nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C"):
            colorspace = t
    if not w or not h:
        raise CodecError("missing W/H in stream header")
    fsize = _y4m_frame_bytes(w, h, colorspace)
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            raise CodecError("bad FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + fsize > len(payload):
            raise CodecError("truncated frame")
        frames.append(payload[fnl + 1 : fnl + 1 + fsize])
        pos = fnl + 1 + fsize
    return w, h, colorspace, frames


def y4m_encode(frames: list[np.ndarray], colorspace: str = "C420jpeg") -> bytes:
    """Encode uint8 luma frames (each (h, w)) as Y4M with flat 128
    chroma — the fixture generator."""
    arr0 = np.asarray(frames[0], dtype=np.uint8)
    h, w = arr0.shape
    chroma = b"\x80" * (_y4m_frame_bytes(w, h, colorspace) - w * h)
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 {colorspace}\n".encode()
    body = b"".join(
        b"FRAME\n" + np.asarray(fr, dtype=np.uint8).tobytes() + chroma for fr in frames
    )
    return head + body


# ---------------------------------------------------------------------------
# Format sniffing + feature extraction
# ---------------------------------------------------------------------------


def sniff(payload: bytes) -> str | None:
    """Best-effort container detection: 'png' | 'wav' | 'y4m' | None."""
    if not payload:
        return None
    if payload.startswith(PNG_SIG):
        return "png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload.startswith(_Y4M_MAGIC):
        return "y4m"
    return None


#: Decoded-footprint multiplier for payloads whose container we can't
#: read a header from: compressed media commonly inflates 10-100x on
#: decode; 32x is the conservative midpoint (overestimating only
#: makes batches smaller, never unsafe).
_UNKNOWN_BLOWUP = 32


def decoded_size_estimate(payload: bytes) -> int:
    """Estimated DECODED in-memory footprint of a media payload, from
    the container header alone (no decode). Used by the multimodal
    operators to bound mapInPandas batch memory by bytes, not rows —
    row-count batching lets a handful of large blobs multiply past the
    executor heap (the round-9 sf1 q99/q100 OOM class).

    PNG: width*height from IHDR (bytes 16-24) x 8B working floats x2
    for filter scratch. WAV: PCM data inflates to float64 (x4 over
    16-bit) plus a working copy. Y4M: already raw; x2 for the frame
    list copy. Unknown containers: len * _UNKNOWN_BLOWUP.
    """
    if not payload:
        return 1
    kind = sniff(payload)
    if kind == "png" and len(payload) >= 24:
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        return max(len(payload), w * h * 16)
    if kind == "wav":
        return len(payload) * 8
    if kind == "y4m":
        return len(payload) * 2
    return len(payload) * _UNKNOWN_BLOWUP


def _bucket_means(values: np.ndarray, n: int) -> list[float]:
    """n contiguous-chunk means of a 1-D array (deterministic pooling
    — the fixed-size featurization used across modalities)."""
    v = np.asarray(values, dtype=np.float64).ravel()
    if v.size == 0:
        return [0.0] * n
    if v.size < n:  # fewer samples than buckets: nearest-neighbor upsample
        idx = (np.arange(n) * v.size // n).clip(0, v.size - 1)
        return [float(x) for x in v[idx]]
    return [float(c.mean()) for c in np.array_split(v, n)]


def image_features(payload: bytes, n_features: int = 8) -> list[float]:
    """PNG -> grayscale mean-pool to n_features floats in [0, 1]."""
    img = png_decode(payload).astype(np.float64)
    gray = img[..., :3].mean(axis=2) if img.shape[2] >= 3 else img[..., 0]
    return [x / 255.0 for x in _bucket_means(gray, n_features)]


def audio_features(payload: bytes, n_features: int = 8) -> list[float]:
    """WAV -> per-window RMS energy, n_features floats in [0, 1]."""
    samples, _ = wav_decode(payload)
    mono = samples.mean(axis=1)
    return [
        float(np.sqrt(np.mean(np.square(c)))) if c.size else 0.0
        for c in np.array_split(mono, n_features)
    ]


def video_features(payload: bytes, n_features: int = 8) -> list[float]:
    """Y4M -> per-frame luma means, pooled to n_features floats."""
    w, h, _, frames = y4m_parse(payload)
    if not frames:
        raise CodecError("empty stream")
    luma_means = np.array(
        [np.frombuffer(fr[: w * h], dtype=np.uint8).mean() for fr in frames]
    )
    return [x / 255.0 for x in _bucket_means(luma_means, n_features)]
