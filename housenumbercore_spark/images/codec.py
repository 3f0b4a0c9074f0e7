"""Pure-python image codecs + perceptual hash + PSNR (numpy + stdlib zlib).

No image library exists in this environment (PIL/opencv absent), so the
engine carries its own codecs for the mandatory image+caption payload
(BASELINE.json input_hint: bytes/w/h/fmt/caption/phash with a per-row
decoded-pixel PSNR ≥ 40 dB invariant):

- ``png``  — a real, spec-conformant PNG subset: 8-bit RGB (color type 2),
  non-interlaced; encoder emits filter 0, decoder implements all five
  standard filters (None/Sub/Up/Average/Paeth). Lossless → PSNR = ∞.
- ``jpgq`` — a *deterministic lossy stand-in for JPEG* (no DCT codec libs
  available): uniform quantization of RGB samples to steps of Q=4 with
  midpoint reconstruction, zlib-compressed. Max per-sample error Q/2 → PSNR
  ≥ 20·log10(255/(Q/√12)) ≈ 46.8 dB ≥ 40 dB. CLEARLY A STAND-IN: plug a
  real JPEG codec (e.g. PIL) in with one :func:`register_codec` call in
  production; every call site goes through :func:`decode_image` /
  :func:`encode_image`, and the seam is proven with a mock PIL-like codec
  by tests/test_images.py::test_real_jpeg_adapter_seam.

phash is a from-scratch 64-bit DCT perceptual hash (32×32 grayscale →
DCT-II → top-left 8×8 minus DC → median threshold), the standard published
scheme; deterministic and pure numpy. A coefficient whose exact value is 0
computes to round-off that differs between BLAS kernels, so before the
threshold every coefficient within the transform's float64 error bound
(``PHASH_ZERO_TOL``) is set to 0: the hash depends on the image, not on the
host's kernel.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# decompression-bomb budget (32 Mpx): a hostile header must raise a typed
# per-row failure before any unbounded allocation
MAX_DECODE_PIXELS = 1 << 25


def _bounded_decompress(data: bytes, expected: int) -> bytes:
    """zlib.decompress capped at the size the validated header implies:
    an unbounded decompress expands up to ~1032x (zlib bomb) and can OOM
    the executor before any shape check runs."""
    d = zlib.decompressobj()
    out = d.decompress(data, expected)
    if d.unconsumed_tail or len(d.decompress(b"", 1)) > 0:
        raise ValueError(
            f"compressed payload exceeds the {expected}-byte size its "
            "header implies"
        )
    return out


JPGQ_MAGIC = b"JPQ1"
JPGQ_STEP = 4


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


# ---------------------------------------------------------------------------
# PNG (8-bit RGB)
# ---------------------------------------------------------------------------

def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (filter 0 rows, one IDAT)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    if c != 3:
        raise ValueError("encode_png expects RGB")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8. Supports 8-bit RGB, filters 0-4."""
    if buf[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    off = 8
    w = h = None
    idat = b""
    while off < len(buf):
        (ln,) = struct.unpack_from(">I", buf, off)
        tag = buf[off + 4 : off + 8]
        data = buf[off + 8 : off + 8 + ln]
        off += 12 + ln
        if tag == b"IHDR":
            w, h, bit, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", data)
            if bit != 8 or ctype != 2 or inter != 0:
                raise ValueError("decoder supports 8-bit RGB non-interlaced only")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if w is None or h is None:
        raise ValueError("corrupt PNG: no IHDR")
    if h * w > MAX_DECODE_PIXELS:
        raise ValueError(f"PNG {w}x{h} exceeds MAX_DECODE_PIXELS")
    raw = np.frombuffer(
        _bounded_decompress(idat, h * (1 + w * 3)), dtype=np.uint8
    ).reshape(h, 1 + w * 3)
    bpp = 3
    fts = raw[:, 0]
    if not fts.any():  # filter 0 everywhere (our encoder's output): zero-copy
        return raw[:, 1:].reshape(h, w, 3).copy()
    out = np.zeros((h, w * 3), dtype=np.uint8)
    for y in range(h):
        ft = fts[y]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(w * 3, dtype=np.int32)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft == 1:  # Sub: per-channel prefix sum along x, mod 256
            rec = (
                np.cumsum(line.reshape(w, bpp), axis=0, dtype=np.int64) & 0xFF
            ).reshape(w * 3)
        elif ft in (3, 4):  # Average / Paeth: genuinely sequential scan
            rec = np.zeros(w * 3, dtype=np.int32)
            for x in range(w * 3):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ft == 3:
                    rec[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# JPGQ — deterministic lossy stand-in (see module docstring)
# ---------------------------------------------------------------------------

def encode_jpgq(pixels: np.ndarray, step: int = JPGQ_STEP) -> bytes:
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    q = (px.astype(np.int32) // step).astype(np.uint8)
    payload = zlib.compress(q.tobytes(), 6)
    return JPGQ_MAGIC + struct.pack(">IIBB", w, h, c, step) + payload


def decode_jpgq(buf: bytes) -> np.ndarray:
    if buf[:4] != JPGQ_MAGIC:
        raise ValueError("not a JPGQ payload")
    w, h, c, step = struct.unpack_from(">IIBB", buf, 4)
    if h * w > MAX_DECODE_PIXELS or c > 4:
        raise ValueError(f"JPGQ {w}x{h}x{c} exceeds MAX_DECODE_PIXELS")
    q = np.frombuffer(
        _bounded_decompress(buf[14:], h * w * c), dtype=np.uint8
    ).reshape(h, w, c)
    return np.clip(q.astype(np.int32) * step + step // 2, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

#: fmt name → encoder. 'jpeg' maps to the jpgq stand-in until a real codec
#: is registered (see register_codec + tests/test_images.py seam test).
_ENCODERS = {"png": encode_png, "jpgq": encode_jpgq, "jpeg": encode_jpgq}

#: ordered (sniff-over-leading-bytes, decoder, fmt name) triples; first
#: sniff match wins.
_DECODERS: list = [
    (lambda b: b[:8] == PNG_SIG, decode_png, "png"),
    (lambda b: b[:4] == JPGQ_MAGIC, decode_jpgq, "jpgq"),
]


def register_codec(fmt, encoder, decoder, sniff) -> None:
    """Plug a REAL codec into the dispatch — the single swap point for
    production environments with PIL/libjpeg/opencv available::

        register_codec("jpeg",
                       lambda px: pil_encode_jpeg(px, quality=90),
                       pil_decode,
                       lambda b: b[:2] == b"\\xff\\xd8")

    Every call site (invariant check, decode stats, streaming gate, resize)
    routes through :func:`encode_image` / :func:`decode_image`, so one
    registration switches the whole engine: the engine's mapInPandas
    closures snapshot this registry at plan-construction time and install
    it inside each Python worker (see :func:`registry_snapshot` — a plain
    driver-side mutation would be invisible to workers, which re-import
    this module fresh). Registered functions must therefore be
    cloudpickle-serializable (lambdas/closures are; avoid references to
    unpicklable state). The registered decoder is sniffed FIRST, so it
    takes precedence over the built-ins. Proven end to end (through a
    Spark worker) by tests/test_images.py::test_real_jpeg_adapter_seam."""
    _ENCODERS[fmt] = encoder
    _DECODERS.insert(0, (sniff, decoder, fmt))


def registry_snapshot():
    """Driver-side snapshot of the codec registry (image encoders/decoders
    + audio decoders) for shipping into Spark Python workers. Every engine
    mapInPandas that decodes/encodes captures this at
    DataFrame-construction time and calls :func:`install_registry` first
    thing inside the worker."""
    return (dict(_ENCODERS), list(_DECODERS), dict(_AUDIO_DECODERS))


def install_registry(snap) -> None:
    """Install a :func:`registry_snapshot` into this process (worker-side
    counterpart; idempotent). Accepts the historical 2-tuple form too."""
    enc, dec = snap[0], snap[1]
    _ENCODERS.clear()
    _ENCODERS.update(enc)
    _DECODERS[:] = list(dec)
    if len(snap) > 2:
        _AUDIO_DECODERS.clear()
        _AUDIO_DECODERS.update(snap[2])


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    enc = _ENCODERS.get(fmt)
    if enc is None:
        raise ValueError(f"unsupported fmt {fmt}")
    return enc(pixels)


def sniff_fmt(buf: bytes) -> str | None:
    """Container format of a payload by magic bytes (registry order), or
    None if unrecognized — the DERIVED counterpart of a stored fmt column."""
    b = bytes(buf)
    for sniff, _dec, name in _DECODERS:
        if sniff(b):
            return name
    return None


def decode_image(buf: bytes, fmt: str | None = None) -> np.ndarray:
    b = bytes(buf)
    for sniff, dec, _name in _DECODERS:
        if sniff(b):
            return dec(b)
    raise ValueError(f"unrecognized image payload (fmt hint: {fmt})")


# ---------------------------------------------------------------------------
# resize (nearest-index resample — deterministic, library-free; swap for a
# real interpolating resampler where PIL/opencv exist, same call site)
# ---------------------------------------------------------------------------

def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """(h, w, 3) uint8 → (out_h, out_w, 3) by nearest-index sampling.
    For integer downscale factors this picks exact source pixels
    (row/col k maps to source index k*h//out_h)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    yi = (np.arange(out_h) * h) // out_h
    xi = (np.arange(out_w) * w) // out_w
    return px[np.ix_(yi, xi)]


# ---------------------------------------------------------------------------
# video container — frames of any supported image fmt packed in one binary
# column (VID1 magic, frame count, length table, concatenated payloads).
# A deterministic stand-in for a real container/codec (mp4/av1): the
# Spark-side plumbing (binary column, mapInPandas batch shape, per-frame
# explode) is the production shape; only the byte format is simplified.
# ---------------------------------------------------------------------------

VID_MAGIC = b"VID1"


def pack_video(frames: list[bytes]) -> bytes:
    head = VID_MAGIC + struct.pack(">I", len(frames))
    lens = struct.pack(f">{len(frames)}I", *[len(f) for f in frames])
    return head + lens + b"".join(frames)


def unpack_video(buf: bytes) -> list[bytes]:
    if buf[:4] != VID_MAGIC:
        raise ValueError("not a VID1 container")
    (n,) = struct.unpack_from(">I", buf, 4)
    lens = struct.unpack_from(f">{n}I", buf, 8)
    off = 8 + 4 * n
    out = []
    for ln in lens:
        out.append(buf[off : off + ln])
        off += ln
    return out


# ---------------------------------------------------------------------------
# audio — 16-bit mono PCM container (AUD1 magic, sample rate, zlib samples).
# Deterministic fake of a real audio codec: decode of real-world formats
# (mp3/flac/opus) needs an audio library absent from this environment —
# route those through decode_audio_external below.
# ---------------------------------------------------------------------------

AUD_MAGIC = b"AUD1"


def encode_pcm(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    s = np.asarray(samples)
    if s.dtype != np.int16:
        s = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
        s = (s * 32767.0).astype(np.int16)
    return AUD_MAGIC + struct.pack(">I", sample_rate) + zlib.compress(s.tobytes(), 6)


def decode_pcm(buf: bytes) -> tuple[np.ndarray, int]:
    if buf[:4] != AUD_MAGIC:
        raise ValueError("not an AUD1 payload")
    (rate,) = struct.unpack_from(">I", buf, 4)
    return np.frombuffer(zlib.decompress(buf[8:]), dtype=np.int16), rate


#: fmt (lowercase) → decoder(buf) -> (samples int16 ndarray, rate); the
#: audio counterpart of _ENCODERS/_DECODERS, shipped to workers through the
#: same registry snapshot (a bare driver-side function swap would be
#: invisible to Spark Python workers, which re-import this module fresh)
_AUDIO_DECODERS: dict = {}


def register_audio_decoder(fmt: str, decoder) -> None:
    """Plug a real audio decoder (soundfile/ffmpeg) for ``fmt`` — the audio
    twin of :func:`register_codec`; picked up by every audio mapInPandas
    via the registry snapshot. Must be cloudpickle-serializable."""
    _AUDIO_DECODERS[fmt.lower()] = decoder


def decode_audio_external(buf: bytes, fmt: str) -> tuple[np.ndarray, int]:
    """Registered-decoder dispatch; STUB otherwise — decoding real audio
    formats (mp3/flac/opus/wav) requires an audio library
    (soundfile/librosa/ffmpeg) that is not available in this environment.
    The Spark-side plumbing (binary column in, (samples, rate) out, Arrow
    batching) is exercised through the AUD1/PCM path above; production
    plugs a decoder with :func:`register_audio_decoder`."""
    dec = _AUDIO_DECODERS.get(str(fmt).lower())
    if dec is not None:
        return dec(buf)
    raise NotImplementedError(
        f"decode_audio_external({fmt}): no audio codec library in this "
        "environment — use AUD1/PCM payloads or register_audio_decoder()"
    )


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi / n * (i + 0.5) * k)
    m[0] *= 1.0 / np.sqrt(2)
    return m * np.sqrt(2.0 / n)


_DCT32 = _dct_matrix(32)

# Round-off bound of the hash's DCT for 8-bit input. Every float64 product
# below obeys |fl(A·B) - A·B| <= γ_n·|A|·|B| with γ_n = n·u/(1 - n·u), in
# any summation order (so for every BLAS kernel). The hash takes a 3-term
# gray dot product, then C·G·Cᵀ with two inner dimensions of 32; each row
# of the orthonormal C has unit 2-norm, so Σ|C_ki| <= √32, and 0 <= G <= 255:
#     |d̂_kl - d_kl| <= (γ_3 + 2·γ_32 + γ_32² + 8u) · 255 · 32  ≈ 6.8e-11,
# where 8u covers the rounding of C's own entries. A coefficient inside the
# bound cannot be told from 0 (an additively separable image has exact zeros
# off row 0 and column 0), and its sign is whatever the kernel's round-off
# leaves, so phash64 thresholds it as 0.
_U = np.finfo(np.float64).eps / 2


def _gamma(n: int) -> float:
    return n * _U / (1 - n * _U)


PHASH_ZERO_TOL = (_gamma(3) + 2 * _gamma(32) + _gamma(32) ** 2 + 8 * _U) * 255.0 * 32


def _resize_gray_32(gray: np.ndarray) -> np.ndarray:
    """Nearest-index resample to 32×32 (deterministic, no interpolation libs)."""
    h, w = gray.shape
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    return gray[np.ix_(yi, xi)]


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (signed int64 for Spark LongType) of 8-bit
    pixels. Coefficients within :data:`PHASH_ZERO_TOL` of 0 count as 0, so
    the hash is the same under every BLAS kernel."""
    px = np.asarray(pixels, dtype=np.float64)
    gray = px @ np.array([0.299, 0.587, 0.114]) if px.ndim == 3 else px
    g32 = _resize_gray_32(gray)
    d = _DCT32 @ g32 @ _DCT32.T
    block = d[:8, :8].flatten()[1:]  # drop DC
    block[np.abs(block) <= PHASH_ZERO_TOL] = 0.0
    med = np.median(block)
    bits = block > med
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    val <<= 1  # pad to 64 bits
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)
