"""Pure-stdlib PNG codec (zlib + numpy) — a REAL image codec with no
imaging library behind it.

An actual PNG implementation: chunk parsing, CRC checks, zlib inflate, and
all five scanline filters (None/Sub/Up/Average/Paeth, PNG spec §9), for 8-bit
greyscale / RGB / RGBA, plus a minimal encoder.  The multimodal tier
(operators/multimodal.py) renders every document as a PNG with
:func:`encode_png` and decodes it back with :func:`decode_png` in its image
stages: features, scanline frames, resize, round-trip verify and dHash.

Performance note: the Average/Paeth unfilter loop is Python — fine for
feature extraction over small images and for proving format correctness; the
Sub filter the engine's own encoder emits takes the vectorized path.
Malformed input raises ``ValueError``, which the multimodal stages map to a
NULL row rather than a task failure.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type → channel count (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 6: 4}
#: channel count → image mode name ('L' / 'RGB' / 'RGBA')
MODES = {1: "L", 3: "RGB", 4: "RGBA"}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal 8-bit PNG encoder: greyscale ``(H, W)`` / ``(H, W, 1|3|4)``
    uint8 arrays, one IDAT, the SAME ``filter_type`` (0-4) applied to every
    scanline — letting tests drive each decoder filter path deliberately."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 3: 2, 4: 6}[c]
    bpp = c
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter {filter_type}")
    # One filter type for the whole image means every scanline's filter is a
    # closed-form function of the pixel matrix and its shifts — the per-
    # scanline loop this replaced spent its time in numpy call overhead on
    # PNG_W-sized rows (16-wide rasters → hundreds of tiny array ops per
    # image).  Same arithmetic, same dtypes, byte-identical IDAT.
    stride = w * c
    lines = a.reshape(h, stride).astype(np.int16)
    left = np.zeros_like(lines)
    up = np.zeros_like(lines)
    upleft = np.zeros_like(lines)
    if stride > bpp:
        left[:, bpp:] = lines[:, :-bpp]
        upleft[1:, bpp:] = lines[:-1, :-bpp]
    up[1:] = lines[:-1]
    if filter_type == 0:
        filt = lines
    elif filter_type == 1:
        filt = lines - left
    elif filter_type == 2:
        filt = lines - up
    elif filter_type == 3:
        filt = lines - (left + up) // 2
    else:
        filt = lines - _paeth(left, up, upleft)
    raw = np.empty((h, stride + 1), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = filt % 256
    raw = raw.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _paeth(left: np.ndarray, up: np.ndarray, upleft: np.ndarray) -> np.ndarray:
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    return np.where((pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, up, upleft))


def decode_png(buf: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced greyscale/RGB/RGBA PNG to a ``(H, W, C)``
    uint8 array.  Raises ``ValueError`` on anything malformed — the multimodal
    stages map that to a NULL row (corrupt payload is data, not an
    infrastructure error)."""
    if buf[:8] != _SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    h = color = None
    while pos + 8 <= len(buf):
        (length,), tag = struct.unpack(">I", buf[pos:pos + 4]), buf[pos + 4:pos + 8]
        if pos + 12 + length > len(buf):
            # covers both a short payload AND a buffer cut inside the 4 CRC
            # bytes — without this, struct.unpack below raises struct.error,
            # escaping the ValueError contract callers filter on
            raise ValueError("truncated chunk")
        payload = buf[pos + 8:pos + 8 + length]
        crc = struct.unpack(">I", buf[pos + 8 + length:pos + 12 + length])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError("bad CRC")
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8 or color not in _CHANNELS or interlace:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    c = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("bad pixel payload size")
    mat = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = mat[:, 0]
    if h and (ftypes == ftypes[0]).all() and ftypes[0] in (0, 1, 2):
        # Uniform-filter fast path (what this engine's own encoder always
        # emits): the whole image reconstructs in one vectorized expression —
        # None: identity; Sub: per-lane prefix sum along x (the same cumsum
        # the per-row branch below runs, lifted over all rows at once); Up:
        # prefix sum down the rows.  int64 cumsums guard the pre-mod totals.
        # Byte-identical to the scanline loop, which remains the general path
        # for Average/Paeth and mixed-filter images.
        filt = mat[:, 1:]
        if ftypes[0] == 0:
            out = filt.copy()
        elif ftypes[0] == 1:
            out = (filt.reshape(h, w, c).astype(np.int64).cumsum(axis=1)
                   % 256).astype(np.uint8).reshape(h, stride)
        else:
            out = (filt.astype(np.int64).cumsum(axis=0)
                   % 256).astype(np.uint8)
        return out.reshape(h, w, c)
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        row = raw[y * (stride + 1):(y + 1) * (stride + 1)]
        ftype, filt = row[0], np.frombuffer(row[1:], np.uint8).astype(np.int16)
        if ftype == 0:
            line = filt
        elif ftype == 2:
            line = (filt + prior) % 256
        elif ftype == 1:
            # Sub is a per-lane prefix sum: recon[x] = Σ filt[x], x ≡ lane
            # (mod bpp) — vectorized (int64 guards the pre-mod cumsum), since
            # Sub is the filter the engine's own encoder emits (the declared
            # roundtrip query decodes it for every scanline of the corpus)
            line = (filt.astype(np.int64).reshape(w, c)
                    .cumsum(axis=0) % 256).reshape(-1).astype(np.int16)
        elif ftype in (3, 4):
            # Average/Paeth recurrences depend on the reconstructed LEFT byte
            # through a floor-div / 3-way branch — no prefix-sum closed form
            # exists, so the scan stays sequential along x.  It runs on plain
            # Python ints (lists), not per-element numpy indexing: numpy
            # scalar access dominates a tight loop (~10x slower than list
            # ops); the conversion in/out is two vectorized calls.
            fl, pl = filt.tolist(), prior.tolist()
            ln: list[int] = [0] * stride
            for x in range(stride):
                left = ln[x - c] if x >= c else 0
                up = pl[x]
                if ftype == 3:
                    ln[x] = (fl[x] + (left + up) // 2) % 256
                else:
                    upleft = pl[x - c] if x >= c else 0
                    p = left + up - upleft
                    pa, pb, pc_ = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc_ else \
                        up if pb <= pc_ else upleft
                    ln[x] = (fl[x] + pred) % 256
            line = np.asarray(ln, dtype=np.int16)
        else:
            raise ValueError(f"bad filter byte {ftype}")
        out[y] = line.astype(np.uint8)
        prior = line
    return out.reshape(h, w, c)
