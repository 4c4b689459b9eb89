"""Pure-Python media codecs for the multimodal operators.

The container ships no image/audio libraries (PIL/librosa), but two
formats are simple enough to parse with the stdlib + numpy and are real
formats a user can produce with any tool:

- BMP: uncompressed 24-bit BITMAPINFOHEADER (BI_RGB), bottom-up rows,
  4-byte row padding, BGR byte order.
- WAV: RIFF/WAVE, PCM 16-bit little-endian.

These give the multimodal pipeline genuine content-derived decode paths
(SURVEY.md §2.11) instead of a digest stand-in; anything else still
falls back to the digest feature in ``multimodal._decode``.
"""

from __future__ import annotations

import struct

import numpy as np

# -- BMP ------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit BMP."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    body = bytearray()
    for row in px[::-1]:  # bottom-up
        body += row[:, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + bytes(body)


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP into an (h, w, 3) uint8 RGB array."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", data, 10)[0]
    dib_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    flipped = h > 0  # positive height = bottom-up storage
    h = abs(h)
    # corrupt headers (negative/zero width, zero height) must fail here,
    # not decode to an empty array whose stats are NaN downstream
    if w <= 0 or h == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h}")
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    if data_offset + stride * h > len(data):
        raise ValueError("truncated BMP payload")
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=data_offset)
    rows = raw.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) array."""
    h, w, _ = px.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[ys][:, xs]


# -- WAV ------------------------------------------------------------------


WAV_RATE = 16000  # sample rate (Hz) of every WAV this engine writes


def encode_wav(samples: np.ndarray) -> bytes:
    """Encode a 1-D int16 array as a ``WAV_RATE`` PCM-16 mono RIFF/WAVE file."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM-16 RIFF/WAVE payload -> (sample_rate, float32 samples
    scaled to [-1, 1]). Walks the chunk list, so extra chunks are fine."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, pcm = 12, None, None
    # struct.error from a truncated chunk must surface as ValueError so
    # one malformed payload takes the digest fallback instead of
    # crashing the whole Spark job.
    try:
        while pos + 8 <= len(data):
            cid, size = data[pos : pos + 4], struct.unpack_from("<I", data, pos + 4)[0]
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
                bits = struct.unpack_from("<H", body, 14)[0]
                if audio_fmt != 1 or bits != 16:
                    raise ValueError("only PCM-16 WAV supported")
                if channels != 1:
                    # stereo would decode with interleaved samples and
                    # silently wrong duration/RMS/ZCR
                    raise ValueError(f"only mono WAV supported (channels={channels})")
            elif cid == b"data":
                pcm = body
            pos += 8 + size + (size % 2)  # chunks are word-aligned
    except struct.error as exc:
        raise ValueError(f"truncated WAV chunk: {exc}") from exc
    if rate is None or pcm is None or rate == 0:
        raise ValueError("WAV missing fmt/data chunk")
    samples = np.frombuffer(pcm[: len(pcm) - len(pcm) % 2], dtype="<i2").astype(np.float32) / 32768.0
    return rate, samples
