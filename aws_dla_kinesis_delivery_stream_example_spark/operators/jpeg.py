"""Baseline JPEG codec in pure numpy + stdlib (SURVEY.md §2.11
'Multimodal columns').

The container ships no image libraries, but baseline JPEG (ITU-T T.81
sequential DCT, Huffman, 8-bit) is decodable with numpy alone. The
decoder handles the real-world baseline subset: grayscale or YCbCr,
arbitrary sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0), restart
markers, multiple DQT/DHT segments. The encoder produces valid
JFIF/baseline files (4:4:4, custom canonical Huffman tables written to
DHT — any compliant decoder reads tables from the file, so they need
only be valid, not the Annex-K ones).

Decode pipeline: marker parse -> per-table canonical Huffman decode
(MINCODE/MAXCODE/VALPTR) -> dequantize -> inverse zigzag -> 2-D IDCT as
two matrix products -> chroma upsample -> YCbCr->RGB (JFIF/BT.601
full range). Everything vectorizes per block via numpy; the entropy
decode is the only per-symbol Python loop (inherent to Huffman).
"""

from __future__ import annotations

import struct

import numpy as np

# -- shared constants ------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """The 8x8 zigzag scan order as (64,) flat indices, generated by the
    diagonal walk rather than hardcoded."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(i * 8 + j for i, j in diag)
    return np.array(order, dtype=np.int64)


_ZIGZAG = _zigzag_order()


def _dct_matrix() -> np.ndarray:
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    d = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    d[0, :] = np.sqrt(1.0 / 8.0)
    return d


_DCT = _dct_matrix()

# DC magnitude categories 0..11; AC (run,size) symbols: EOB, ZRL, then
# every run 0..15 x size 1..10 — the full baseline AC alphabet.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]


# -- bit I/O ---------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per the spec
        return bytes(self.out)


class _BitReader:
    """Reads the entropy-coded segment with FF00 unstuffing; restart
    markers FFD0-FFD7 surface via ``at_restart``/``skip_restart``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _next_byte(self) -> int | None:
        d = self.data
        while self.pos < len(d):
            b = d[self.pos]
            if b != 0xFF:
                self.pos += 1
                return b
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            return None  # a real marker: stop feeding bits
        return None

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self._next_byte()
            if b is None:
                return 0  # past-end reads yield 0 (truncated stream)
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.read_bit()
        return v

    def at_marker(self) -> int | None:
        d, p = self.data, self.pos
        if p + 1 < len(d) and d[p] == 0xFF and d[p + 1] != 0x00:
            return d[p + 1]
        return None

    def skip_restart(self) -> None:
        self.nbits = 0  # discard pad bits to the byte boundary
        m = self.at_marker()
        if m is not None and 0xD0 <= m <= 0xD7:
            self.pos += 2


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """(size, bits) for a signed coefficient per T.81 F.1.2.1."""
    a = abs(int(v))
    t = int(a).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


# -- Huffman tables --------------------------------------------------------


class _HuffTable:
    def __init__(self, bits: list[int], values: list[int]) -> None:
        """bits[l] = number of codes of length l+1 (16 entries)."""
        self.bits = bits
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = k = 0
        for l in range(1, 17):
            self.valptr[l] = k
            self.mincode[l] = code
            n = bits[l - 1]
            code += n
            k += n
            self.maxcode[l] = code - 1 if n else -1
            code <<= 1
        # encode map: symbol -> (code, length)
        self.codes: dict[int, tuple[int, int]] = {}
        code = k = 0
        for l in range(1, 17):
            for _ in range(bits[l - 1]):
                self.codes[values[k]] = (code, l)
                code += 1
                k += 1
            code <<= 1

    def decode(self, reader: _BitReader) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | reader.read_bit()
            length += 1
            if self.bits[length - 1] and code <= self.maxcode[length]:
                return self.values[self.valptr[length] + code - self.mincode[length]]
        raise ValueError("invalid JPEG Huffman code")


def _flat_table(symbols: list[int], length: int) -> _HuffTable:
    """All symbols at one code length: trivially canonical and valid
    (Kraft sum < 1 keeps the all-ones code unused)."""
    if len(symbols) >= (1 << length):
        raise ValueError("length too short for symbol count")
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return _HuffTable(bits, list(symbols))


_ENC_DC = _flat_table(_DC_SYMBOLS, 4)
_ENC_AC = _flat_table(_AC_SYMBOLS, 8)


# -- encoder ---------------------------------------------------------------


def _quant_table(quality: int) -> np.ndarray:
    """Deterministic ramp table: low frequencies fine, high coarse.
    quality 1 (coarse) .. 95 (near-lossless)."""
    i = np.arange(8).reshape(-1, 1)
    j = np.arange(8).reshape(1, -1)
    base = 1.0 + (i + j) * 2.0
    scale = max(1.0, (100.0 - quality) / 25.0)
    return np.clip(np.round(base * scale), 1, 255).astype(np.int32)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    m = np.array(
        [[0.299, 0.587, 0.114], [-0.168736, -0.331264, 0.5], [0.5, -0.418688, -0.081312]]
    )
    ycc = px.astype(np.float64) @ m.T
    ycc[..., 1:] += 128.0
    return ycc


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb], axis=-1
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _encode_block(
    w: _BitWriter, block: np.ndarray, q: np.ndarray, pred: int, dc: _HuffTable, ac: _HuffTable
) -> int:
    coef = _DCT @ (block - 128.0) @ _DCT.T
    qz = np.round(coef / q).astype(np.int64).reshape(-1)[_ZIGZAG]
    diff = int(qz[0]) - pred
    t, bits = _magnitude(diff)
    code, length = dc.codes[t]
    w.write(code, length)
    if t:
        w.write(bits, t)
    run = 0
    nz = np.nonzero(qz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(qz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac.codes[0xF0]
            w.write(c, ln)
            run -= 16
        t, bits = _magnitude(v)
        c, ln = ac.codes[(run << 4) | t]
        w.write(c, ln)
        w.write(bits, t)
        run = 0
    if last < 63:
        c, ln = ac.codes[0x00]
        w.write(c, ln)
    return int(qz[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht_payload(tclass: int, tid: int, table: _HuffTable) -> bytes:
    return bytes([tclass << 4 | tid]) + bytes(table.bits) + bytes(table.values)


def encode_jpeg(pixels: np.ndarray, quality: int = 85, subsampling: str = "444") -> bytes:
    """Encode an (h, w, 3) uint8 RGB (or (h, w) grayscale) array as a
    baseline JFIF JPEG. ``subsampling``: "444" (one block per component
    per MCU) or "420" (2x2 luma blocks + 2x-downsampled chroma)."""
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    px = np.asarray(pixels)
    gray = px.ndim == 2
    if gray:
        px = px[..., None]
        subsampling = "444"
    h, w = px.shape[:2]
    qt = _quant_table(quality)
    is420 = subsampling == "420"
    mcu = 16 if is420 else 8
    ph, pw = (-h) % mcu, (-w) % mcu
    px = np.pad(px, ((0, ph), (0, pw), (0, 0)), mode="edge")
    if gray:
        planes = [px[..., 0].astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(px[..., :3])
        planes = [ycc[..., c] for c in range(3)]
        if is420:
            # chroma: 2x2 box average
            for c in (1, 2):
                p = planes[c]
                planes[c] = (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0]) + bytes(qt.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        hv = 0x22 if (is420 and c == 0) else 0x11
        sof += bytes([c + 1, hv, 0])  # quant table 0 for every component
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, _ENC_DC))
    out += _seg(0xC4, _dht_payload(1, 0, _ENC_AC))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])  # DC table 0 / AC table 0
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    writer = _BitWriter()
    preds = [0] * ncomp
    samp = [(2, 2), (1, 1), (1, 1)] if is420 else [(1, 1)] * ncomp
    for my in range(px.shape[0] // mcu):
        for mx in range(px.shape[1] // mcu):
            for c in range(ncomp):
                cv, ch = samp[c]
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        block = planes[c][y0 : y0 + 8, x0 : x0 + 8]
                        preds[c] = _encode_block(writer, block, qt, preds[c], _ENC_DC, _ENC_AC)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- decoder ---------------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG into (h, w, 3) uint8 RGB (grayscale files
    are replicated to 3 channels). Raises ValueError on non-baseline or
    malformed input."""
    try:
        return _decode_jpeg_inner(data)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG payload: {exc}") from exc


def _decode_jpeg_inner(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1  # fill bytes / garbage between segments
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seglen = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                off += 1
                if pq == 0:
                    vals = np.frombuffer(body, np.uint8, 64, off).astype(np.int32)
                    off += 64
                else:
                    vals = np.frombuffer(body, ">u2", 64, off).astype(np.int32)
                    off += 128
                tbl = np.zeros(64, np.int32)
                tbl[_ZIGZAG] = vals
                qtables[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT (may hold several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                values = list(body[off + 17 : off + 17 + n])
                htables[(tc, th)] = _HuffTable(bits, values)
                off += 17 + n
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential SOF
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + c * 3 : 9 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3) or 0xC5 <= marker <= 0xCF and marker != 0xC8:
            raise ValueError("only baseline (SOF0/SOF1) JPEG supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS: entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = []
            for s in range(ns):
                cs, tt = body[1 + s * 2], body[2 + s * 2]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, htables[(0, tt >> 4)], htables[(1, tt & 0xF)]))
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan, qtables, restart_interval
            )
        pos += 2 + seglen
    raise ValueError("JPEG has no scan data")


def _decode_scan(data, pos, frame, scan, qtables, restart_interval) -> np.ndarray:
    fh, fw, comps = frame["h"], frame["w"], frame["comps"]
    if fh == 0 or fw == 0:
        raise ValueError("JPEG with zero dimension")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 2 or vmax > 2:
        raise ValueError("unsupported sampling factors")
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64) for c in comps
    }
    reader = _BitReader(data, pos)
    preds = {c["id"]: 0 for c in comps}
    idct = _DCT.T
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.skip_restart()
                preds = {c["id"]: 0 for c in comps}
            n_mcu += 1
            for comp, dc_t, ac_t in scan:
                q = qtables[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, np.float64)
                        t = dc_t.decode(reader)
                        diff = _extend(reader.receive(t), t)
                        preds[comp["id"]] += diff
                        zz[0] = preds[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = ac_t.decode(reader)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        coef = np.zeros(64, np.float64)
                        coef[_ZIGZAG] = zz
                        block = idct @ (coef.reshape(8, 8) * q) @ _DCT + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = block
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:fh, :fw])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(out_planes) != 3:
        raise ValueError("unsupported component count")
    return _ycbcr_to_rgb(np.stack(out_planes, axis=-1))
