"""Pure-numpy baseline JPEG (SOF0) codec for the multimodal decode path.

JPEG is the dominant blob codec in any real 100 TB multimodal corpus; the
reference's image handling leans on PIL, which is not importable in this
environment.  Exactly like the PNG codec in operators/multimodal.py and
the HDF5/NetCDF/GeoTIFF codecs in sources/hdf5lite.py and
sinks/containers.py, this module implements the SUBSET of the public JPEG
specification (ITU-T T.81 / ISO-IEC 10918-1, with the JFIF container and
the Annex K example tables) that covers real-world baseline files:

  decode — baseline DCT (SOF0), 8-bit samples, Huffman entropy coding,
    1 or 3 components, any sampling factors in {1, 2} (4:4:4 / 4:2:2 /
    4:4:0 / 4:2:0), restart markers (DRI), byte stuffing, 8- or 16-bit
    quantization tables, multi-segment DQT/DHT, APPn/COM skipping;
  encode — SOF0 + JFIF, Annex K quantization tables scaled by the IJG
    quality curve, Annex K Huffman tables, optional 2x2 luma sampling
    (4:2:0, mean-pooled chroma), grayscale or RGB (JFIF YCbCr).

  progressive decode — SOF2 with Huffman coding (ITU T.81 Annex G.2):
    spectral selection, successive approximation, interleaved DC scans,
    non-interleaved AC scans, EOB runs, DC/AC refinement scans, restart
    markers inside any scan;
  progressive encode — a fixed four-phase scan script (DC first at Al=1,
    per-component AC first at Al=1, DC refinement, AC refinement) that
    exercises every decode path; EOB runs are flushed per block (the
    Annex K baseline Huffman tables carry no EOBn>1 symbols, so emitting
    plain EOB keeps the stream legal at a small size cost).

Out of scope (raises with a clear message): arithmetic coding, 12-bit
precision, 4-component (CMYK) scans, hierarchical (SOF5+) frames.  This
is operators/multimodal.decode_image's only JPEG decoder.

Decode correctness is established the same way as the other from-spec
codecs: marker-level spec goldens, an exactness property (flat blocks are
DC-only and decode bit-exactly), a bounded-error round-trip at quality
100 (all-ones quantization tables: the only loss is float DCT rounding),
and a skip-gated PIL differential that activates when PIL is present.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# spec constants (ITU T.81 Annex K example tables — part of the public spec)
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 example quantization tables (natural row order)
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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
]

# orthonormal 8-point DCT-II basis: A[u, x] = a(u)/2 * cos((2x+1)uπ/16);
# forward F = A f Aᵀ, inverse f = Aᵀ F A (A is orthogonal)
_X = np.arange(8)
_DCT_A = np.cos((2 * _X[None, :] + 1) * _X[:, None] * np.pi / 16) / 2.0
_DCT_A[0, :] /= np.sqrt(2.0)


def _ijg_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """The IJG quality curve: 1..100 → scaled Annex K table, clipped to
    the 8-bit DQT range (libjpeg jpeg_quality_scaling)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# Huffman tables: canonical codes from (BITS, HUFFVAL); decode via a flat
# 16-bit lookahead table (every baseline code is ≤ 16 bits)
# ---------------------------------------------------------------------------

def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per T.81 Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffDecoder:
    """Flat 65536-entry lookahead: the top 16 bits of the stream index
    straight to (symbol, code length)."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.sym = np.zeros(1 << 16, np.int16) - 1
        self.len = np.zeros(1 << 16, np.int8)
        for symbol, (code, length) in _canonical_codes(bits, vals).items():
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            self.sym[lo:hi] = symbol
            self.len[lo:hi] = length


class _BitReader:
    """MSB-first bit reader over unstuffed entropy-coded bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self, need: int) -> None:
        while self.n < need:
            # past EOF: pad with 1-bits (T.81 F.2.2.5 marker-boundary pad)
            b = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def decode(self, table: _HuffDecoder) -> int:
        idx = self.peek16()
        length = int(table.len[idx])
        if length == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.skip(length)
        return int(table.sym[idx])


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s magnitude bits to the signed value."""
    if s and v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def jpeg_decode(payload: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) or progressive (SOF2) JFIF/JPEG byte
    payload to (H, W, C) uint8 (C = 1 grayscale or 3 RGB)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, _HuffDecoder] = {}
    ac_tables: dict[int, _HuffDecoder] = {}
    frame = None
    restart_interval = 0
    # progressive state: per frame-component zigzag coefficient planes,
    # accumulated across scans (T.81 G.2: each scan contributes one band
    # and/or one approximation bit)
    prog_coefs: list[np.ndarray] | None = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if pos + 2 > len(payload):
            raise ValueError("JPEG truncated (segment length past EOF)")
        (ln,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + ln]
        if len(seg) != ln - 2:
            raise ValueError("JPEG truncated (segment body past EOF)")
        pos += ln
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, p).astype(np.int64)
                    p += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, p).astype(np.int64)
                    p += 128
                q = np.zeros(64, np.int64)
                q[ZIGZAG] = tbl  # DQT is in zigzag order
                qtables[tq] = q.reshape(8, 8)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError(f"JPEG precision {prec} unsupported (8-bit)")
            if ncomp not in (1, 3):
                raise ValueError(f"{ncomp}-component JPEG unsupported (1/3)")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG frame type 0x{marker:02X} unsupported — baseline "
                "sequential (SOF0) and progressive (SOF2) only; "
                "arithmetic/hierarchical are out of the from-spec subset"
            )
        elif marker == 0xC4:  # DHT — possibly several tables per segment
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                p += 17 + nv
                (dc_tables if tc == 0 else ac_tables)[th] = _HuffDecoder(
                    bits, vals
                )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = struct.unpack_from(">BB", seg, 1 + 2 * i)
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            end = _entropy_end(payload, pos)
            data = payload[pos:end]
            pos = end
            if not frame["progressive"]:
                return _decode_scan(
                    frame, scan, data, qtables, dc_tables, ac_tables,
                    restart_interval,
                )
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            if prog_coefs is None:
                prog_coefs = _alloc_prog_coefs(frame)
            _progressive_scan(
                frame, scan, ss, se, a >> 4, a & 0x0F, data,
                dc_tables, ac_tables, restart_interval, prog_coefs,
            )
    if frame is not None and frame["progressive"] and prog_coefs is not None:
        # de-zigzag the accumulated coefficients and reconstruct once
        planes = []
        for cz in prog_coefs:
            nat = np.zeros_like(cz)
            nat[:, :, ZIGZAG] = cz
            by, bx = nat.shape[:2]
            planes.append(nat.reshape(by, bx, 8, 8))
        return _reconstruct(frame, frame["comps"], planes, qtables)
    raise ValueError("JPEG has no scan (missing SOS)")


def _frame_geometry(frame: dict) -> tuple[int, int, int, int]:
    """(hmax, vmax, mcux, mcuy) over ALL frame components (A.1.1)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(c["h"] in (1, 2) and c["v"] in (1, 2) for c in comps):
        raise ValueError("sampling factors outside {1,2} unsupported")
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _alloc_prog_coefs(frame: dict) -> list[np.ndarray]:
    _, _, mcux, mcuy = _frame_geometry(frame)
    return [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int64)
        for c in frame["comps"]
    ]


def _split_restarts(data: bytes, restart_interval: int) -> list[_BitReader]:
    """Split the entropy stream on RSTn markers; each interval gets its own
    bit reader over unstuffed bytes (restart = byte-realign + state reset)."""
    intervals: list[bytes] = []
    if restart_interval:
        start = 0
        p = 0
        while p < len(data) - 1:
            if data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7:
                intervals.append(data[start:p])
                start = p + 2
                p += 2
            else:
                p += 1
        intervals.append(data[start:])
    else:
        intervals = [data.replace(b"\xff\xd0", b"")]  # no DRI: no RSTn
    return [_BitReader(seg.replace(b"\xff\x00", b"\xff")) for seg in intervals]


def _progressive_scan(
    frame: dict,
    scan: list[tuple[dict, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    data: bytes,
    dc_tables: dict[int, _HuffDecoder],
    ac_tables: dict[int, _HuffDecoder],
    restart_interval: int,
    coefs: list[np.ndarray],
) -> None:
    """One progressive scan (T.81 G.2): mutate the per-component zigzag
    coefficient planes in place.  DC scans (Ss=0) may interleave several
    components; AC scans are single-component over the component's own
    block grid (not the MCU-padded grid)."""
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if se > 63 or ss > se:
        raise ValueError("bad spectral selection")
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    comp_idx = [frame["comps"].index(c) for c, _, _ in scan]

    # decode units per restart interval: each unit is one MCU's block list
    units: list[list[tuple[int, int, int]]] = []
    if len(scan) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                u = []
                for ci, (comp, _, _) in enumerate(scan):
                    for v in range(comp["v"]):
                        for hh in range(comp["h"]):
                            u.append(
                                (ci, my * comp["v"] + v, mx * comp["h"] + hh)
                            )
                units.append(u)
    else:
        comp = scan[0][0]
        cw = -(-frame["w"] * comp["h"] // hmax)
        ch_ = -(-frame["h"] * comp["v"] // vmax)
        bw, bh = -(-cw // 8), -(-ch_ // 8)
        units = [[(0, by, bx)] for by in range(bh) for bx in range(bw)]

    readers = _split_restarts(data, restart_interval)
    reader_idx = 0
    reader = readers[0]
    pred = [0] * len(scan)
    eobrun = 0
    n_in_interval = 0
    for u in units:
        if restart_interval and n_in_interval == restart_interval:
            reader_idx += 1
            if reader_idx >= len(readers):
                raise ValueError("JPEG missing restart marker")
            reader = readers[reader_idx]
            pred = [0] * len(scan)
            eobrun = 0
            n_in_interval = 0
        n_in_interval += 1
        for ci, by, bx in u:
            comp, td, ta = scan[ci]
            cz = coefs[comp_idx[ci]][by, bx]
            if ss == 0:
                if ah == 0:  # DC first (G.2.1)
                    dct = dc_tables.get(td)
                    if dct is None:
                        raise ValueError("JPEG scan references missing DHT")
                    s = reader.decode(dct)
                    if s > 15:
                        raise ValueError("invalid DC category")
                    pred[ci] += _extend(reader.read(s), s)
                    cz[0] = pred[ci] << al
                else:  # DC refinement: one bit per block
                    if reader.read(1):
                        cz[0] |= 1 << al
            else:
                act = ac_tables.get(ta)
                if act is None:
                    raise ValueError("JPEG scan references missing DHT")
                if ah == 0:
                    eobrun = _ac_first_block(reader, cz, ss, se, al, act,
                                             eobrun)
                else:
                    eobrun = _ac_refine_block(reader, cz, ss, se, al, act,
                                              eobrun)
    if eobrun:
        raise ValueError("JPEG EOB run past end of scan")


def _ac_first_block(
    reader: _BitReader, cz: np.ndarray, ss: int, se: int, al: int,
    act: _HuffDecoder, eobrun: int,
) -> int:
    """First-approximation AC band decode for one block (T.81 G.2.2 /
    F.2.2.2 with EOB runs).  Returns the updated EOB run counter."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode(act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                # EOBn: 2^r - 1 additional blocks end here too
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        cz[k] = _extend(reader.read(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(
    reader: _BitReader, cz: np.ndarray, ss: int, se: int, al: int,
    act: _HuffDecoder, eobrun: int,
) -> int:
    """Successive-approximation AC refinement for one block (T.81 G.2.2):
    newly-nonzero coefficients carry a sign bit; every already-nonzero
    coefficient passed over carries a correction bit."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break
                # ZRL: pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid AC refinement magnitude")
                newval = p1 if reader.read(1) else m1
            while k <= se:
                v = int(cz[k])
                if v:
                    # correction bit for an already-nonzero coefficient
                    if reader.read(1) and (v & p1) == 0:
                        cz[k] = v + (p1 if v >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                cz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = int(cz[k])
            if v and reader.read(1) and (v & p1) == 0:
                cz[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _entropy_end(payload: bytes, pos: int) -> int:
    """Scan to the next real marker (skipping stuffed 0xFF00 and RSTn)."""
    p = pos
    n = len(payload)
    while p < n - 1:
        if payload[p] == 0xFF and payload[p + 1] != 0x00 and not (
            0xD0 <= payload[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return n


def _decode_scan(
    frame: dict,
    scan: list[tuple[dict, int, int]],
    data: bytes,
    qtables: dict[int, np.ndarray],
    dc_tables: dict[int, _HuffDecoder],
    ac_tables: dict[int, _HuffDecoder],
    restart_interval: int,
) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    comps = [c for c, _, _ in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(c["h"] in (1, 2) and c["v"] in (1, 2) for c in comps):
        raise ValueError("sampling factors outside {1,2} unsupported")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component coefficient planes in block units
    planes = [
        np.zeros((mcuy * c["v"], mcux * c["h"], 8, 8), np.int64)
        for c, _, _ in scan
    ]

    # restart intervals reset the bit reader and DC predictors
    readers = _split_restarts(data, restart_interval)

    pred = [0] * len(scan)
    reader_idx = 0
    reader = readers[0]
    mcu_in_interval = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_in_interval == restart_interval:
                reader_idx += 1
                if reader_idx >= len(readers):
                    raise ValueError("JPEG missing restart marker")
                reader = readers[reader_idx]
                pred = [0] * len(scan)
                mcu_in_interval = 0
            mcu_in_interval += 1
            for ci, (comp, td, ta) in enumerate(scan):
                dct = dc_tables.get(td)
                act = ac_tables.get(ta)
                if dct is None or act is None:
                    raise ValueError("JPEG scan references missing DHT")
                for v in range(comp["v"]):
                    for hh in range(comp["h"]):
                        blk = np.zeros(64, np.int64)
                        s = reader.decode(dct)
                        if s > 15:
                            raise ValueError("invalid DC category")
                        diff = _extend(reader.read(s), s)
                        pred[ci] += diff
                        blk[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode(act)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[ZIGZAG[k]] = _extend(reader.read(size), size)
                            k += 1
                        planes[ci][my * comp["v"] + v, mx * comp["h"] + hh] = (
                            blk.reshape(8, 8)
                        )

    return _reconstruct(frame, [c for c, _, _ in scan], planes, qtables)


def _reconstruct(
    frame: dict,
    comps: list[dict],
    planes: list[np.ndarray],
    qtables: dict[int, np.ndarray],
) -> np.ndarray:
    """Dequantize + IDCT (batched einsum per component), crop, upsample,
    color-convert.  ``planes[i]`` is comps[i]'s (by, bx, 8, 8) natural-order
    quantized coefficients."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out_planes = []
    for ci, comp in enumerate(comps):
        q = qtables.get(comp["tq"])
        if q is None:
            raise ValueError("JPEG scan references missing DQT")
        by, bx = planes[ci].shape[:2]
        coefs = planes[ci].reshape(-1, 8, 8) * q
        pix = np.einsum("ux,nuv,vy->nxy", _DCT_A, coefs, _DCT_A) + 128.0
        pix = pix.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(
            by * 8, bx * 8
        )
        # crop to the component's own sample grid, then nearest-upsample
        # to the full image grid (T.81 A.1.1 sample alignment)
        cw = -(-w * comp["h"] // hmax)
        ch_ = -(-h * comp["v"] // vmax)
        pix = pix[:ch_, :cw]
        pix = np.repeat(np.repeat(pix, vmax // comp["v"], 0), hmax // comp["h"], 1)
        out_planes.append(pix[:h, :w])

    if len(out_planes) == 1:
        gray = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def restart(self, m: int) -> None:
        """Byte-align with 1-bits (stuffed if the pad byte lands on
        0xFF, F.1.2.3) and emit RSTm."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-bit padding per F.1.2.3
        return bytes(self.out)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(
    wtr: _BitWriter,
    coefs: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    zz = coefs.reshape(64)[ZIGZAG]
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    wtr.write(code, ln)
    if s:
        wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return int(zz[0])


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Pad to 8x8 blocks (edge replication), forward DCT, quantize.
    Returns (by, bx, 8, 8) int coefficients."""
    h, w = plane.shape
    by, bx = -(-h // 8), -(-w // 8)
    padded = np.pad(
        plane.astype(np.float64) - 128.0,
        ((0, by * 8 - h), (0, bx * 8 - w)),
        mode="edge",
    )
    blocks = padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(
        -1, 8, 8
    )
    f = np.einsum("ux,nxy,vy->nuv", _DCT_A, blocks, _DCT_A)
    return np.rint(f / q).astype(np.int64).reshape(by, bx, 8, 8)


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tq: int, table: np.ndarray) -> bytes:
    zz = np.zeros(64, np.int64)
    zz[:] = table.reshape(64)[ZIGZAG]
    body = bytes([tq]) + bytes(int(v) for v in zz)
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def _prepare_planes(
    arr: np.ndarray, quality: int, subsampling: str
) -> tuple[list[np.ndarray], list[tuple[int, int]], list[int],
           np.ndarray, np.ndarray, int, int]:
    """Shared encoder front half: color convert, subsample, forward DCT,
    quantize, pad to MCU coverage.  Returns (coef_planes, hv, qsel, qy,
    qc, h, w)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in (1, 3):
        raise ValueError(f"jpeg_encode: {ch} channels unsupported (1/3)")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    sub = subsampling == "4:2:0" and ch == 3

    qy = _ijg_scale(QUANT_LUMA, quality).reshape(8, 8)
    qc = _ijg_scale(QUANT_CHROMA, quality).reshape(8, 8)

    if ch == 1:
        planes = [arr[:, :, 0].astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if sub:
            # mean-pool chroma 2x2 (pad odd edges by replication)
            def pool(p: np.ndarray) -> np.ndarray:
                ph, pw = -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2
                pp = np.pad(
                    p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), "edge"
                )
                return pp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

            cb, cr = pool(cb), pool(cr)
        planes = [y, cb, cr]

    # MCU geometry: with 4:2:0 the luma plane advances 16x16 per MCU
    hv = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * len(planes)
    qsel = [0] + [1] * (len(planes) - 1)
    coef_planes = [
        _fdct_quant(p, qy if qs == 0 else qc)
        for p, qs in zip(planes, qsel)
    ]

    hmax = max(x for x, _ in hv)
    vmax = max(x for _, x in hv)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # pad coefficient planes out to full MCU coverage with empty blocks
    for i, (hh, vv) in enumerate(hv):
        need_y, need_x = mcuy * vv, mcux * hh
        cp = coef_planes[i]
        if cp.shape[0] < need_y or cp.shape[1] < need_x:
            coef_planes[i] = np.pad(
                cp,
                ((0, need_y - cp.shape[0]), (0, need_x - cp.shape[1]),
                 (0, 0), (0, 0)),
                "edge",
            )
    return coef_planes, hv, qsel, qy, qc, h, w


def jpeg_encode(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W) / (H, W, 1) grayscale or (H, W, 3) RGB uint8 as a
    baseline JFIF/JPEG.  ``subsampling``: '4:4:4' or '4:2:0' (mean-pooled
    chroma; RGB only).  ``restart_interval``: emit a DRI segment and an
    RSTn marker every N MCUs (0 = none)."""
    coef_planes, hv, qsel, qy, qc, h, w = _prepare_planes(
        arr, quality, subsampling
    )

    dc_codes = [_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_codes = [_canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS),
                _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]

    hmax = max(x for x, _ in hv)
    vmax = max(x for _, x in hv)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    wtr = _BitWriter()
    pred = [0] * len(hv)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                wtr.restart(rst)
                rst = (rst + 1) & 7
                pred = [0] * len(hv)
            mcu_count += 1
            for ci, (hh, vv) in enumerate(hv):
                t = 0 if ci == 0 else 1
                for v in range(vv):
                    for hx in range(hh):
                        pred[ci] = _encode_block(
                            wtr,
                            coef_planes[ci][my * vv + v, mx * hh + hx],
                            pred[ci],
                            dc_codes[t],
                            ac_codes[t],
                        )
    entropy = wtr.flush()

    ncomp = len(hv)
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    for i, (hh, vv) in enumerate(hv):
        sof_body += bytes([i + 1, hh << 4 | vv, qsel[i]])
    sos_body = bytes([ncomp])
    for i in range(ncomp):
        t = 0 if i == 0 else 1
        sos_body += bytes([i + 1, t << 4 | t])
    sos_body += bytes([0, 63, 0])  # Ss, Se, Ah/Al (fixed for baseline)

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0 (1.02, no thumbnail)
    app0 = b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    out += _dqt_segment(0, qy)
    if ncomp == 3:
        out += _dqt_segment(1, qc)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">H", len(sof_body) + 2) + sof_body
    out += _dht_segment(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += _dht_segment(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if ncomp == 3:
        out += _dht_segment(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += _dht_segment(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    out += b"\xff\xda" + struct.pack(">H", len(sos_body) + 2) + sos_body
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (T.81 Annex G.1): fixed four-phase scan script that
# exercises every progressive decode path — DC first (Al=1), per-component
# AC first (Al=1), DC refinement, AC refinement.  EOB runs flush per block
# (plain EOB symbol 0x00): the Annex K tables define no EOBn>1 symbols.
# ---------------------------------------------------------------------------

def _zz_band(coefs: np.ndarray) -> np.ndarray:
    """(…, 8, 8) natural-order block → (…, 64) zigzag-order vector."""
    return coefs.reshape(*coefs.shape[:-2], 64)[..., ZIGZAG]


def _encode_ac_first(
    wtr: _BitWriter, zz: np.ndarray, ss: int, se: int, al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """One block of a first-approximation AC scan (G.1.2.2): run-length
    code the band of coef/2^Al (magnitude shift), EOB per block."""
    run = 0
    wrote_any = False
    for k in range(ss, se + 1):
        c = int(zz[k])
        v = (abs(c) >> al) * (1 if c >= 0 else -1)
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
        wrote_any = True
    if run > 0 or not wrote_any:
        code, ln = ac_codes[0x00]  # EOB (EOBRUN of exactly 1)
        wtr.write(code, ln)


def _encode_ac_refine(
    wtr: _BitWriter, zz: np.ndarray, ss: int, se: int, al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """One block of a successive-approximation AC refinement scan
    (G.1.2.3): newly-nonzero coefficients get (run, 1) + sign bit;
    already-nonzero coefficients passed over get buffered correction
    bits, attached to the next emitted symbol (or the block's EOB)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # index of the last newly-nonzero coefficient
    for i, a in enumerate(absv):
        if a == 1:
            eob = ss + i
    run = 0
    pending: list[int] = []  # correction bits awaiting a symbol
    for k in range(ss, se + 1):
        a = absv[k - ss]
        if a == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            code, ln = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
            for b in pending:
                wtr.write(b, 1)
            pending = []
        if a > 1:
            # history-nonzero: just the next magnitude bit
            pending.append(a & 1)
            continue
        # newly-nonzero (|coef| >> Al == 1): (run, size=1) + sign bit
        code, ln = ac_codes[(run << 4) | 1]
        wtr.write(code, ln)
        wtr.write(1 if int(zz[k]) >= 0 else 0, 1)
        for b in pending:
            wtr.write(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        code, ln = ac_codes[0x00]  # EOB carrying the trailing corrections
        wtr.write(code, ln)
        for b in pending:
            wtr.write(b, 1)


def jpeg_encode_progressive(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    bands: tuple[tuple[int, int], ...] = ((1, 63),),
) -> bytes:
    """Encode (H, W[, C]) uint8 as a progressive (SOF2) JFIF/JPEG with a
    four-phase scan script: interleaved DC first at Al=1, per-component
    AC first at Al=1 (one scan per spectral band in ``bands``), interleaved
    DC refinement, per-component AC refinement.  Decodes to the same pixels
    as the baseline encoder at the same quality (identical quantized
    coefficients, scan order aside).  ``bands`` must tile 1..63."""
    if bands[0][0] != 1 or bands[-1][1] != 63 or any(
        bands[i][1] + 1 != bands[i + 1][0] for i in range(len(bands) - 1)
    ):
        raise ValueError("bands must tile the AC range 1..63")
    coef_planes, hv, qsel, qy, qc, h, w = _prepare_planes(
        arr, quality, subsampling
    )
    ncomp = len(hv)
    hmax = max(x for x, _ in hv)
    vmax = max(x for _, x in hv)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    dc_codes = [_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_codes = [_canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS),
                _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    zz_planes = [_zz_band(cp) for cp in coef_planes]

    def dc_scan(al: int, refine: bool) -> bytes:
        wtr = _BitWriter()
        pred = [0] * ncomp
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hh, vv) in enumerate(hv):
                    t = 0 if ci == 0 else 1
                    for v in range(vv):
                        for hx in range(hh):
                            dc = int(zz_planes[ci][my * vv + v, mx * hh + hx, 0])
                            if refine:
                                wtr.write((dc >> al) & 1, 1)
                                continue
                            val = dc >> al  # arithmetic shift (G.1.2.1)
                            diff = val - pred[ci]
                            pred[ci] = val
                            s = _category(diff)
                            code, ln = dc_codes[t][s]
                            wtr.write(code, ln)
                            if s:
                                wtr.write(
                                    diff if diff > 0 else diff + (1 << s) - 1,
                                    s,
                                )
        return wtr.flush()

    def ac_scan(ci: int, ss: int, se: int, al: int, refine: bool) -> bytes:
        hh, vv = hv[ci]
        cw = -(-w * hh // hmax)
        ch_ = -(-h * vv // vmax)
        bw, bh = -(-cw // 8), -(-ch_ // 8)
        t = 0 if ci == 0 else 1
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                zz = zz_planes[ci][by, bx]
                if refine:
                    _encode_ac_refine(wtr, zz, ss, se, al, ac_codes[t])
                else:
                    _encode_ac_first(wtr, zz, ss, se, al, ac_codes[t])
        return wtr.flush()

    def sos(comps: list[int], dc_sel: bool, ss: int, se: int,
            ah: int, al: int, entropy: bytes) -> bytes:
        body = bytes([len(comps)])
        for ci in comps:
            t = 0 if ci == 0 else 1
            body += bytes([ci + 1, (t << 4) if dc_sel else t])
        body += bytes([ss, se, (ah << 4) | al])
        return (b"\xff\xda" + struct.pack(">H", len(body) + 2) + body
                + entropy)

    out = bytearray(b"\xff\xd8")  # SOI
    app0 = b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    out += _dqt_segment(0, qy)
    if ncomp == 3:
        out += _dqt_segment(1, qc)
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    for i, (hh, vv) in enumerate(hv):
        sof_body += bytes([i + 1, hh << 4 | vv, qsel[i]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof_body) + 2) + sof_body
    out += _dht_segment(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += _dht_segment(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if ncomp == 3:
        out += _dht_segment(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += _dht_segment(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)

    all_comps = list(range(ncomp))
    out += sos(all_comps, True, 0, 0, 0, 1, dc_scan(1, False))
    for ci in all_comps:
        for ss, se in bands:
            out += sos([ci], False, ss, se, 0, 1, ac_scan(ci, ss, se, 1, False))
    out += sos(all_comps, True, 0, 0, 1, 0, dc_scan(0, True))
    for ci in all_comps:
        for ss, se in bands:
            out += sos([ci], False, ss, se, 1, 0, ac_scan(ci, ss, se, 0, True))
    out += b"\xff\xd9"  # EOI
    return bytes(out)
