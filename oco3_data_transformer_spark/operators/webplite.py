"""Pure-numpy WebP-lossless (VP8L) codec for the multimodal decode path.

WebP is the second most common blob codec (after JPEG) in a real 100 TB
multimodal corpus; the reference's image handling leans on PIL, which is
not importable in this environment.  Exactly like the PNG codec in
operators/multimodal.py and the JPEG codec in operators/jpeglite.py, this
module implements the SUBSET of the public WebP Lossless Bitstream
Specification (and RIFF container spec) that covers real lossless files:

  decode — the full VP8L feature set: LSB-first bitstream, canonical
    (DEFLATE-style) prefix codes incl. simple 1/2-symbol codes and the
    19-symbol code-length code with 16/17/18 repeats and the max-symbol
    shortcut, color cache, meta prefix-code (entropy) images, LZ77
    length/distance with the 120-entry 2D distance map, and all four
    transforms — PREDICTOR (all 14 modes), COLOR (cross-color),
    SUBTRACT_GREEN, COLOR_INDEXING (incl. pixel bundling for palettes
    <= 16 colors) — chained and inverted in reverse stream order;
  encode — a minimal but fully spec-valid lossless encoder: no
    transforms, no LZ77, no color cache, one prefix-code group; literal
    channels entropy-coded with length-limited (package-merge) canonical
    prefix codes, simple codes when a channel has <= 2 distinct values.
    decode(encode(x)) == x bit-exactly for any uint8 image — the same
    lossless round-trip oracle the PNG/WAV/FLAC codecs use.

Lossy WebP (VP8 chunks) is a different format family (DCT-based) and
raises with a clear message.  operators/multimodal.decode_image uses the
system libwebp (operators/syscodecs.py) when it loads and this decoder
otherwise.

The 120-entry distance map is generated from its ordering rule (all
(dx, dy) neighbour offsets with dy in [0, 7], |dx| <= 8, sorted by
squared distance, then dy descending, then |dx| ascending with the
positive dx first), which reproduces the spec's published table; the
skip-gated PIL differential in tests/test_webplite.py re-checks it
against real libwebp output the moment the wheel appears.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# bit I/O (VP8L is LSB-first)
# --------------------------------------------------------------------------


class BitReader:
    def __init__(self, data: bytes):
        self._data = data
        self._pos = 0  # next byte index
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self._pos >= len(self._data):
                # spec allows reading past the end as zeros (the final
                # byte may be partially used); termination is guaranteed
                # because each refill adds 8 accumulator bits toward the
                # caller's fixed nbits
                self._n += 8
            else:
                self._acc |= self._data[self._pos] << self._n
                self._pos += 1
                self._n += 8
        out = self._acc & ((1 << nbits) - 1)
        self._acc >>= nbits
        self._n -= nbits
        return out

    def read_bit(self) -> int:
        return self.read(1)


class BitWriter:
    def __init__(self):
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc |= (value & ((1 << nbits) - 1)) << self._n
        self._n += nbits
        while self._n >= 8:
            self._out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def write_code(self, code: int, length: int) -> None:
        """Emit a canonical prefix code MSB-first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def write_vector(self, vals: np.ndarray, lens: np.ndarray) -> None:
        """Append many LSB-first (value, nbits) fields in one vectorized
        pass. Because consecutive fields tile the output bit range
        exactly, the bit sequence can be BUILT IN ORDER (repeat each
        value by its length, shift by the within-field index) and packed
        with np.packbits(bitorder='little') — no scatter at all, every
        step a contiguous C-speed pass. Bit-identical to calling write()
        per field (ADVICE r8 low: the per-pixel Python data pass made a
        2048x2048 encode take minutes). Fields are processed in ~4M
        blocks so temporaries stay bounded (~10 bytes per field bit)."""
        vals = np.asarray(vals, dtype=np.int32)  # prefix codes <= 15 bits
        lens = np.asarray(lens, dtype=np.int64)
        _BLOCK = 4_000_000
        for s in range(0, len(lens), _BLOCK):
            v = vals[s : s + _BLOCK]
            ln = lens[s : s + _BLOCK]
            nbits = int(ln.sum())
            if nbits == 0:
                continue
            start = np.repeat(np.cumsum(ln) - ln, ln)
            within = (np.arange(nbits, dtype=np.int64) - start).astype(np.int32)
            bits = ((np.repeat(v, ln) >> within) & 1).astype(np.uint8)
            if self._n:  # pending partial byte joins the front
                head = ((self._acc >> np.arange(self._n)) & 1).astype(np.uint8)
                bits = np.concatenate([head, bits])
            total = self._n + nbits
            packed = np.packbits(bits, bitorder="little")
            rem = total & 7
            nfull = total >> 3
            self._out += packed[:nfull].tobytes()
            self._acc = int(packed[nfull]) if rem else 0
            self._n = rem

    def getvalue(self) -> bytes:
        out = bytes(self._out)
        if self._n:
            out += bytes([self._acc & 0xFF])
        return out


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------


def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """DEFLATE-style canonical code assignment: symbol -> (code, length)."""
    maxlen = max(lengths, default=0)
    bl_count = [0] * (maxlen + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (maxlen + 2)
    for ln in range(1, maxlen + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class PrefixDecoder:
    """Bit-at-a-time canonical decoder; a single-symbol code reads 0 bits
    (the VP8L convention for simple codes with one symbol and for
    degenerate normal codes)."""

    def __init__(self, lengths: list[int]):
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("prefix code with no symbols")
        if len(nz) == 1:
            self._single = nz[0][0]
            self._table = None
            return
        self._single = None
        kraft = sum(1 / (1 << ln) for _, ln in nz)
        if abs(kraft - 1.0) > 1e-12:
            raise ValueError(f"invalid prefix code (Kraft sum {kraft})")
        self._table = {}
        for sym, (code, ln) in canonical_codes(lengths).items():
            self._table[(ln, code)] = sym

    def next(self, br: BitReader) -> int:
        if self._single is not None:
            return self._single
        code = 0
        ln = 0
        while True:
            code = (code << 1) | br.read_bit()
            ln += 1
            sym = self._table.get((ln, code))
            if sym is not None:
                return sym
            if ln > 15:
                raise ValueError("corrupt prefix stream")


def limited_huffman_lengths(counts: dict[int, int], maxlen: int) -> dict[int, int]:
    """Length-limited optimal code lengths via boundary package-merge.
    `counts` maps symbol -> positive count; needs >= 2 symbols."""
    items = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(items)
    if n < 2:
        raise ValueError("need >= 2 symbols")
    if (1 << maxlen) < n:
        raise ValueError("maxlen too small for alphabet")
    originals = [(c, (s,)) for s, c in items]
    merged = list(originals)
    for _ in range(maxlen - 1):
        packages = []
        for i in range(0, len(merged) - 1, 2):
            (c1, s1), (c2, s2) = merged[i], merged[i + 1]
            packages.append((c1 + c2, s1 + s2))
        merged = sorted(originals + packages, key=lambda kv: kv[0])
    lengths = {s: 0 for s in counts}
    for _, syms in merged[: 2 * n - 2]:
        for s in syms:
            lengths[s] += 1
    return lengths


# --------------------------------------------------------------------------
# VP8L constants
# --------------------------------------------------------------------------

_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
_NUM_LITERAL = 256
_NUM_LENGTH = 24
_NUM_DISTANCE = 40
_T_PREDICTOR, _T_COLOR, _T_SUBTRACT_GREEN, _T_COLOR_INDEXING = 0, 1, 2, 3


def _build_distance_map() -> list[tuple[int, int]]:
    cands = []
    for dy in range(8):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], abs(p[0]), -p[0]))
    return cands[:120]


_DISTANCE_MAP = _build_distance_map()


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _prefix_value(code: int, br: BitReader) -> int:
    """LZ77 length/distance prefix coding (code -> value >= 1)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------


def _read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixDecoder:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        first_8bits = br.read_bit()
        sym0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[sym0] = 1  # decoder treats single-symbol as 0-bit
        else:
            sym1 = br.read(8)
            lengths[sym0] = 1
            lengths[sym1] = 1
        return PrefixDecoder(lengths)
    # normal code: code-length code first
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_dec = PrefixDecoder(cl_lengths)
    if br.read_bit():  # max_symbol shortcut
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code_len = cl_dec.next(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev = code_len
        elif code_len == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    break
                lengths[symbol] = prev
                symbol += 1
        elif code_len == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 7 + br.read(7) + 4  # 11 + ReadBits(7)
    return PrefixDecoder(lengths)


class _PrefixGroup:
    __slots__ = ("green", "red", "blue", "alpha", "distance")

    def __init__(self, br: BitReader, cache_bits: int):
        cache_size = (1 << cache_bits) if cache_bits else 0
        self.green = _read_prefix_code(br, _NUM_LITERAL + _NUM_LENGTH + cache_size)
        self.red = _read_prefix_code(br, _NUM_LITERAL)
        self.blue = _read_prefix_code(br, _NUM_LITERAL)
        self.alpha = _read_prefix_code(br, _NUM_LITERAL)
        self.distance = _read_prefix_code(br, _NUM_DISTANCE)


def _decode_image_stream(
    br: BitReader, xsize: int, ysize: int, is_level0: bool
) -> tuple[np.ndarray, list]:
    """Decode one spatially-coded image; returns (flat uint32 ARGB array
    of xsize*ysize at the stream's CODED size, transform list). Transforms
    are only read (and returned) at level 0."""
    transforms = []
    if is_level0:
        while br.read_bit():
            ttype = br.read(2)
            if any(t[0] == ttype for t in transforms):
                raise ValueError("duplicate transform")
            if ttype in (_T_PREDICTOR, _T_COLOR):
                bits = br.read(3) + 2
                sw, sh = _sub_size(xsize, bits), _sub_size(ysize, bits)
                data, _ = _decode_image_stream(br, sw, sh, False)
                transforms.append((ttype, bits, data, xsize))
            elif ttype == _T_SUBTRACT_GREEN:
                transforms.append((ttype, None, None, xsize))
            else:  # COLOR_INDEXING
                n = br.read(8) + 1
                pal_deltas, _ = _decode_image_stream(br, n, 1, False)
                # palette entries are delta-coded per channel (mod 256)
                d = _unpack_argb(pal_deltas)
                pal = np.cumsum(d.astype(np.uint32), axis=0).astype(np.uint8)
                if n <= 2:
                    wbits = 3
                elif n <= 4:
                    wbits = 2
                elif n <= 16:
                    wbits = 1
                else:
                    wbits = 0
                transforms.append((ttype, wbits, pal, xsize))
                xsize = _sub_size(xsize, wbits)

    cache_bits = br.read(4) if br.read_bit() else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"invalid color-cache bits {cache_bits}")
    cache = np.zeros(1 << cache_bits, np.uint32) if cache_bits else None

    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw, mh = _sub_size(xsize, meta_bits), _sub_size(ysize, meta_bits)
        mimg, _ = _decode_image_stream(br, mw, mh, False)
        # meta group index = (red << 8) | green
        meta = (((mimg >> 16) & 0xFF) << 8 | ((mimg >> 8) & 0xFF)).astype(np.int64)
        num_groups = int(meta.max()) + 1
        meta = meta.reshape(mh, mw)
    groups = [_PrefixGroup(br, cache_bits) for _ in range(num_groups)]

    npix = xsize * ysize
    pix = np.zeros(npix, np.uint32)
    pos = 0
    cache_shift = 32 - cache_bits if cache_bits else 0
    while pos < npix:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            grp = groups[meta[y >> meta_bits, x >> meta_bits]]
        else:
            grp = groups[0]
        s = grp.green.next(br)
        if s < _NUM_LITERAL:
            r = grp.red.next(br)
            b = grp.blue.next(br)
            a = grp.alpha.next(br)
            v = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = v
            if cache is not None:
                cache[(0x1E35A7BD * v & 0xFFFFFFFF) >> cache_shift] = v
            pos += 1
        elif s < _NUM_LITERAL + _NUM_LENGTH:
            length = _prefix_value(s - _NUM_LITERAL, br)
            dcode = _prefix_value(grp.distance.next(br), br)
            if dcode <= 120:
                dx, dy = _DISTANCE_MAP[dcode - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dcode - 120
            if dist > pos or pos + length > npix:
                raise ValueError("LZ77 reference out of bounds")
            for _ in range(length):
                v = int(pix[pos - dist])
                pix[pos] = v
                if cache is not None:
                    cache[(0x1E35A7BD * v & 0xFFFFFFFF) >> cache_shift] = v
                pos += 1
        else:  # color-cache reference
            if cache is None:
                raise ValueError("cache symbol without color cache")
            pix[pos] = cache[s - _NUM_LITERAL - _NUM_LENGTH]
            pos += 1
    return pix, transforms


def _unpack_argb(flat: np.ndarray) -> np.ndarray:
    """(n,) uint32 ARGB -> (n, 4) uint8 [a, r, g, b]."""
    out = np.empty((len(flat), 4), np.uint8)
    out[:, 0] = (flat >> 24) & 0xFF
    out[:, 1] = (flat >> 16) & 0xFF
    out[:, 2] = (flat >> 8) & 0xFF
    out[:, 3] = flat & 0xFF
    return out


# ---- inverse transforms ---------------------------------------------------


def _inv_subtract_green(ch: np.ndarray) -> None:
    g = ch[:, :, 2].astype(np.uint16)
    ch[:, :, 1] = ((ch[:, :, 1] + g) & 0xFF).astype(np.uint8)
    ch[:, :, 3] = ((ch[:, :, 3] + g) & 0xFF).astype(np.uint8)


def _as_int8(u: np.ndarray) -> np.ndarray:
    """Reinterpret uint8 values as signed int8 (two's complement)."""
    i = u.astype(np.int32)
    return i - ((i > 127) * 256)


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta: (int8 t * int8 c) >> 5 (arithmetic shift —
    Python's >> floors, matching C arithmetic shift on negatives)."""
    return (t * c) >> 5


def _inv_color_transform(ch: np.ndarray, bits: int, data: np.ndarray, sw: int) -> None:
    h, w, _ = ch.shape
    sub = _unpack_argb(data).reshape(-1, sw, 4)
    by = np.arange(h) >> bits
    bx = np.arange(w) >> bits
    cte = sub[by[:, None], bx[None, :]]  # (h, w, 4) [a, r2b, g2b, g2r]
    g2r = _as_int8(cte[:, :, 3])
    g2b = _as_int8(cte[:, :, 2])
    r2b = _as_int8(cte[:, :, 1])
    green = _as_int8(ch[:, :, 2])
    red = (ch[:, :, 1].astype(np.int32) + _ct_delta(g2r, green)) & 0xFF
    blue = ch[:, :, 3].astype(np.int32) + _ct_delta(g2b, green)
    blue = (blue + _ct_delta(r2b, red - ((red > 127) * 256))) & 0xFF
    ch[:, :, 1] = red.astype(np.uint8)
    ch[:, :, 3] = blue.astype(np.uint8)


def _avg2(a: tuple, b: tuple) -> tuple:
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def _clamp255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _inv_predictor(ch: np.ndarray, bits: int, data: np.ndarray, sw: int) -> None:
    """Sequential inverse of the predictor transform (each reconstructed
    pixel feeds its right/below neighbours — inherently a scan loop; fine
    for the Arrow-batch blob sizes this runs on)."""
    h, w, _ = ch.shape
    modes = ((data >> 8) & 0xFF).astype(np.int64).reshape(-1, sw)
    px = ch.astype(np.int32)  # residuals in, reconstructed out
    for y in range(h):
        mrow = modes[y >> bits]
        for x in range(w):
            if x == 0 and y == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = tuple(px[0, x - 1])
            elif x == 0:
                pred = tuple(px[y - 1, 0])
            else:
                mode = mrow[x >> bits]
                L = tuple(px[y, x - 1])
                T = tuple(px[y - 1, x])
                TL = tuple(px[y - 1, x - 1])
                # rightmost column: TR wraps to the first pixel of this row
                TR = tuple(px[y - 1, x + 1]) if x + 1 < w else tuple(px[y, 0])
                if mode == 0:
                    pred = (0xFF, 0, 0, 0)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    # Select: the gradient L+T-TL, returned as whichever of
                    # T/L it is closer to in summed absolute distance
                    d = sum(abs(lc - tlc) for lc, tlc in zip(L, TL)) - sum(
                        abs(tc - tlc) for tc, tlc in zip(T, TL)
                    )
                    pred = T if d <= 0 else L
                elif mode == 12:
                    pred = tuple(
                        _clamp255(lc + tc - tlc) for lc, tc, tlc in zip(L, T, TL)
                    )
                elif mode == 13:
                    ave = _avg2(L, T)
                    # C-style truncation toward zero for (a - b) / 2
                    pred = tuple(
                        _clamp255(a + int((a - b) / 2)) for a, b in zip(ave, TL)
                    )
                else:
                    raise ValueError(f"invalid predictor mode {mode}")
            px[y, x] = (px[y, x] + np.array(pred, np.int32)) & 0xFF
    ch[:] = px.astype(np.uint8)


def _inv_color_indexing(
    ch: np.ndarray, wbits: int, pal: np.ndarray, out_w: int
) -> np.ndarray:
    h, packed_w, _ = ch.shape
    n = len(pal)
    ppb = 1 << wbits  # pixels per (green) byte
    bpp = 8 >> wbits
    idx = np.empty((h, out_w), np.int64)
    xs = np.arange(out_w)
    shifts = (xs % ppb) * bpp
    src = ch[:, xs // ppb, 2].astype(np.int64)
    idx = (src >> shifts[None, :]) & ((1 << bpp) - 1)
    out = np.zeros((h, out_w, 4), np.uint8)
    valid = idx < n
    out[valid] = pal[idx[valid]]
    return out


# ---- container ------------------------------------------------------------


def webp_decode(payload: bytes) -> np.ndarray:
    """Decode a lossless WebP (VP8L) payload to (H, W, 4) uint8 ARGB
    channels ordered [r, g, b, a] — callers slice what they need."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    off = 12
    vp8l = None
    while off + 8 <= len(payload):
        tag = payload[off : off + 4]
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        body = payload[off + 8 : off + 8 + size]
        if tag == b"VP8L":
            vp8l = body
            break
        if tag == b"VP8 " or tag == b"VP8X":
            raise NotImplementedError(
                "lossy/extended WebP (VP8/VP8X) needs an image library — "
                "operators/syscodecs.py binds the system libwebp for it "
                "when present (multimodal.decode_image routes there); "
                "lossless VP8L decodes here from spec"
            )
        off += 8 + size + (size & 1)
    if vp8l is None:
        raise ValueError("no VP8L chunk in WebP container")
    if vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = BitReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    flat, transforms = _decode_image_stream(br, w, h, True)
    # apply inverse transforms in reverse stream order, tracking width
    coded_w = w
    for t in transforms:
        if t[0] == _T_COLOR_INDEXING:
            coded_w = _sub_size(coded_w, t[1])
    ch = _unpack_argb(flat).reshape(h, coded_w, 4)
    for ttype, bits, data, width_at in reversed(transforms):
        if ttype == _T_SUBTRACT_GREEN:
            _inv_subtract_green(ch)
        elif ttype == _T_COLOR:
            _inv_color_transform(ch, bits, data, _sub_size(width_at, bits))
        elif ttype == _T_PREDICTOR:
            _inv_predictor(ch, bits, data, _sub_size(width_at, bits))
        else:  # COLOR_INDEXING: expands width back to width_at
            ch = _inv_color_indexing(ch, bits, data, width_at)
    # [a, r, g, b] -> [r, g, b, a]
    return ch[:, :, [1, 2, 3, 0]]


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------


def _write_prefix_code(bw: BitWriter, lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple when <= 2 symbols and they fit 8 bits,
    else normal with an explicit 19-entry code-length code, no repeats).
    Returns symbol -> (code, length) for the data pass."""
    nz = [s for s, ln in enumerate(lengths) if ln > 0]
    if 1 <= len(nz) <= 2 and max(nz) <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(nz[0], 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
            return {nz[0]: (0, 1), nz[1]: (1, 1)}
        return {nz[0]: (0, 0)}
    bw.write(0, 1)  # normal
    cl_hist: dict[int, int] = {}
    for ln in lengths:
        cl_hist[ln] = cl_hist.get(ln, 0) + 1
    if len(cl_hist) == 1:
        # degenerate: declare a second (unused) CL symbol so the
        # code-length code is complete (1 bit each)
        only = next(iter(cl_hist))
        other = 0 if only != 0 else 1
        cl_lengths = {only: 1, other: 1}
    else:
        cl_lengths = limited_huffman_lengths(cl_hist, 7)
    cl_vec = [cl_lengths.get(s, 0) for s in range(19)]
    bw.write(19 - 4, 4)  # num_code_lengths = 19
    for s in _CODE_LENGTH_ORDER:
        bw.write(cl_vec[s], 3)
    bw.write(0, 1)  # no max-symbol shortcut
    cl_codes = canonical_codes(cl_vec)
    for ln in lengths:
        code, cl = cl_codes[ln]
        bw.write_code(code, cl)
    return canonical_codes(lengths)


def _channel_lengths(values: np.ndarray, alphabet_size: int) -> list[int]:
    counts = np.bincount(values, minlength=alphabet_size)
    nz = {int(s): int(c) for s, c in enumerate(counts) if c}
    lengths = [0] * alphabet_size
    if len(nz) == 1:
        lengths[next(iter(nz))] = 1
    elif len(nz) == 2:
        for s in nz:
            lengths[s] = 1
    else:
        for s, ln in limited_huffman_lengths(nz, 15).items():
            lengths[s] = ln
    return lengths


def webp_encode(arr: np.ndarray) -> bytes:
    """Encode (H, W) or (H, W, C) uint8 (C in 1/3/4, channels RGB(A)) as
    lossless WebP: one VP8L literal-only stream, per-channel canonical
    prefix codes. decode(encode(x)) == x bit-exactly."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("webp_encode wants uint8")
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if not (1 <= h <= 16384 and 1 <= w <= 16384):
        raise ValueError("VP8L dimensions are 14-bit (1..16384)")
    if c == 1:
        r = g = b = a[:, :, 0]
        al = np.full((h, w), 255, np.uint8)
    elif c == 3:
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        al = np.full((h, w), 255, np.uint8)
    elif c == 4:
        r, g, b, al = a[:, :, 0], a[:, :, 1], a[:, :, 2], a[:, :, 3]
    else:
        raise ValueError(f"unsupported channel count {c}")

    bw = BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if (c == 4 and (al != 255).any()) else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix image
    gv, rv, bv, av = (x.ravel() for x in (g, r, b, al))
    green_codes = _write_prefix_code(
        bw, _channel_lengths(gv, _NUM_LITERAL + _NUM_LENGTH)
    )
    red_codes = _write_prefix_code(bw, _channel_lengths(rv, _NUM_LITERAL))
    blue_codes = _write_prefix_code(bw, _channel_lengths(bv, _NUM_LITERAL))
    alpha_codes = _write_prefix_code(bw, _channel_lengths(av, _NUM_LITERAL))
    _write_prefix_code(bw, [1] + [0] * (_NUM_DISTANCE - 1))  # unused distances

    def _lut(codes: dict[int, tuple[int, int]], size: int):
        # symbol -> (bit-reversed code, length): write_code emits the
        # canonical code MSB-first, which equals write()-ing its
        # bit-reversal LSB-first — the form write_vector packs
        rev = np.zeros(size, np.int64)
        ln = np.zeros(size, np.int64)
        for s, (code, length) in codes.items():
            ln[s] = length
            r = 0
            for i in range(length):
                r |= ((code >> i) & 1) << (length - 1 - i)
            rev[s] = r
        return rev, ln

    grev, glen = _lut(green_codes, _NUM_LITERAL + _NUM_LENGTH)
    rrev, rlen = _lut(red_codes, _NUM_LITERAL)
    brev, blen = _lut(blue_codes, _NUM_LITERAL)
    arev, alen = _lut(alpha_codes, _NUM_LITERAL)
    gi, ri, bi, ai = (x.astype(np.int64) for x in (gv, rv, bv, av))
    vals = np.column_stack([grev[gi], rrev[ri], brev[bi], arev[ai]]).ravel()
    lens = np.column_stack([glen[gi], rlen[ri], blen[bi], alen[ai]]).ravel()
    bw.write_vector(vals, lens)
    stream = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(stream)) + stream
    if len(stream) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
