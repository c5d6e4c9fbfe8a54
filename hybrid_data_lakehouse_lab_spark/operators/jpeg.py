"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) in pure numpy + stdlib.

The container has no codec libraries, but baseline sequential JPEG needs
none: the whole pipeline — JFIF marker structure, quantization tables
(Annex K luminance/chrominance scaled by IJG quality), level shift,
8×8 DCT-II, zigzag, DC prediction, run-length + canonical-Huffman
entropy coding with byte stuffing, and the full inverse path — is
arithmetic over uint8 arrays.

Scope (same honest-slot contract as the other media codecs in
operators/multimodal.py):

- ENCODER: 8-bit, 3-component YCbCr (JFIF BT.601) at 4:4:4, 4:2:2,
  or 4:2:0 chroma subsampling (box-mean downsample, interleaved v×h
  MCU blocks) or 1-component grayscale; baseline DCT (SOF0, optionally
  with restart intervals) or PROGRESSIVE (SOF2: spectral selection —
  one interleaved DC scan + per-component full-band AC scans with EOBn
  run coding — optionally with SUCCESSIVE APPROXIMATION: Al=1 first
  passes plus Ah=1/Al=0 refinement passes whose correction bits buffer
  through EOB runs; 4:4:4/gray). The Huffman
  tables are CUSTOM spec-valid canonical tables declared in DHT —
  fixed-length 4-bit DC / 8-bit AC codes (12 and 162 symbols: neither
  fills its length class, so the reserved all-ones code never occurs,
  per T.81 C.2). Declaring tables in-stream is exactly what the format
  is for, and it forces the decoder below to BUILD tables from DHT
  rather than assume Annex K.
- DECODER: baseline sequential AND progressive — spectral selection
  and successive approximation (coefficients accumulate across any
  number of scans; EOBn runs, non-interleaved component scans, point
  transforms, per-coefficient refinement with correction bits flowing
  through EOB runs per T.81 G.1.2.3). Any spec-valid DHT (including
  Annex K files from other encoders), multiple DQT/DHT segments,
  grayscale or color at any sampling factors in {1,2}×{1,2} (4:4:4 /
  4:2:2 / 4:4:0 / 4:2:0 — replication upsample), restart intervals
  (DRI/RSTn — the splittable-scan hook: byte-aligned marker cycling
  and per-segment DC reset, so each restart segment decodes
  independently), and dimensions that aren't multiples of the MCU.
  Arithmetic coding, 12-bit precision, and sampling factors >2 raise
  NotImplementedError.

JPEG is lossy, so — unlike the BMP/PNG/PPM/AVI/μ-law lanes — the
driver-visible lane (`multimodal_image_jpeg` in plans/multimodal.py)
pairs on dimensions plus a bounded-reconstruction-error VERDICT, with
the bound itself asserted empirically in tests/test_jpeg.py.

Reference parity note: the reference repo has no media decode at all;
this module exists for the LLM-pipeline north star (multimodal corpus
curation), same as the rest of operators/multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K quantization tables (public ITU-T T.81 constants) --------------

STD_LUMINANCE_Q = np.array(
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
    dtype=np.int32,
).reshape(8, 8)

STD_CHROMINANCE_Q = np.array(
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
    dtype=np.int32,
).reshape(8, 8)

# Zigzag scan order (T.81 Figure 5): ZIGZAG[k] = flat index of the k-th
# coefficient in scan order. Generated, not transcribed.


def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((x, y) for x in range(8) for y in range(8)),
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else p[1]),
    )
    return np.array([x * 8 + y for x, y in order], dtype=np.int64)


ZIGZAG = _zigzag_order()

# Orthonormal 8x8 DCT-II basis: DCT = C @ block @ C.T, IDCT = C.T @ blk @ C.
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)

# --- custom spec-valid Huffman tables (fixed-length canonical codes) --------

_DC_SYMBOLS = list(range(12))  # magnitude categories 0..11
_AC_SYMBOLS = (
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(1, 15)]
)  # EOB/EOB0, ZRL, (run, size), EOB1..EOB14 (progressive): 176 symbols

# BITS[i] = number of codes of length i+1 (T.81 DHT payload shape)
_DC_BITS = [0] * 16
_DC_BITS[3] = len(_DC_SYMBOLS)  # all DC codes are 4 bits (12 < 15 used)
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_SYMBOLS)  # all AC codes are 8 bits (176 < 255 used)


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 C.2 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_ENC_AC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
        # drop emitted high bits: without this the accumulator retains
        # every bit ever written and each shift copies a growing bignum
        # (quadratic in stream length on the per-symbol progressive path)
        self.acc &= (1 << self.nbits) - 1

    def write_big(self, val: int, length: int) -> None:
        """Append `length` bits of `val` (an arbitrary-width Python int
        of already-concatenated codes) and emit every completed byte in
        one to_bytes + replace pass — byte stuffing (T.81 F.1.2.3) is
        exactly 'insert 0x00 after each 0xFF', which bytes.replace does
        in C instead of a per-byte Python loop."""
        self.acc = (self.acc << length) | val
        self.nbits += length
        nbytes = self.nbits >> 3
        if nbytes:
            rem = self.nbits - (nbytes << 3)
            chunk = (self.acc >> rem).to_bytes(nbytes, "big")
            self.acc &= (1 << rem) - 1
            self.nbits = rem
            if b"\xff" in chunk:
                chunk = chunk.replace(b"\xff", b"\xff\x00")
            self.buf += chunk

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits) for a DC diff / AC coefficient (F.1.2.1):
    negatives are stored as value + 2^s - 1 (one's-complement style)."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _quality_scaled(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=-1,
    )


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    return np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )


def _quantized_blocks(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8×8 block of one padded plane: returns an
    (h8, w8, 8, 8) int32 array of quantized coefficients."""
    h8, w8 = plane.shape[0] // 8, plane.shape[1] // 8
    shifted = plane.astype(np.float64) - 128.0
    blocks = shifted.reshape(h8, 8, w8, 8).transpose(0, 2, 1, 3)
    coeffs = np.einsum("ij,abjk,lk->abil", _C, blocks, _C)
    return np.round(coeffs / qt).astype(np.int32)


def _entropy_code_block(
    zz: np.ndarray, dc_codes, ac_codes, writer: _BitWriter, prev_dc: int
) -> int:
    """Entropy-code one zigzag-ordered quantized block (DC prediction +
    AC run-length per F.1.2); returns the block's DC for prediction.

    Codes accumulate into one local Python int (a block is a few
    hundred bits — cheap bignum shifts) and land in the writer via a
    single write_big call, so the per-symbol cost is two int ops
    instead of a method call with a byte-emit loop."""
    acc = 0
    nb = 0
    v = int(zz[0]) - prev_dc
    if v:
        s = v.bit_length() if v >= 0 else (-v).bit_length()
        code, ln = dc_codes[s]
        acc = (code << s) | ((v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1))
        nb = ln + s
    else:
        acc, nb = dc_codes[0]
    run = 0
    zz_list = zz.tolist()
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    zrl_code, zrl_ln = ac_codes[0xF0]
    for k in range(1, last_nz + 1):
        v = zz_list[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            acc = (acc << zrl_ln) | zrl_code  # ZRL: 16 zeros
            nb += zrl_ln
            run -= 16
        s = v.bit_length() if v >= 0 else (-v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        acc = (acc << (ln + s)) | (code << s) | (
            (v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)
        )
        nb += ln + s
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        acc = (acc << ln) | code
        nb += ln
    writer.write_big(acc, nb)
    return int(zz_list[0])


_SUBSAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def encode_jpeg(
    pixels,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
    successive: bool = False,
) -> bytes:
    """Encode an (h, w, 3) RGB or (h, w) grayscale uint8 array as a
    baseline JFIF JPEG (SOF0, 8-bit). ``subsampling`` picks the chroma
    layout: "444" (every component full-resolution), "422" (chroma
    halved horizontally), or "420" (halved both ways — the layout
    nearly every camera/web JPEG uses; chroma is box-mean downsampled
    and the MCU interleave becomes 4 luma + 1 Cb + 1 Cr blocks).
    Quantization = Annex K tables at IJG `quality`; entropy tables are
    the module's canonical fixed-length codes, declared in DHT.
    Deterministic: float64 DCT and round-half-even quantization have no
    platform-dependent paths."""
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    if progressive and restart_interval:
        raise ValueError("progressive encoding here does not emit restarts")
    if progressive and not gray and subsampling != "444":
        raise NotImplementedError(
            "progressive encoding here is 4:4:4/grayscale only"
        )
    if successive and not progressive:
        raise ValueError("successive approximation requires progressive=True")
    qt_l = _quality_scaled(STD_LUMINANCE_Q, quality)
    qt_c = _quality_scaled(STD_CHROMINANCE_Q, quality)

    factors = ((1, 1),) if gray else _SUBSAMPLING[subsampling]
    maxh = max(f[0] for f in factors)
    maxv = max(f[1] for f in factors)
    mcu_cols = (w + 8 * maxh - 1) // (8 * maxh)
    mcu_rows = (h + 8 * maxv - 1) // (8 * maxv)
    full_h, full_w = mcu_rows * 8 * maxv, mcu_cols * 8 * maxh
    if gray:
        full = [np.asarray(arr, dtype=np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        full = [ycc[..., i] for i in range(3)]
    if full_h != h or full_w != w:
        # edge-replicate pad without np.pad (whose generic pad-area
        # machinery costs ~10× the two broadcast assignments needed here)
        padded = []
        for p in full:
            q = np.empty((full_h, full_w), dtype=p.dtype)
            q[:h, :w] = p
            if full_w != w:
                q[:h, w:] = q[:h, w - 1 : w]
            if full_h != h:
                q[h:, :] = q[h - 1 : h, :]
            padded.append(q)
        full = padded
    planes = []
    for p, (fh_, fv_) in zip(full, factors):
        fx, fy = maxh // fh_, maxv // fv_
        if fx == fy == 1:
            planes.append(p)
        else:  # box-mean chroma downsample
            planes.append(
                p.reshape(full_h // fy, fy, full_w // fx, fx).mean(axis=(1, 3))
            )

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )  # APP0
    # DQT: table 0 (luminance) and, for color, table 1 (chrominance)
    out += seg(0xFFDB, bytes([0]) + bytes(qt_l.reshape(64)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(
            0xFFDB, bytes([1]) + bytes(qt_c.reshape(64)[ZIGZAG].astype(np.uint8))
        )
    # SOF0: baseline, 8-bit, per-component sampling factors
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        fh_, fv_ = factors[ci]
        sof += struct.pack(
            ">BBB", ci + 1, (fh_ << 4) | fv_, 0 if ci == 0 else 1
        )
    out += seg(0xFFC2 if progressive else 0xFFC0, sof)
    # DHT: DC table 0, AC table 0 (+ DC 1 / AC 1 for chroma, same codes —
    # declared separately so the decoder's table-id routing is exercised)
    for tc_th, bits, vals in (
        ((0 << 4) | 0, _DC_BITS, _DC_SYMBOLS),
        ((1 << 4) | 0, _AC_BITS, _AC_SYMBOLS),
    ) + (
        ()
        if gray
        else (
            ((0 << 4) | 1, _DC_BITS, _DC_SYMBOLS),
            ((1 << 4) | 1, _AC_BITS, _AC_SYMBOLS),
        )
    ):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    def sos_seg(comp_ids, ss, se, ah=0, al=0) -> bytes:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            body += bytes([ci + 1, 0 if ci == 0 else 0x11])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xFFDA, body)

    if progressive:
        # Scan script: one interleaved DC scan, then one full-band AC
        # scan per component (non-interleaved, per spec). With
        # successive approximation, each of those runs twice — a first
        # pass at Al=1 (point-transformed values) and a refinement pass
        # at Ah=1/Al=0 that appends the final magnitude bit — the shape
        # real progressive web JPEGs use. All-zero bands accumulate into
        # EOBn run codes across blocks; refinement correction bits are
        # buffered through runs per T.81 G.1.2.3.
        comps_zz = [
            _quantized_blocks(p, qt)
            .reshape(p.shape[0] // 8, p.shape[1] // 8, 64)[..., ZIGZAG]
            for p, qt in zip(planes, (qt_l, qt_c, qt_c))
        ]
        h8, w8 = planes[0].shape[0] // 8, planes[0].shape[1] // 8

        def dc_scan(al):
            nonlocal out
            out += sos_seg(range(ncomp), 0, 0, 0, al)
            writer = _BitWriter()
            prev = [0] * ncomp
            for by in range(h8):
                for bx in range(w8):
                    for ci in range(ncomp):
                        v = int(comps_zz[ci][by, bx, 0]) >> al  # arithmetic
                        s0, bits = _magnitude(v - prev[ci])
                        code, ln = _ENC_DC[s0]
                        writer.write(code, ln)
                        if s0:
                            writer.write(bits, s0)
                        prev[ci] = v
            out += writer.flush()

        def dc_refine(al):
            nonlocal out
            out += sos_seg(range(ncomp), 0, 0, al + 1, al)
            writer = _BitWriter()
            for by in range(h8):
                for bx in range(w8):
                    for ci in range(ncomp):
                        writer.write((int(comps_zz[ci][by, bx, 0]) >> al) & 1, 1)
            out += writer.flush()

        def ac_first(ci, al):
            nonlocal out
            out += sos_seg([ci], 1, 63, 0, al)
            writer = _BitWriter()
            eobrun = 0

            def flush_eobrun():
                nonlocal eobrun
                while eobrun:
                    chunk = min(eobrun, 32767)
                    r = chunk.bit_length() - 1
                    code, ln = _ENC_AC[r << 4]
                    writer.write(code, ln)
                    if r:
                        writer.write(chunk - (1 << r), r)
                    eobrun -= chunk

            cz = comps_zz[ci]
            for by in range(cz.shape[0]):
                for bx in range(cz.shape[1]):
                    # point transform: magnitude shift (toward zero)
                    band = [
                        (abs(int(v)) >> al) * (1 if v >= 0 else -1)
                        for v in cz[by, bx, 1:]
                    ]
                    nz = [k for k, v in enumerate(band) if v != 0]
                    if not nz:
                        eobrun += 1
                        if eobrun == 32767:
                            flush_eobrun()
                        continue
                    flush_eobrun()
                    last = nz[-1]
                    run = 0
                    for k in range(last + 1):
                        v = band[k]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, ln = _ENC_AC[0xF0]
                            writer.write(code, ln)
                            run -= 16
                        s1, bits = _magnitude(v)
                        code, ln = _ENC_AC[(run << 4) | s1]
                        writer.write(code, ln)
                        writer.write(bits, s1)
                        run = 0
                    if last < 62:
                        eobrun += 1
            flush_eobrun()
            out += writer.flush()

        def ac_refine(ci, al):
            nonlocal out
            out += sos_seg([ci], 1, 63, al + 1, al)
            writer = _BitWriter()
            eobrun = 0
            be_bits: list[int] = []  # correction bits buffered over EOB runs

            def flush_eobrun():
                nonlocal eobrun
                while eobrun or be_bits:
                    if eobrun:
                        chunk = min(eobrun, 32767)
                        r = chunk.bit_length() - 1
                        code, ln = _ENC_AC[r << 4]
                        writer.write(code, ln)
                        if r:
                            writer.write(chunk - (1 << r), r)
                        eobrun -= chunk
                    for b in be_bits:
                        writer.write(b, 1)
                    be_bits.clear()
                    if not eobrun:
                        break

            cz = comps_zz[ci]
            for by in range(cz.shape[0]):
                for bx in range(cz.shape[1]):
                    vals = [int(v) for v in cz[by, bx, 1:]]
                    absv = [abs(v) >> al for v in vals]
                    eob = 0  # index past the last NEWLY-significant coef
                    for k, t in enumerate(absv):
                        if t == 1:
                            eob = k + 1
                    r = 0
                    br: list[int] = []  # this block's pending correction bits
                    for k, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        # Emit pending ZRLs at EVERY nonzero coefficient
                        # (not only newly-significant ones), so correction
                        # bits for already-significant coefficients beyond
                        # a ZRL's 16-zero span stay associated with the
                        # right Huffman code (T.81 G.7 / jcphuff.c order).
                        # `k < eob` folds trailing ZRLs into the EOB run.
                        while r > 15 and k < eob:
                            flush_eobrun()
                            code, ln = _ENC_AC[0xF0]
                            writer.write(code, ln)
                            r -= 16
                            for b in br:
                                writer.write(b, 1)
                            br.clear()
                        if t > 1:  # already significant: correction bit
                            br.append(t & 1)
                            continue
                        # newly significant (t == 1)
                        flush_eobrun()
                        code, ln = _ENC_AC[(r << 4) | 1]
                        writer.write(code, ln)
                        writer.write(1 if vals[k] > 0 else 0, 1)
                        for b in br:
                            writer.write(b, 1)
                        br.clear()
                        r = 0
                    if r > 0 or br:
                        eobrun += 1
                        be_bits.extend(br)
                        if eobrun == 32767:
                            flush_eobrun()
            flush_eobrun()
            out += writer.flush()

        if successive:
            dc_scan(1)
            for ci in range(ncomp):
                ac_first(ci, 1)
            dc_refine(0)
            for ci in range(ncomp):
                ac_refine(ci, 0)
        else:
            dc_scan(0)
            for ci in range(ncomp):
                ac_first(ci, 0)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    out += sos_seg(range(ncomp), 0, 63)

    writer = _BitWriter()
    # baseline interleaved MCU order: each MCU holds v×h blocks of every
    # component (raster order within the MCU), row-major over MCUs. With
    # a restart interval, every `restart_interval` MCUs the bit stream
    # pads to a byte boundary, an RSTn marker (n cycling 0..7) is
    # emitted, and DC prediction resets — each segment then decodes
    # INDEPENDENTLY, which is the format's own splittable-scan hook (at
    # 100 TB, the property that lets one huge image decode in parallel).
    comps = [
        _quantized_blocks(p, qt)
        for p, qt in zip(planes, (qt_l, qt_c, qt_c))
    ]
    prev = [0] * ncomp
    mcu_index = 0
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                out += writer.flush()
                out += bytes(
                    [0xFF, 0xD0 + (mcu_index // restart_interval - 1) % 8]
                )
                writer = _BitWriter()
                prev = [0] * ncomp
            for ci in range(ncomp):
                fh_, fv_ = factors[ci]
                for by in range(fv_):
                    for bx in range(fh_):
                        zz = comps[ci][my * fv_ + by, mx * fh_ + bx].reshape(
                            64
                        )[ZIGZAG]
                        prev[ci] = _entropy_code_block(
                            zz, _ENC_DC, _ENC_AC, writer, prev[ci]
                        )
            mcu_index += 1
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ----------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; any other marker mid-scan is an error (restart markers
    are an explicit NotImplementedError)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        # Trailing bits in `acc` that were synthesized past the end of
        # the entropy segment (a marker or end-of-data) so that peeks
        # never fault. Consuming one is the corrupt-stream signal the
        # per-bit reader used to raise from inside _fill.
        self.virtual = 0

    def _fill_to(self, n: int) -> None:
        """Buffer at least `n` bits. Bytes are pulled in bulk (0xFF00
        stuffing unstuffed inline); a marker or end-of-data pads with
        virtual zero bits instead of raising, so the symbol LUT can
        always peek 16 bits — the raise happens only if a virtual bit
        is actually consumed (see read_bit/_read_symbol)."""
        data = self.data
        pos = self.pos
        # Drop already-consumed high bits before appending: reads only
        # ever mask the low `nbits`, but without this the accumulator
        # keeps every bit it has seen and grows into a megabit bignum —
        # each subsequent shift then copies the whole thing, turning
        # decode quadratic in stream length (measured 9 s for a 256²
        # image; 0.2 s truncated).
        nbits = self.nbits
        acc = self.acc & ((1 << nbits) - 1)
        ln = len(data)
        while nbits < n:
            # bulk path: 8 stuffing-free bytes in one from_bytes
            chunk = data[pos : pos + 8]
            if len(chunk) == 8 and b"\xff" not in chunk:
                acc = (acc << 64) | int.from_bytes(chunk, "big")
                nbits += 64
                pos += 8
                continue
            if pos < ln:
                b = data[pos]
                if b != 0xFF:
                    acc = (acc << 8) | b
                    nbits += 8
                    pos += 1
                    continue
                if pos + 1 < ln and data[pos + 1] == 0x00:
                    acc = (acc << 8) | 0xFF
                    nbits += 8
                    pos += 2
                    continue
                # a real marker (RSTn / EOI / next segment): stop here
            acc <<= 8
            nbits += 8
            self.virtual += 8
        self.pos = pos
        self.acc = acc
        self.nbits = nbits

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill_to(1)
        self.nbits -= 1
        if self.nbits < self.virtual:
            raise ValueError(
                "entropy data exhausted mid-unit: marker or end of "
                "stream reached (corrupt stream or wrong DRI interval)"
            )
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill_to(n)
        self.nbits -= n
        if self.nbits < self.virtual:
            raise ValueError(
                "entropy data exhausted mid-unit: marker or end of "
                "stream reached (corrupt stream or wrong DRI interval)"
            )
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def sync_restart(self, expected: int) -> None:
        """Consume an RSTn at a restart boundary: discard pad bits to
        the byte boundary, then the 2-byte marker (n must cycle 0..7)."""
        self.acc = self.nbits = self.virtual = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + expected:
            raise ValueError(
                f"expected RST{expected} at byte {self.pos}, found "
                f"{self.data[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


def _build_decode_table(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, canonical per T.81 C.2 — works for ANY
    spec-valid DHT, not just this module's fixed-length tables."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


# Built LUTs memoized on the DHT payload: a corpus of images produced by
# one encoder family (this module's fixed tables, or Annex K) re-declares
# the same handful of tables in every file, and the flat LUT is a pure
# function of that payload. CAPPED (ADVICE r11): an external corpus
# where every image carries per-image optimized tables would otherwise
# grow a long-lived worker without bound (each entry is a 64k-int list,
# several MB). Past the cap, entries are evicted FIFO — the cache keeps
# helping encoder-family corpora and degrades to per-image builds on
# all-distinct ones.
_DECODE_LUT_CACHE: dict[tuple[bytes, bytes], list[int]] = {}
_DECODE_LUT_CACHE_MAX = 64  # ~64 × 64k ints ≈ a few hundred MB worst case


def _build_decode_lut(bits: list[int], vals: bytes) -> list[int]:
    """Flat 2^16 lookup table: entry at any 16-bit window whose prefix
    is a code holds (symbol << 5) | code_length; 0 marks an invalid
    prefix (no canonical code is length 0). One peek + one list index
    replaces the per-bit tree walk of _build_decode_table — the
    standard table-driven Huffman decode every production JPEG decoder
    uses (e.g. libjpeg's jdhuff lookahead table)."""
    key = (bytes(bits), bytes(vals))
    lut = _DECODE_LUT_CACHE.get(key)
    if lut is not None:
        return lut
    table = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        width = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            table[lo : lo + width] = (vals[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    lut = table.tolist()
    if len(_DECODE_LUT_CACHE) >= _DECODE_LUT_CACHE_MAX:
        _DECODE_LUT_CACHE.pop(next(iter(_DECODE_LUT_CACHE)))
    _DECODE_LUT_CACHE[key] = lut
    return lut


def _read_symbol(reader: _BitReader, lut: list[int]) -> int:
    if reader.nbits < 16:
        reader._fill_to(16)
    entry = lut[(reader.acc >> (reader.nbits - 16)) & 0xFFFF]
    if entry == 0:
        raise ValueError("invalid Huffman code in entropy data")
    reader.nbits -= entry & 0x1F
    if reader.nbits < reader.virtual:
        raise ValueError(
            "entropy data exhausted mid-unit: marker or end of "
            "stream reached (corrupt stream or wrong DRI interval)"
        )
    return entry >> 5


def decode_jpeg(payload: bytes):
    """Decode a JFIF JPEG → (h, w, 3) RGB or (h, w) grayscale uint8
    array: baseline sequential (SOF0, interleaved or per-component
    scans) AND progressive spectral selection (SOF2 — DC scan + per-
    component AC band scans with EOBn run coding), with restart
    intervals in either mode. Coefficients accumulate across scans and
    dequantize + IDCT once at EOI. See the module docstring for the
    envelope; successive approximation (Ah/Al ≠ 0), arithmetic coding,
    12-bit precision, and sampling factors > 2 raise
    NotImplementedError, malformed streams ValueError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    pos = 2
    restart_interval = 0
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    frame = None
    progressive = False
    coeffs: list[np.ndarray] = []
    scans_seen = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (may hold several tables)
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables")
                zz = np.frombuffer(body, np.uint8, 64, at + 1).astype(np.int32)
                qt = np.zeros(64, np.int32)
                qt[ZIGZAG] = zz
                qtables[tq] = qt.reshape(8, 8)
                at += 65
        elif marker == 0xC4:  # DHT (may hold several tables)
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0xF
                bits = list(body[at + 1 : at + 17])
                n = sum(bits)
                vals = body[at + 17 : at + 17 + n]
                htables[(tc, th)] = _build_decode_lut(bits, vals)
                at += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            precision, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError(f"{precision}-bit precision")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                sh, sv = hv >> 4, hv & 0xF
                if sh not in (1, 2) or sv not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {sh}x{sv} are not decoded here "
                        f"(1 and 2 only)"
                    )
                comps.append((cid, tq, sh, sv))
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            frame = (fh, fw, comps)
            maxh = max(c[2] for c in comps)
            maxv = max(c[3] for c in comps)
            mcu_cols = (fw + 8 * maxh - 1) // (8 * maxh)
            mcu_rows = (fh + 8 * maxv - 1) // (8 * maxv)
            # zigzag-ordered coefficient store, accumulated across scans
            coeffs = [
                np.zeros((mcu_rows * c[3], mcu_cols * c[2], 64), np.int32)
                for c in comps
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"only baseline SOF0 and progressive SOF2 are decoded here "
                f"(got SOF marker 0xff{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — decode this scan's entropy data
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            sc = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            ss, se, ah_al = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0xF
            if not progressive and (ss, se, ah_al) != (0, 63, 0):
                raise ValueError("baseline scan must cover band 0..63")
            pos = _decode_scan(
                payload, pos + 2 + seg_len, frame, sc, ss, se, ah, al,
                htables, coeffs, restart_interval,
            )
            scans_seen += 1
            continue
        # APPn / COM / others: skipped
        pos += 2 + seg_len
    if frame is None or scans_seen == 0:
        raise ValueError("JPEG missing SOF or SOS")
    fh, fw, comps = frame
    maxh = max(c[2] for c in comps)
    maxv = max(c[3] for c in comps)
    # dequantize + IDCT every block at once, per component
    up = []
    qtz = {tq: qt.reshape(64)[ZIGZAG] for tq, qt in qtables.items()}
    for cz, c in zip(coeffs, comps):
        bh, bw = cz.shape[:2]
        nat = np.zeros((bh, bw, 64), np.float64)
        nat[..., ZIGZAG] = cz * qtz[c[1]]
        blocks = nat.reshape(bh, bw, 8, 8)
        pix = np.einsum("ji,abjk,kl->abil", _C, blocks, _C) + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        fy, fx = maxv // c[3], maxh // c[2]
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        up.append(plane[:fh, :fw])
    if len(up) == 1:
        return np.clip(np.round(up[0]), 0, 255).astype(np.uint8)
    rgb = _ycbcr_to_rgb(np.stack(up, axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_scan(
    payload, data_pos, frame, sc, ss, se, ah, al,
    htables, coeffs, restart_interval,
):
    """Decode one scan's entropy data into the zigzag coefficient
    store; returns the byte position after the scan. Handles baseline
    interleaved scans, progressive spectral selection, and progressive
    SUCCESSIVE APPROXIMATION (Ah/Al): first scans store point-
    transformed values shifted left by Al; refinement scans (Ah = Al+1)
    append one magnitude bit per already-significant coefficient and
    insert newly-significant ±2^Al values, with correction bits flowing
    through EOB runs (T.81 G.1.2; same control flow as libjpeg's
    decode_mcu_AC_refine). Restart markers reset DC prediction and EOB
    runs every `restart_interval` data units."""
    fh, fw, comps = frame
    maxh = max(c[2] for c in comps)
    maxv = max(c[3] for c in comps)
    reader = _BitReader(payload, data_pos)
    lookup = []
    for cs, td_ta in sc:
        idx = next(i for i, c in enumerate(comps) if c[0] == cs)
        dc_t = htables.get((0, td_ta >> 4)) if ss == 0 and ah == 0 else None
        ac_t = htables.get((1, td_ta & 0xF)) if se > 0 else None
        lookup.append((idx, dc_t, ac_t))
    prev = {idx: 0 for idx, _d, _a in lookup}
    state = {"eobrun": 0}
    p1 = 1 << al
    m1 = -p1

    _exhausted = (
        "entropy data exhausted mid-unit: marker or end of "
        "stream reached (corrupt stream or wrong DRI interval)"
    )

    def decode_dc(idx, dc_t, zz):
        if ah == 0:  # first DC scan: diff-coded point-transformed value
            # one buffered fill covers the symbol (≤16 bits) and its
            # value bits (≤11) — LUT peek + two masked shifts, no
            # per-bit calls (same inlining as decode_ac_first)
            if reader.nbits < 27:
                reader._fill_to(32)
            nb = reader.nbits
            entry = dc_t[(reader.acc >> (nb - 16)) & 0xFFFF]
            if entry == 0:
                raise ValueError("invalid Huffman code in entropy data")
            sym = entry >> 5
            nb -= (entry & 0x1F) + sym
            reader.nbits = nb
            if nb < reader.virtual:
                raise ValueError(_exhausted)
            if sym:
                bits = (reader.acc >> nb) & ((1 << sym) - 1)
                prev[idx] += (
                    bits if bits >= (1 << (sym - 1)) else bits - (1 << sym) + 1
                )
            zz[0] = prev[idx] << al
        else:  # refinement: one bit, OR'd at position al
            if reader.read_bit():
                zz[0] = int(zz[0]) | p1

    def decode_ac_first(ac_t, zz, k0, k1):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = k0
        while k <= k1:
            # fill once for symbol (≤16) + value (≤11) bits
            if reader.nbits < 27:
                reader._fill_to(32)
            nb = reader.nbits
            entry = ac_t[(reader.acc >> (nb - 16)) & 0xFFFF]
            if entry == 0:
                raise ValueError("invalid Huffman code in entropy data")
            sym = entry >> 5
            run = sym >> 4
            size = sym & 0xF
            nb -= entry & 0x1F
            if size == 0:
                reader.nbits = nb
                if nb < reader.virtual:
                    raise ValueError(_exhausted)
                if run == 15:  # ZRL
                    k += 16
                    continue
                state["eobrun"] = (1 << run) - 1 + reader.read_bits(run)
                return
            nb -= size
            reader.nbits = nb
            if nb < reader.virtual:
                raise ValueError(_exhausted)
            bits = (reader.acc >> nb) & ((1 << size) - 1)
            k += run
            if k > k1:
                raise ValueError("AC run past end of band")
            zz[k] = (
                bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1
            ) << al
            k += 1

    def refine_nonzero(zz, k):
        """Correction bit for an already-significant coefficient."""
        if reader.read_bit() and (int(zz[k]) & p1) == 0:
            zz[k] += p1 if zz[k] >= 0 else m1

    def decode_ac_refine(ac_t, zz, k0, k1):
        k = k0
        if state["eobrun"] == 0:
            while k <= k1:
                sym = _read_symbol(reader, ac_t)
                run, size = sym >> 4, sym & 0xF
                newval = 0
                if size == 0:
                    if run != 15:
                        state["eobrun"] = (1 << run) + (
                            reader.read_bits(run) if run else 0
                        )
                        break  # EOB region handled below
                    # ZRL: run of 16 zero-HISTORY coefficients
                else:
                    if size != 1:
                        raise ValueError(
                            "refinement scan coded a multi-bit coefficient"
                        )
                    newval = p1 if reader.read_bit() else m1
                # advance past `run` zero-history coefficients, applying
                # correction bits to nonzero-history ones along the way
                while k <= k1:
                    if zz[k] != 0:
                        refine_nonzero(zz, k)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if newval:
                    if k > k1:
                        raise ValueError("refinement run past end of band")
                    zz[k] = newval
                k += 1
        if state["eobrun"] > 0:
            # inside an EOB run: only correction bits for the remainder
            while k <= k1:
                if zz[k] != 0:
                    refine_nonzero(zz, k)
                k += 1
            state["eobrun"] -= 1

    # Baseline scans (full band, no point transform) decode each block
    # into a fresh Python list written to the coefficient store ONCE —
    # per-coefficient numpy scalar writes cost ~5x a list store.
    # Progressive scans keep the numpy views: coefficients accumulate
    # across scans, so the store must be read-write in place.
    baseline_fast = ss == 0 and se == 63 and ah == 0 and al == 0

    def decode_unit(idx, dc_t, ac_t, zz):
        if baseline_fast:
            buf = [0] * 64
            decode_dc(idx, dc_t, buf)
            decode_ac_first(ac_t, buf, 1, 63)
            zz[:] = buf
            return
        if ss == 0:
            decode_dc(idx, dc_t, zz)
        if se > 0:
            if ah == 0:
                decode_ac_first(ac_t, zz, max(1, ss), se)
            else:
                decode_ac_refine(ac_t, zz, max(1, ss), se)

    def maybe_restart(unit_index):
        if (
            restart_interval
            and unit_index
            and unit_index % restart_interval == 0
        ):
            reader.sync_restart((unit_index // restart_interval - 1) % 8)
            for i in prev:
                prev[i] = 0
            state["eobrun"] = 0

    if len(sc) > 1:  # interleaved MCU scan
        mcu_cols = (fw + 8 * maxh - 1) // (8 * maxh)
        mcu_rows = (fh + 8 * maxv - 1) // (8 * maxv)
        unit = 0
        for my in range(mcu_rows):
            for mx in range(mcu_cols):
                maybe_restart(unit)
                for idx, dc_t, ac_t in lookup:
                    sh, sv = comps[idx][2], comps[idx][3]
                    for by in range(sv):
                        for bx in range(sh):
                            decode_unit(
                                idx, dc_t, ac_t,
                                coeffs[idx][my * sv + by, mx * sh + bx],
                            )
                unit += 1
    else:  # non-interleaved: the component's own block raster
        idx, dc_t, ac_t = lookup[0]
        sh, sv = comps[idx][2], comps[idx][3]
        bw = (fw * sh + 8 * maxh - 1) // (8 * maxh)
        bh = (fh * sv + 8 * maxv - 1) // (8 * maxv)
        unit = 0
        for by in range(bh):
            for bx in range(bw):
                maybe_restart(unit)
                decode_unit(idx, dc_t, ac_t, coeffs[idx][by, bx])
                unit += 1
    if reader.nbits:
        reader.acc = reader.nbits = 0  # discard pad bits
    return reader.pos
