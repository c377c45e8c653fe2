"""Baseline + progressive JPEG codec — pure python + numpy, no imaging libs.

Implements the Huffman-coded DCT modes of ITU-T T.81 (the public JPEG
spec) in a JFIF container, with the standard Annex K quantization and
Huffman tables.

Decoder scope: baseline (SOF0), extended sequential (SOF1, identical
decode at 8-bit) and progressive (SOF2) DCT; 8-bit samples; 1 or 3
components; arbitrary integer sampling factors (4:4:4, 4:2:0, 4:2:2,
4:1:1 — chroma upsampled nearest-neighbor per A.1.1); single-scan
interleaved or multi-scan non-interleaved (A.2) sequential streams;
optional restart markers.  Progressive decode covers the full G.2
surface: interleaved DC scans with successive approximation,
non-interleaved spectral-selection AC bands, EOB runs and AC refinement
scans.  Every other frame type (lossless, hierarchical and
arithmetic-coded: SOF3, SOF5-7, SOF9-11, SOF13-15) raises
``ValueError("unsupported JPEG mode (SOFn)")``.

Encoders: ``encode_jpeg`` (interleaved baseline), ``encode_jpeg_multiscan``
(one non-interleaved scan per component) and ``encode_jpeg_progressive``
(successive-approximation progressive), each at 4:4:4 or 4:2:0
(``subsampling='420'``, 2x2 box-decimated chroma).  All share one
front half (:func:`_prepare_planes`), so the three decode to identical
pixels at the same settings.

Vectorization: the 2-D DCT/IDCT is two 8x8 matrix multiplies applied to
all blocks of a component at once; only the entropy coding is per-symbol
python, which is fine for the Arrow-batched thumbnail workloads this
engine processes (decode happens inside ``mapInPandas`` batches,
operators/imaging_ops.py).
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K tables (ITU-T T.81, public spec) --------------------------------

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# standard Huffman tables (Annex K.3): (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix (orthonormal)
_k = np.arange(8)
_DCT = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.where(
    _k[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8)
)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code generation: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return out


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((QUANT_LUMA * scale + 50) // 100, 1, 255)
    qc = np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255)
    return ql.astype(np.int32), qc.astype(np.int32)


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) padded plane -> (n_blocks, 8, 8)."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h8, w8)
    )


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v: int) -> tuple[int, int]:
    """Value -> (size category, raw bits per F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _encode_component(
    blocks_zz: np.ndarray, dc_tbl: dict, ac_tbl: dict, writer: _BitWriter, prev_dc: int
) -> int:
    for blk in blocks_zz:
        dc = int(blk[0])
        size, bits = _magnitude(dc - prev_dc)
        code, ln = dc_tbl[size]
        writer.write(code, ln)
        if size:
            writer.write(bits, size)
        prev_dc = dc
        run = 0
        nz = np.flatnonzero(blk[1:])
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_tbl[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            size, bits = _magnitude(v)
            code, ln = ac_tbl[(run << 4) | size]
            writer.write(code, ln)
            writer.write(bits, size)
            run = 0
        if last < 63:
            code, ln = ac_tbl[0x00]  # EOB
            writer.write(code, ln)
    return prev_dc


def _plane_to_zz(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H8, W8) plane -> (nby, nbx, 64) quantized zigzag blocks."""
    h8, w8 = plane.shape
    blocks = _to_blocks(plane) - 128.0
    # two batched 8x8 matmuls (BLAS) — the equivalent 3-operand einsum
    # runs numpy's naive quadruple loop, ~10x slower on small planes
    coef = (_DCT @ blocks) @ _DCT.T
    quant = np.round(coef / q).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG].reshape(h8 // 8, w8 // 8, 64)


def _prepare_planes(
    arr: np.ndarray, quality: int, subsampling: str, fname: str
) -> tuple[int, int, bool, np.ndarray, np.ndarray, list[np.ndarray]]:
    """Shared encoder front half: validate, pad to the MCU multiple
    (edge-replicate), RGB->YCbCr, chroma decimation, quantized zigzag
    blocks.  Every encoder (baseline / multiscan / progressive) goes
    through here, which is what makes their decoded pixels identical at
    the same settings.

    Returns ``(h, w, sub, ql, qc, comps_zz)`` — the true image dims for
    the SOF header, the subsampling flag, the flat quant tables for DQT,
    and one (nby, nbx, 64) zigzag array per component."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError(f"{fname} expects (h, w, 3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling!r}")
    ql, qc = _quality_tables(quality)
    sub = subsampling == "420"
    mcu_px = 16 if sub else 8
    hp = (h + mcu_px - 1) // mcu_px * mcu_px
    wp = (w + mcu_px - 1) // mcu_px * mcu_px
    padded = np.pad(arr, ((0, hp - h), (0, wp - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded)
    qlm, qcm = ql.reshape(8, 8), qc.reshape(8, 8)
    comps_zz = [_plane_to_zz(ycc[..., 0], qlm)]
    for ci in (1, 2):
        plane = ycc[..., ci]
        if sub:
            # 2x2 box average (the standard decimation filter)
            plane = plane.reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
        comps_zz.append(_plane_to_zz(plane, qcm))
    return h, w, sub, ql, qc, comps_zz


def _frame_headers(
    h: int,
    w: int,
    sub: bool,
    ql: np.ndarray,
    qc: np.ndarray,
    sof_marker: int,
    restart_interval: int = 0,
    dht: tuple[tuple[int, list[int], list[int]], ...] = (),
) -> bytearray:
    """Shared encoder header block: SOI + APP0(JFIF) + DQT x2 +
    SOFn(3 components, luma subsampled per ``sub``) + optional DHT
    entries + DRI when ``restart_interval`` > 0.  Emission order matches
    every decoder expectation (DHT between SOF and DRI)."""
    y_samp = 0x22 if sub else 0x11
    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 JFIF: len 16 = 2 + "JFIF\0"(5) + version(2) + units(1) +
    # density(2+2) + thumbnail w/h(1+1)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )
    for tid, q in ((0, ql), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(x) for x in q.reshape(64)[ZIGZAG]
        )
    out += bytes((0xFF, sof_marker)) + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, samp, tq in ((1, y_samp, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += struct.pack("BBB", cid, samp, tq)
    for tc_th, bits, vals in dht:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    if restart_interval > 0:  # DRI
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    return out


def _true_block_grid(
    w: int, h: int, hi: int, vi: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """(nbx, nby): a component's TRUE block grid — ceil of its sampled
    dimensions over 8 (T.81 A.2; MCU padding blocks excluded).  The one
    formula every non-interleaved scan walk (encode and decode) must
    agree on."""
    bw = (w * hi + hmax - 1) // hmax
    bh = (h * vi + vmax - 1) // vmax
    return (bw + 7) // 8, (bh + 7) // 8


def _scan_groups(plan: list[tuple], frame: dict) -> list[list[tuple]]:
    """T.81 A.2 unit walk shared by every multi-scan decoder: ``plan``
    rows are ``(ci, hi, vi, *extras)``; returns restart groups of
    ``(ci, by, bx, *extras)`` — one block per group walking the
    component's own grid for an ns==1 scan, one MCU per group (hi x vi
    blocks of each scan component) for ns>1."""
    if len(plan) == 1:
        ci, hi, vi, *extra = plan[0]
        nbx, nby = _true_block_grid(
            frame["w"], frame["h"], hi, vi, frame["hmax"], frame["vmax"]
        )
        return [
            [(ci, by, bx, *extra)] for by in range(nby) for bx in range(nbx)
        ]
    groups = []
    for my in range(frame["mcuy"]):
        for mx in range(frame["mcux"]):
            g = []
            for ci, hi, vi, *extra in plan:
                for by in range(vi):
                    for bx in range(hi):
                        g.append((ci, my * vi + by, mx * hi + bx, *extra))
            groups.append(g)
    return groups


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """RGB8 (h, w, 3) -> baseline JFIF bytes.

    ``subsampling``: '444' (default, one block of each component per MCU)
    or '420' (2x2 luma blocks + one box-averaged block of each chroma per
    MCU, the layout virtually every camera/web encoder emits).  ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that many MCUs (DC
    predictors reset) — what camera firmware writes for error
    resilience."""
    h, w, sub, ql, qc, comps_zz = _prepare_planes(
        arr, quality, subsampling, "encode_jpeg"
    )
    out = _frame_headers(
        h, w, sub, ql, qc, 0xC0, restart_interval,
        dht=(
            (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
            (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ),
    )
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tdta in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tdta)
    out += b"\x00\x3f\x00"

    dc_l = _huff_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _huff_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    writer = _BitWriter()
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    prev = [0, 0, 0]
    nby, nbx = comps_zz[1].shape[:2]  # chroma block grid == MCU grid
    mcu_i = 0
    rst = 0
    for my in range(nby):
        for mx in range(nbx):
            if restart_interval > 0 and mcu_i > 0 and mcu_i % restart_interval == 0:
                # byte-align with 1-bits, emit RSTn, reset DC predictors
                writer.flush()
                out += writer.out
                out += bytes((0xFF, 0xD0 | rst))
                rst = (rst + 1) & 7
                writer = _BitWriter()
                prev = [0, 0, 0]
            mcu_i += 1
            if sub:
                for by in range(2):
                    for bx in range(2):
                        prev[0] = _encode_component(
                            comps_zz[0][2 * my + by, 2 * mx + bx][None, :],
                            tables[0][0], tables[0][1], writer, prev[0],
                        )
            else:
                prev[0] = _encode_component(
                    comps_zz[0][my, mx][None, :], tables[0][0], tables[0][1],
                    writer, prev[0],
                )
            for ci in (1, 2):
                prev[ci] = _encode_component(
                    comps_zz[ci][my, mx][None, :], tables[ci][0], tables[ci][1],
                    writer, prev[ci],
                )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_multiscan(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """RGB8 (h, w, 3) -> MULTI-SCAN baseline JFIF bytes: one
    non-interleaved SOS per component (T.81 A.2 sequential multi-scan,
    the layout some scanners/transcoders emit).  Each scan walks the
    component's own block grid row-major — no MCU padding blocks — and
    ``restart_interval`` counts units within the scan (RST index resets
    per scan).  Exists to exercise :func:`_baseline_scan`; pixel output
    is bit-identical to :func:`encode_jpeg` at the same settings."""
    h, w, sub, ql, qc, comps_zz = _prepare_planes(
        arr, quality, subsampling, "encode_jpeg_multiscan"
    )
    out = _frame_headers(
        h, w, sub, ql, qc, 0xC0, restart_interval,
        dht=(
            (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
            (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ),
    )
    dc_l = _huff_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _huff_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    hmax, vmax = (2, 2) if sub else (1, 1)
    samps = [(hmax, vmax), (1, 1), (1, 1)]
    for ci, cid, tdta in ((0, 1, 0x00), (1, 2, 0x11), (2, 3, 0x11)):
        out += b"\xff\xda" + struct.pack(">HB", 8, 1)
        out += struct.pack("BB", cid, tdta)
        out += b"\x00\x3f\x00"
        hi, vi = samps[ci]
        nbx, nby = _true_block_grid(w, h, hi, vi, hmax, vmax)
        writer = _BitWriter()
        prev = 0
        rst = 0
        unit = 0
        for by in range(nby):
            for bx in range(nbx):
                if restart_interval > 0 and unit > 0 and unit % restart_interval == 0:
                    writer.flush()
                    out += writer.out
                    out += bytes((0xFF, 0xD0 | rst))
                    rst = (rst + 1) & 7
                    writer = _BitWriter()
                    prev = 0
                unit += 1
                prev = _encode_component(
                    comps_zz[ci][by, bx][None, :], tables[ci][0], tables[ci][1],
                    writer, prev,
                )
        writer.flush()
        out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


_LUT_CACHE: dict[tuple[tuple[int, ...], tuple[int, ...]], tuple[list[int], list[int]]] = {}


def _huff_lut(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """(bits, huffval) -> 16-bit-prefix lookup: (symbols, code lengths).

    Every 16-bit window whose prefix is a valid code maps to that code's
    symbol and length; length 0 marks an invalid prefix.  Built with
    numpy slice fills, returned as plain python lists (scalar indexing
    is the hot path) and cached — real corpora reuse the Annex K tables
    across every image."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    syms = np.zeros(65536, dtype=np.int32)
    lens = np.zeros(65536, dtype=np.int32)
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            lo = code << (16 - ln)
            hi = (code + 1) << (16 - ln)
            syms[lo:hi] = vals[vi]
            lens[lo:hi] = ln
            code += 1
            vi += 1
        code <<= 1
    out = (syms.tolist(), lens.tolist())
    if len(_LUT_CACHE) < 64:  # bound the cache; custom tables are rare
        _LUT_CACHE[key] = out
    return out


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _find_entropy_end(data: bytes, start: int) -> int:
    """First real marker (not ff00 stuffing, not RSTn) after ``start``."""
    pos = start
    n = len(data)
    while True:
        nxt = data.find(b"\xff", pos)
        if nxt < 0 or nxt + 1 >= n:
            return n
        b2 = data[nxt + 1]
        if b2 == 0x00 or 0xD0 <= b2 <= 0xD7 or b2 == 0xFF:
            pos = nxt + 2 if b2 != 0xFF else nxt + 1
            continue
        return nxt


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline or progressive JFIF bytes -> RGB8 array (any integer
    sampling factors; baseline may be single-scan interleaved — the fast
    path — or multi-scan / non-interleaved per T.81 A.2, routed through
    the per-scan unit walk shared with the progressive decoder)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[int, tuple[list[int], list[int]]] = {}  # (syms, lens) LUTs
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, tq)
    scan_comps: list[tuple[int, int, int]] = []  # (id, td, ta)
    restart_interval = 0
    scan_start = None
    progressive = False
    baseline_scanned = False  # at least one ns<ncomp baseline scan decoded
    frame = None  # geometry + coefficient planes, built at first SOS
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: optional 0xFF fill bytes may precede any marker
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            break
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int32)
                qt[tq] = tbl[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (identical decode
            # at 8-bit) / SOF2 progressive
            progressive = marker == 0xC2
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if _prec != 8:
                # 12-bit sequential/progressive is legal T.81; the 8-bit
                # level shift and clamp below would silently corrupt it
                raise ValueError(f"unsupported sample precision {_prec}")
            p = 6
            for _ in range(nc):
                cid, samp, tq = seg[p], seg[p + 1], seg[p + 2]
                comps.append((cid, samp, tq))
                p += 3
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            # every other SOFn (lossless, hierarchical, arithmetic-coded);
            # C4 DHT, C8 JPG and CC DAC share the range but are not frames
            raise ValueError(f"unsupported JPEG mode (SOF{marker & 0xF})")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nvals])
                huff[tc_th] = _huff_lut(bits, vals)
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            p = 1
            scan_comps = []
            for _ in range(ns):
                scan_comps.append((seg[p], seg[p + 1] >> 4, seg[p + 1] & 0xF))
                p += 2
            ss, se, ahal = seg[p], seg[p + 1], seg[p + 2]
            ah, al = ahal >> 4, ahal & 0xF
            scan_start = pos + seglen
            if frame is None:
                frame = _build_frame(h, w, comps)
            if not progressive:
                if ns == len(comps):
                    break  # single whole-image interleaved scan, fast path below
                # multi-scan / non-interleaved baseline (T.81 A.2): each
                # scan covers a subset of components; an ns==1 scan walks
                # the component's OWN block grid (no MCU padding blocks),
                # same unit-walk contract as the progressive DC path.
                end = _find_entropy_end(data, scan_start)
                _baseline_scan(
                    data[scan_start:end], scan_comps, frame, huff,
                )
                pos = end
                scan_start = None
                baseline_scanned = True
                continue
            end = _find_entropy_end(data, scan_start)
            _progressive_scan(
                data[scan_start:end], scan_comps, ss, se, ah, al,
                frame, huff, restart_interval,
            )
            pos = end
            scan_start = None
            continue
        pos += seglen
    if progressive:
        if frame is None:
            raise ValueError("no scan found")
        return _finish_frame(frame, qt)
    if scan_start is None or h is None:
        if baseline_scanned:
            return _finish_frame(frame, qt)
        raise ValueError("no scan found")

    scan = data[scan_start:]
    ncomp = len(comps)
    his, vis = frame["his"], frame["vis"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    n_mcu = mcux * mcuy
    planes = frame["planes"]
    prev = [0] * ncomp
    comp_index = {cid: i for i, (cid, _, _) in enumerate(comps)}
    # per-scan decode plan: (component index, blocks-per-MCU grid, LUTs)
    plan = [
        (comp_index[cid], his[comp_index[cid]], vis[comp_index[cid]],
         huff[td][0], huff[td][1], huff[0x10 | ta][0], huff[0x10 | ta][1])
        for cid, td, ta in scan_comps
    ]
    # --- entropy decode, fully inlined hot loop --------------------------
    # The bit accumulator lives in LOCAL ints (pos/acc/nbits/marker):
    # refills pull whole bytes (unstuffing ff00), STOP before any real
    # marker, and a Huffman symbol from the 16-bit LUT is committed only
    # when its full code length of real bits is present — so restart
    # markers surface exactly where a bit-by-bit reader would raise, and
    # the <=7 pre-restart padding bits can never complete a phantom
    # symbol the retried MCU wouldn't discard anyway.  About 3x faster
    # per symbol than a per-bit method-call reader.
    scan_len = len(scan)
    pos = acc = nbits = 0
    marker: int | None = None
    mcu = 0
    while mcu < n_mcu:
        my, mx = divmod(mcu, mcux)
        try:
            for ci, hi, vi, dsyms, dlens, asyms, alens in plan:
                pv = prev[ci]
                rows = planes[ci]
                for by in range(vi):
                    row = rows[my * vi + by]
                    for bx in range(hi):
                        blk = [0] * 64
                        k = 0
                        syms, lens = dsyms, dlens
                        while k < 64:
                            if nbits < 16 and marker is None:
                                while nbits <= 48:
                                    if pos >= scan_len:
                                        break
                                    b = scan[pos]
                                    if b == 0xFF:
                                        nxt = scan[pos + 1] if pos + 1 < scan_len else 0xD9
                                        if nxt == 0x00:
                                            pos += 2
                                            acc = (acc << 8) | 0xFF
                                            nbits += 8
                                        else:
                                            marker = nxt
                                            break
                                    else:
                                        pos += 1
                                        acc = (acc << 8) | b
                                        nbits += 8
                            idx = (
                                (acc >> (nbits - 16)) & 0xFFFF
                                if nbits >= 16
                                else (acc << (16 - nbits)) & 0xFFFF
                            )
                            ln = lens[idx]
                            if ln == 0 or ln > nbits:
                                if nbits < 16 and marker is not None and 0xD0 <= marker <= 0xD7:
                                    raise _RestartMarker(marker)
                                if ln == 0 and nbits >= 16:
                                    raise ValueError("invalid Huffman code")
                                if marker is not None and marker != 0xD9:
                                    raise ValueError(
                                        f"unexpected marker in scan: ff{marker:02x}"
                                    )
                                raise ValueError("truncated JPEG entropy stream")
                            nbits -= ln
                            acc &= (1 << nbits) - 1
                            sym = syms[idx]
                            if k == 0:  # DC
                                size = sym
                            else:
                                if sym == 0x00:  # EOB
                                    break
                                if sym == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += sym >> 4
                                size = sym & 0xF
                                if k > 63:
                                    raise ValueError("AC run past block end")
                            if size:
                                if nbits < size:
                                    while nbits <= 48:
                                        if pos >= scan_len:
                                            break
                                        b = scan[pos]
                                        if b == 0xFF:
                                            nxt = (
                                                scan[pos + 1] if pos + 1 < scan_len else 0xD9
                                            )
                                            if nxt == 0x00:
                                                pos += 2
                                                acc = (acc << 8) | 0xFF
                                                nbits += 8
                                            else:
                                                marker = nxt
                                                break
                                        else:
                                            pos += 1
                                            acc = (acc << 8) | b
                                            nbits += 8
                                    if nbits < size:
                                        if marker is not None and 0xD0 <= marker <= 0xD7:
                                            raise _RestartMarker(marker)
                                        raise ValueError("truncated JPEG entropy stream")
                                nbits -= size
                                bits = (acc >> nbits) & ((1 << size) - 1)
                                acc &= (1 << nbits) - 1
                                if bits < 1 << (size - 1):  # F.2.2.1 EXTEND
                                    bits += 1 - (1 << size)
                                if k == 0:
                                    pv += bits
                                else:
                                    blk[k] = bits
                            if k == 0:
                                blk[0] = pv
                            k += 1
                            syms, lens = asyms, alens
                        prev[ci] = pv
                        row[mx * hi + bx] = blk  # one bulk numpy assign
            mcu += 1
        except _RestartMarker:
            pos += 2  # consume the ff D0-D7 pair the refill stopped at
            marker = None
            acc = nbits = 0
            prev = [0] * ncomp
    return _finish_frame(frame, qt)


def _build_frame(h: int, w: int, comps: list[tuple[int, int, int]]) -> dict:
    """Frame geometry + zero-initialized coefficient planes.

    General sampling factors (A.1.1 / A.2.3): an MCU carries hi x vi
    blocks of each component; chroma planes are stored subsampled and
    upsampled after the IDCT.  Covers 4:4:4, 4:2:0, 4:2:2, 4:1:1 and
    grayscale with one code path."""
    his = [(s >> 4) & 0xF for _, s, _ in comps]
    vis = [s & 0xF for _, s, _ in comps]
    hmax, vmax = max(his), max(vis)
    for hi, vi in zip(his, vis):
        if hi == 0 or vi == 0 or hmax % hi or vmax % vi:
            raise ValueError(f"unsupported sampling factors {his}x{vis}")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return {
        "h": h, "w": w, "comps": comps, "his": his, "vis": vis,
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
        "comp_index": {cid: i for i, (cid, _, _) in enumerate(comps)},
        "planes": [
            np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int32)
            for hi, vi in zip(his, vis)
        ],
    }


def _finish_frame(frame: dict, qt: dict[int, np.ndarray]) -> np.ndarray:
    """Dequantize + IDCT the coefficient planes, crop, upsample, to RGB."""
    h, w = frame["h"], frame["w"]
    comps = frame["comps"]
    his, vis = frame["his"], frame["vis"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = frame["planes"]
    out_planes = []
    for ci, (cid, _, tq) in enumerate(comps):
        hi, vi = his[ci], vis[ci]
        q = qt[tq]
        nby, nbx = planes[ci].shape[:2]
        coef = planes[ci].reshape(-1, 64)[:, UNZIGZAG].reshape(-1, 8, 8).astype(
            np.float64
        ) * q
        blocks = (_DCT.T @ coef) @ _DCT + 128.0
        plane = _from_blocks(blocks, nby * 8, nbx * 8)
        # crop to the component's true extent, then replicate up to full
        # resolution (nearest-neighbor upsampling, A.1.1)
        comp_h = (h * vi + vmax - 1) // vmax
        comp_w = (w * hi + hmax - 1) // hmax
        plane = plane[:comp_h, :comp_w]
        if vi != vmax or hi != hmax:
            plane = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        out_planes.append(plane[:h, :w])
    if len(comps) == 1:
        y = np.clip(out_planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    return _ycbcr_to_rgb(out_planes[0], out_planes[1], out_planes[2])


# --- progressive (SOF2) scan decoding ---------------------------------------


class _ScanReader:
    """Bit reader for a single entropy-coded segment: refills byte-wise
    (unstuffing ff00), stops BEFORE restart markers, and surfaces them as
    :class:`_RestartMarker` when a read runs out of real bits — same
    contract as the baseline fast path's inlined accumulator."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        data, pos, acc, n = self.data, self.pos, self.acc, self.nbits
        ln = len(data)
        while n <= 48 and self.marker is None and pos < ln:
            b = data[pos]
            if b == 0xFF:
                nxt = data[pos + 1] if pos + 1 < ln else 0xD9
                if nxt == 0x00:
                    pos += 2
                    acc = (acc << 8) | 0xFF
                    n += 8
                else:
                    self.marker = nxt
                    break
            else:
                pos += 1
                acc = (acc << 8) | b
                n += 8
        self.pos, self.acc, self.nbits = pos, acc, n

    def _starve(self) -> None:
        m = self.marker
        if m is not None and 0xD0 <= m <= 0xD7:
            self.pos += 2
            self.marker = None
            self.acc = 0
            self.nbits = 0
            raise _RestartMarker(m)
        raise ValueError("truncated JPEG entropy stream")

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
            if self.nbits < n:
                self._starve()
        nb = self.nbits - n
        v = (self.acc >> nb) & ((1 << n) - 1)
        self.nbits = nb
        self.acc &= (1 << nb) - 1
        return v

    def read_sym(self, lut: tuple[list[int], list[int]]) -> int:
        syms, lens = lut
        if self.nbits < 16:
            self._fill()
        n = self.nbits
        idx = (
            (self.acc >> (n - 16)) & 0xFFFF
            if n >= 16
            else (self.acc << (16 - n)) & 0xFFFF
        )
        ln = lens[idx]
        if ln == 0 or ln > n:
            if n < 16:
                self._starve()
            raise ValueError("invalid Huffman code")
        self.nbits = n - ln
        self.acc &= (1 << self.nbits) - 1
        return syms[idx]


def _baseline_scan(
    scan: bytes,
    scan_comps: list[tuple[int, int, int]],
    frame: dict,
    huff: dict[int, tuple[list[int], list[int]]],
) -> None:
    """One baseline (SOF0) scan -> the frame's coefficient planes: the
    per-scan unit-walk path for multi-scan / non-interleaved baseline
    JPEGs.  T.81 A.2: an ns==1 scan walks the component's own block grid
    row-major (no MCU padding blocks); an ns>1 scan walks the frame MCU
    grid with hi x vi blocks of each scan component per MCU.  Restart
    markers reset the DC predictors and retry the current MCU/unit —
    same contract as the interleaved fast loop in :func:`decode_jpeg`,
    which remains the hot path for the whole-image single-scan layout.
    """
    r = _ScanReader(scan)
    planes = frame["planes"]
    comp_index = frame["comp_index"]
    his, vis = frame["his"], frame["vis"]
    plan = []
    for cid, td, ta in scan_comps:
        ci = comp_index[cid]
        dlut, alut = huff.get(td), huff.get(0x10 | ta)
        if dlut is None or alut is None:
            raise ValueError("missing Huffman table")
        plan.append((ci, his[ci], vis[ci], dlut, alut))
    groups = _scan_groups(plan, frame)
    prev = [0] * len(planes)
    gi = 0
    while gi < len(groups):
        try:
            for ci, by, bx, dlut, alut in groups[gi]:
                blk = [0] * 64
                size = r.read_sym(dlut)
                prev[ci] += _extend(r.read_bits(size), size)
                blk[0] = prev[ci]
                k = 1
                while k < 64:
                    sym = r.read_sym(alut)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    size = sym & 0xF
                    if k > 63:
                        raise ValueError("AC run past block end")
                    blk[k] = _extend(r.read_bits(size), size)
                    k += 1
                planes[ci][by, bx] = blk
            gi += 1
        except _RestartMarker:
            prev = [0] * len(planes)


def _progressive_scan(
    scan: bytes,
    scan_comps: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    frame: dict,
    huff: dict[int, tuple[list[int], list[int]]],
    restart_interval: int,
) -> None:
    """Decode one progressive scan into the frame's coefficient planes
    (T.81 G.2: spectral selection + successive approximation, EOBRUN,
    restart markers reset predictors/EOBRUN and retry the current unit)."""
    r = _ScanReader(scan)
    planes = frame["planes"]
    comp_index = frame["comp_index"]
    his, vis = frame["his"], frame["vis"]
    p1 = 1 << al

    if ss == 0:
        # DC scan — the only scan type that may interleave components
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        plan = [
            (comp_index[cid], his[comp_index[cid]], vis[comp_index[cid]],
             huff.get(td) if ah == 0 else None)
            for cid, td, _ in scan_comps
        ]
        if ah == 0 and any(t is None for _, _, _, t in plan):
            raise ValueError("missing DC Huffman table")
        units = [u for g in _scan_groups(plan, frame) for u in g]
        prev = [0] * len(planes)
        # group units per MCU/block for restart retry semantics
        ui = 0
        while ui < len(units):
            ci, by, bx, dlut = units[ui]
            try:
                blk = planes[ci][by, bx]
                if ah == 0:
                    size = r.read_sym(dlut)
                    diff = _extend(r.read_bits(size), size)
                    prev[ci] += diff
                    blk[0] = prev[ci] << al
                else:
                    if r.read_bits(1):
                        blk[0] = int(blk[0]) | p1
                ui += 1
            except _RestartMarker:
                prev = [0] * len(planes)
        return

    # AC scan — always a single component (G.1.1.1.1)
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    cid, _, ta = scan_comps[0]
    ci = comp_index[cid]
    alut = huff.get(0x10 | ta)
    if alut is None:
        raise ValueError("missing AC Huffman table")
    hi, vi = his[ci], vis[ci]
    nbx, nby = _true_block_grid(
        frame["w"], frame["h"], hi, vi, frame["hmax"], frame["vmax"]
    )
    rows = planes[ci]
    eobrun = 0
    m1 = -p1
    bi = 0
    n_blocks = nby * nbx
    while bi < n_blocks:
        by, bx = divmod(bi, nbx)
        blk = rows[by, bx]
        try:
            if ah == 0:
                # first scan for this band (G.1.2.2)
                if eobrun > 0:
                    eobrun -= 1
                else:
                    k = ss
                    while k <= se:
                        sym = r.read_sym(alut)
                        run, size = sym >> 4, sym & 0xF
                        if size == 0:
                            if run != 15:
                                eobrun = (1 << run) - 1
                                if run:
                                    eobrun += r.read_bits(run)
                                break
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > se:
                            raise ValueError("AC run past band end")
                        blk[k] = _extend(r.read_bits(size), size) * p1
                        k += 1
            else:
                # refinement scan (G.1.2.3, the libjpeg AC_refine walk)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = r.read_sym(alut)
                        run, size = sym >> 4, sym & 0xF
                        newval = 0
                        if size == 0:
                            if run != 15:
                                # refinement EOBn: the count INCLUDES the
                                # current block, whose remaining coefs are
                                # refined below (which also decrements)
                                eobrun = 1 << run
                                if run:
                                    eobrun += r.read_bits(run)
                                break
                            # ZRL: advance over 16 zero-HISTORY coefs
                        else:
                            if size != 1:
                                raise ValueError("invalid AC refinement size")
                            newval = p1 if r.read_bits(1) else m1
                        while k <= se:
                            c = int(blk[k])
                            if c != 0:
                                if r.read_bits(1) and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if run == 0:
                                    if newval:
                                        blk[k] = newval
                                    break
                                run -= 1
                            k += 1
                        k += 1
                if eobrun > 0:
                    # EOB run covers this block: refine its remaining
                    # nonzero coefficients, consume one unit of the run
                    while k <= se:
                        c = int(blk[k])
                        if c != 0:
                            if r.read_bits(1) and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1
            bi += 1
        except _RestartMarker:
            eobrun = 0


# --- progressive (SOF2) encoding ---------------------------------------------


def _emit_eobrun(writer: _BitWriter, ac_tbl: dict, eobrun: int, bits: list[int]) -> None:
    """EOBn symbol for ``eobrun`` blocks + the correction bits buffered
    by those blocks (refinement scans append them after the run)."""
    if eobrun > 0:
        nbits = eobrun.bit_length() - 1
        code, ln = ac_tbl[nbits << 4]
        writer.write(code, ln)
        if nbits:
            writer.write(eobrun - (1 << nbits), nbits)
    for b in bits:
        writer.write(b, 1)


def _encode_ac_first(
    writer: _BitWriter, blocks: np.ndarray, ac_tbl: dict, ss: int, se: int, al: int
) -> None:
    """First AC scan of a band (G.1.2.2): magnitudes |v| >> al with EOBn
    batching across all-below-threshold blocks."""
    eobrun = 0
    for blk in blocks.reshape(-1, 64):
        mags = [0] * (se + 1)
        last = -1
        for k in range(ss, se + 1):
            v = int(blk[k])
            m = (v if v >= 0 else -v) >> al
            mags[k] = m if v >= 0 else -m
            if m:
                last = k
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(writer, ac_tbl, eobrun, [])
                eobrun = 0
            continue
        _emit_eobrun(writer, ac_tbl, eobrun, [])
        eobrun = 0
        run = 0
        for k in range(ss, last + 1):
            t = mags[k]
            if t == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_tbl[0xF0]
                writer.write(code, ln)
                run -= 16
            size, bits = _magnitude(t)
            code, ln = ac_tbl[(run << 4) | size]
            writer.write(code, ln)
            writer.write(bits, size)
            run = 0
        if last < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(writer, ac_tbl, eobrun, [])
                eobrun = 0
    _emit_eobrun(writer, ac_tbl, eobrun, [])


def _encode_ac_refine(
    writer: _BitWriter, blocks: np.ndarray, ac_tbl: dict, ss: int, se: int, al: int
) -> None:
    """AC refinement scan (G.1.2.3, the libjpeg encode_mcu_AC_refine
    walk): newly-significant coefficients code (run<<4)|1 + a sign bit;
    already-significant ones contribute buffered correction bits; blocks
    whose band tail is all history-zero defer to an EOB run that carries
    its blocks' buffered bits."""
    eobrun = 0
    eob_bits: list[int] = []
    for blk in blocks.reshape(-1, 64):
        mags = [0] * (se + 1)
        signs = [0] * (se + 1)
        eobpos = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            m = (v if v >= 0 else -v) >> al
            mags[k] = m
            signs[k] = 1 if v >= 0 else 0
            if m == 1:
                eobpos = k  # last newly-significant coefficient
        run = 0
        cur_bits: list[int] = []
        for k in range(ss, se + 1):
            t = mags[k]
            if t == 0:
                run += 1
                continue
            while run > 15 and k <= eobpos:
                _emit_eobrun(writer, ac_tbl, eobrun, eob_bits)
                eobrun = 0
                eob_bits = []
                code, ln = ac_tbl[0xF0]
                writer.write(code, ln)
                run -= 16
                for b in cur_bits:
                    writer.write(b, 1)
                cur_bits = []
            if t > 1:
                cur_bits.append(t & 1)  # correction bit, history nonzero
                continue
            _emit_eobrun(writer, ac_tbl, eobrun, eob_bits)
            eobrun = 0
            eob_bits = []
            code, ln = ac_tbl[(run << 4) | 1]
            writer.write(code, ln)
            writer.write(signs[k], 1)
            for b in cur_bits:
                writer.write(b, 1)
            cur_bits = []
            run = 0
        if run > 0 or cur_bits:
            eobrun += 1
            eob_bits.extend(cur_bits)
            if eobrun == 0x7FFF:
                _emit_eobrun(writer, ac_tbl, eobrun, eob_bits)
                eobrun = 0
                eob_bits = []
    _emit_eobrun(writer, ac_tbl, eobrun, eob_bits)


# Progressive AC scans need EOBn symbols (r<<4|0 for r=1..14), which the
# Annex K BASELINE tables do not contain — real progressive encoders ship
# custom tables.  This flat 8-bit-code table covers every (run, size)
# pair incl. all EOBn and ZRL: 176 symbols, all length 8 (canonical codes
# 0..175, well clear of the reserved all-ones code).  Compression is a
# few percent worse than an optimized table; correctness is identical.
AC_PROG_VALS = [(r << 4) | s for r in range(16) for s in range(11)]
AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, len(AC_PROG_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _sos_header(scomps: list[tuple[int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scomps), len(scomps))
    for cid, tdta in scomps:
        out += struct.pack("BB", cid, tdta)
    return out + struct.pack("BBB", ss, se, (ah << 4) | al)


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90, subsampling: str = "444"
) -> bytes:
    """RGB8 (h, w, 3) -> PROGRESSIVE JFIF bytes (SOF2).

    Scan script (a compact version of libjpeg's default — exercises every
    progressive decode path: interleaved DC with successive
    approximation, non-interleaved spectral-selection AC bands, EOB runs,
    and AC refinement scans):

      1. DC  all comps   Ah=0 Al=1
      2. DC  all comps   Ah=1 Al=0   (refinement bit)
      3. AC  per comp    Ss=1..5   Ah=0 Al=2
      4. AC  per comp    Ss=6..63  Ah=0 Al=2
      5. AC  per comp    Ss=1..63  Ah=2 Al=1   (refinement)
      6. AC  per comp    Ss=1..63  Ah=1 Al=0   (refinement)
    """
    h, w, sub, ql, qc, comps_zz = _prepare_planes(
        arr, quality, subsampling, "encode_jpeg_progressive"
    )
    out = _frame_headers(
        h, w, sub, ql, qc, 0xC2,
        dht=(
            (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x12, AC_PROG_BITS, AC_PROG_VALS),  # shared progressive AC table
        ),
    )
    dc_l = _huff_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    dc_c = _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_p = _huff_codes(AC_PROG_BITS, AC_PROG_VALS)
    dc_tbls = [dc_l, dc_c, dc_c]
    ac_tbls = [ac_p, ac_p, ac_p]
    sampling = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * 3
    nby, nbx = comps_zz[1].shape[:2]  # chroma grid == MCU grid

    def mcu_dc_order():
        for my in range(nby):
            for mx in range(nbx):
                for ci, (shi, svi) in enumerate(sampling):
                    for by in range(svi):
                        for bx in range(shi):
                            yield ci, int(comps_zz[ci][svi * my + by, shi * mx + bx, 0])

    # scan 1: DC first, Al=1 (arithmetic shift of the SIGNED value)
    out += _sos_header([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, 1)
    wtr = _BitWriter()
    prev = [0, 0, 0]
    for ci, dc in mcu_dc_order():
        v = dc >> 1
        size, bits = _magnitude(v - prev[ci])
        code, ln = dc_tbls[ci][size]
        wtr.write(code, ln)
        if size:
            wtr.write(bits, size)
        prev[ci] = v
    wtr.flush()
    out += wtr.out
    # scan 2: DC refinement, Al=0
    out += _sos_header([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 1, 0)
    wtr = _BitWriter()
    for _, dc in mcu_dc_order():
        wtr.write(dc & 1, 1)
    wtr.flush()
    out += wtr.out
    # scans 3-6: AC bands per component.  Non-interleaved scans cover
    # ONLY ceil(comp_dim/8) blocks (A.2.2) — the MCU-padding row/column
    # of the 4:2:0 luma grid is NOT coded, exactly as the decoder walks.
    hvmax = 2 if sub else 1
    samp_grid = []
    for ci, (shi, svi) in enumerate(sampling):
        gx, gy = _true_block_grid(w, h, shi, svi, hvmax, hvmax)
        samp_grid.append((gy, gx))
    for ss, se, ah, al in ((1, 5, 0, 2), (6, 63, 0, 2), (1, 63, 2, 1), (1, 63, 1, 0)):
        for ci in range(3):
            cid = ci + 1
            # Td unused in AC scans; Ta=2 = the shared progressive table
            out += _sos_header([(cid, 0x02)], ss, se, ah, al)
            wtr = _BitWriter()
            cby, cbx = samp_grid[ci]
            blocks = comps_zz[ci][:cby, :cbx]
            if ah == 0:
                _encode_ac_first(wtr, blocks, ac_tbls[ci], ss, se, al)
            else:
                _encode_ac_refine(wtr, blocks, ac_tbls[ci], ss, se, al)
            wtr.flush()
            out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
