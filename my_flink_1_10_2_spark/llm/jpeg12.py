"""Extended sequential JPEG: 12-bit precision, 1..4 components (CMYK),
restart intervals — the extended-profile gate of the baseline codecs
(llm/jpeg.py 8-bit grayscale, llm/jpeg_color.py 8-bit YCbCr).

Public spec ITU-T T.81 only; no reference-repo analog (the reference is
a stream engine — this closes OUR multimodal ingestion matrix, the
training-pipeline need of scanning print-press/archival corpora where
12-bit and CMYK JPEGs are common).

What extended sequential changes vs baseline, all per spec:

- **SOF1** (0xC1) instead of SOF0; sample precision P may be 12
  (§B.2.2: baseline SOF0 is locked to P=8).
- **Level shift** is 2^(P-1) = 2048 (§A.3.1), clamp range 0..4095.
- **16-bit DQT entries** (Pq=1, §B.2.4.1 — required when P=12, since
  quant values may exceed 255).
- **Wider magnitude categories** (§F.1.2.1.1/.2): DC SSSS up to 15 and
  AC SSSS up to 14 (vs 11/10 at 8-bit), so the Annex-K example tables
  don't cover 12-bit data.  We transmit flat canonical tables sized for
  the full 12-bit alphabet (16 DC symbols at length 5; 226 AC symbols
  at length 8) — any spec decoder reads them from our DHT segments.
- **4-component interleaved scans**: Ns up to 4 (§B.2.3), one DC
  predictor per component, MCU = one 8x8 block per component at
  sampling (1,1).  An Adobe APP14 with transform=0 marks 4-component
  data as direct CMYK (the de-facto convention Adobe readers expect).
- **Restart intervals** (DRI §B.2.4.4): predictors reset and the
  bitstream re-aligns at every RSTn, cyclically checked on decode.

Exactness contract (same trick as the 8-bit graded queries): constant
even-level tiles make the lossy path bit-exact — DC = 8*(level-2048) is
a multiple of Q[0,0]=16, every AC is exactly zero — so the registry
query grades the full marker/Huffman/zigzag/dequant/IDCT chain
bitwise.  Lossy behavior on random images is property-tested
(tests/test_jpeg12.py).

Unsupported profiles raise NotImplementedError naming the gate:
subsampled multi-component (use llm/jpeg_color.py at 8-bit),
arithmetic coding, progressive 12-bit, hierarchical.
"""

from __future__ import annotations

import struct

import numpy as np

from my_flink_1_10_2_spark.llm.jpeg import (
    STD_LUMA_QUANT,
    _ZIG_C,
    _ZIG_R,
    _BitReader,
    _BitWriter,
    _build_codes,
    _build_decoder,
    _magnitude,
)
from my_flink_1_10_2_spark.llm.jpeg_color import _decode_block, _pad_plane

# Flat canonical Huffman tables covering the FULL 12-bit alphabet
# (T.81 Annex C canonical construction; transmitted in DHT, so any
# conforming decoder reads them — flatness trades a few percent of
# compression for table simplicity, legal per spec).
DC12_BITS = (0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
DC12_VALS = tuple(range(16))  # SSSS 0..15
_AC_SYMBOLS = (0x00, 0xF0) + tuple(
    (run << 4) | size for run in range(16) for size in range(1, 15)
)
AC12_BITS = (0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0)
AC12_VALS = tuple(sorted(_AC_SYMBOLS))


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_block(w, zz, pred, dc_codes, ac_codes) -> int:
    """Identical entropy model to the baseline codecs, with the 12-bit
    category range; kept local so the wider SSSS bounds are checked."""
    write = w.write
    diff = zz[0] - pred
    size, bits = _magnitude(diff)
    if size > 15:
        raise ValueError(f"DC difference {diff} exceeds 12-bit SSSS range")
    code, ln = dc_codes[size]
    write((code << size) | bits, ln + size)
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    run = 0
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            write(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        if size > 14:
            raise ValueError(f"AC coefficient {v} exceeds 12-bit SSSS range")
        code, ln = ac_codes[run * 16 + size]
        write((code << size) | bits, ln + size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        write(code, ln)
    return zz[0]


def _fdct_grid12(padded: np.ndarray, gh: int, gw: int, q: np.ndarray,
                 shift: float):
    from my_flink_1_10_2_spark.llm.jpeg import _dct_matrix

    m = _dct_matrix()
    blocks = (
        padded.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - shift
    )
    qc = np.round((m @ blocks @ m.T) / q).astype(np.int64)
    return qc[:, _ZIG_R, _ZIG_C].tolist()


def _idct_grid12(zz_rows, gh: int, gw: int, q: np.ndarray, shift: float):
    from my_flink_1_10_2_spark.llm.jpeg import _dct_matrix

    m = _dct_matrix()
    coeffs = np.zeros((len(zz_rows), 8, 8), dtype=np.float64)
    coeffs[:, _ZIG_R, _ZIG_C] = (
        np.asarray(zz_rows, dtype=np.float64) * q[_ZIG_R, _ZIG_C]
    )
    blocks = m.T @ coeffs @ m + shift
    return (
        blocks.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
    )


def jpeg12_encode(
    planes,
    *,
    precision: int = 12,
    quant=None,
    restart_interval: int = 0,
) -> bytes:
    """Encode 1..4 equally-sized planes (2-D arrays of 0..2^P-1 ints) as
    one extended-sequential (SOF1) JPEG at ``precision`` 12 (or 8 —
    useful for differentials against the baseline codec)."""
    if precision not in (8, 12):
        raise NotImplementedError(f"precision {precision} (8/12 supported)")
    planes = [np.asarray(p, dtype=np.float64) for p in planes]
    ncomp = len(planes)
    if not 1 <= ncomp <= 4:
        raise ValueError(f"1..4 components required, got {ncomp}")
    h, w = planes[0].shape
    if any(p.shape != (h, w) for p in planes):
        raise ValueError("all components must share dimensions at (1,1) sampling")
    maxval = (1 << precision) - 1
    if any(p.min() < 0 or p.max() > maxval for p in planes):
        raise ValueError(f"samples out of 0..{maxval} range")
    q = np.asarray(quant if quant is not None else STD_LUMA_QUANT,
                   dtype=np.float64)
    shift = float(1 << (precision - 1))

    out = bytearray(b"\xff\xd8")  # SOI
    if ncomp == 4:
        # Adobe APP14, transform 0: components are direct CMYK
        out += _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0))
    # DQT: Pq=1 (16-bit entries) — mandatory at 12-bit precision
    qz = q[_ZIG_R, _ZIG_C].astype(np.int64)
    out += _seg(0xDB, bytes((0x10,)) + b"".join(
        struct.pack(">H", int(v)) for v in qz))
    # SOF1 (extended sequential, Huffman)
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for c in range(ncomp):
        sof += struct.pack(">BBB", c + 1, 0x11, 0)  # id, (1,1), Tq=0
    out += _seg(0xC1, sof)
    # DHT: one DC + one AC table shared by all components
    out += _seg(0xC4, bytes((0x00,)) + bytes(DC12_BITS) + bytes(DC12_VALS))
    out += _seg(0xC4, bytes((0x10,)) + bytes(AC12_BITS) + bytes(AC12_VALS))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    # SOS: interleaved, all components
    sos = bytes((ncomp,))
    for c in range(ncomp):
        sos += struct.pack(">BB", c + 1, 0x00)
    sos += bytes((0, 63, 0))
    out += _seg(0xDA, sos)

    dc_codes = _build_codes(DC12_BITS, DC12_VALS)
    ac_codes = _build_codes(AC12_BITS, AC12_VALS)
    gh, gw = (h + 7) // 8, (w + 7) // 8
    grids = [
        _fdct_grid12(_pad_plane(p, gh * 8, gw * 8), gh, gw, q, shift)
        for p in planes
    ]
    writer = _BitWriter()
    preds = [0] * ncomp
    mcu_i = 0
    rst = 0
    for by in range(gh):
        for bx in range(gw):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                writer.marker(0xD0 + rst)
                rst = (rst + 1) % 8
                preds = [0] * ncomp
            for c in range(ncomp):
                preds[c] = _encode_block(
                    writer, grids[c][by * gw + bx], preds[c],
                    dc_codes, ac_codes,
                )
            mcu_i += 1
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg12_decode(data: bytes):
    """Decode an extended-sequential JPEG → (precision, width, height,
    [plane, ...]) with planes as (h, w) uint16 arrays.  Raises
    NotImplementedError naming any unsupported profile."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quants: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    precision = height = width = None
    comps = []  # (id, tq)
    scan_comps = []  # (comp_index, td, ta)
    restart_interval = 0
    scan_data = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        pos += 2 + seglen
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                b += 1
                tbl = np.zeros((8, 8), dtype=np.float64)
                if pq == 1:
                    vals = struct.unpack_from(f">{64}H", body, b)
                    b += 128
                elif pq == 0:
                    vals = struct.unpack_from(f">{64}B", body, b)
                    b += 64
                else:
                    raise ValueError(f"bad DQT precision {pq}")
                tbl[_ZIG_R, _ZIG_C] = vals
                quants[tq] = tbl
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = tuple(body[b + 1 : b + 17])
                nvals = sum(bits)
                vals = tuple(body[b + 17 : b + 17 + nvals])
                if len(vals) != nvals:
                    raise ValueError("truncated DHT segment")
                b += 17 + nvals
                dec = _build_decoder(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = dec
        elif marker in (0xC1, 0xC0):
            precision, height, width, ncomp = struct.unpack_from(
                ">BHHB", body, 0
            )
            if precision not in (8, 12):
                raise NotImplementedError(
                    f"precision {precision} (8/12 supported)"
                )
            if marker == 0xC0 and precision != 8:
                raise ValueError("baseline SOF0 requires 8-bit precision")
            if not 1 <= ncomp <= 4:
                raise NotImplementedError(f"{ncomp}-component JPEG unsupported")
            for c in range(ncomp):
                # 6 header bytes then 3 per component
                cid, hv, tq = body[6 + c * 3], body[7 + c * 3], body[8 + c * 3]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled extended JPEG unsupported "
                        "(use llm/jpeg_color.py for 8-bit 4:2:x)"
                    )
                comps.append((cid, tq))
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF marker 0xFF{marker:02X} (progressive/arithmetic/"
                "hierarchical) unsupported here"
            )
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            ns = body[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "non-interleaved extended scan unsupported"
                )
            by_id = {cid: i for i, (cid, _) in enumerate(comps)}
            for s in range(ns):
                cid, tt = body[1 + s * 2], body[2 + s * 2]
                if cid not in by_id:
                    raise ValueError(f"scan references unknown component {cid}")
                scan_comps.append((by_id[cid], tt >> 4, tt & 0x0F))
            scan_data = data[pos:]
            break
        # APPn / COM / others: skipped
    if precision is None or scan_data is None:
        raise ValueError("JPEG missing SOF or SOS")

    shift = float(1 << (precision - 1))
    maxval = (1 << precision) - 1
    gh, gw = (height + 7) // 8, (width + 7) // 8
    reader = _BitReader(scan_data)
    preds = [0] * len(comps)
    grids = [[] for _ in comps]
    mcu_i = 0
    rst = 0
    for by in range(gh):
        for bx in range(gw):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                reader.restart(rst)
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            for ci, td, ta in scan_comps:
                if td not in dc_tables or ta not in ac_tables:
                    raise ValueError("scan uses undefined Huffman table")
                zz, preds[ci] = _decode_block(
                    reader, preds[ci], dc_tables[td], ac_tables[ta]
                )
                grids[ci].append(zz)
            mcu_i += 1
    planes = []
    for ci, (cid, tq) in enumerate(comps):
        if tq not in quants:
            raise ValueError(f"component {cid} uses undefined quant table {tq}")
        plane = _idct_grid12(grids[ci], gh, gw, quants[tq], shift)
        plane = np.clip(np.round(plane), 0, maxval).astype(np.uint16)
        planes.append(plane[:height, :width])
    return precision, width, height, planes
