"""Baseline-sequential JPEG decoder (ITU-T T.81) — stdlib + numpy only.

A standalone codec parser with no caller in the log pipeline (the
reference keeps media opaque): :func:`decode_jpeg` turns a baseline or
progressive JFIF payload into a uint8 pixel array.

Scope (returns None outside it):

* baseline sequential DCT, 8-bit precision (SOF0) — the overwhelmingly
  dominant web-JPEG profile;
* progressive DCT, 8-bit precision (SOF2) — T.81 annex G spectral
  selection + successive approximation with huffman coding (the other
  common web profile): scans accumulate into a shared coefficient store,
  with EOB-run and correction-bit refinement semantics, then run through
  the same vectorized dequant/IDCT tail;
* grayscale or YCbCr with any sampling factors up to 4 (4:4:4, 4:2:2,
  4:2:0 covered by the general up-sampler);
* restart markers (DRI/RSTn) honored in both modes.

Arithmetic coding, 12-bit, and hierarchical modes are out of scope by
design. Entropy decoding is per-bit Python — acceptable in
thumbnail payloads; the IDCT, dequantization, upsampling, and color transform
are vectorized numpy over whole component planes.
"""

from __future__ import annotations

import numpy as np

SOI = b"\xff\xd8"

#: zig-zag order: scan index -> raster index within the 8x8 block (T.81 fig 5)
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16);
#: IDCT of block B (freq domain) = A.T @ B @ A  (T.81 A.3.3)
_A = np.array([
    [0.5 * (np.sqrt(0.5) if u == 0 else 1.0)
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


def _build_huffman(bits: list, vals: bytes):
    """16-bit-peek LUT decode tables, per T.81 annex C code assignment:
    ``lut_sym[peek16]`` = symbol, ``lut_len[peek16]`` = code length (0 =
    invalid prefix). One table is 2x65536 ints — built once per DHT, then
    every symbol decodes in one peek + two list lookups instead of a
    bit-at-a-time tree walk (the decoder's hot path)."""
    lut_sym = np.zeros(1 << 16, dtype=np.int32)
    lut_len = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                return None  # over-subscribed table
            base = code << (16 - length)
            lut_sym[base : base + (1 << (16 - length))] = vals[k]
            lut_len[base : base + (1 << (16 - length))] = length
            code += 1
            k += 1
        code <<= 1
    return lut_sym.tolist(), lut_len.tolist()


def _split_scan(payload: bytes, pos: int):
    """Entropy-coded data -> (segments, end): list of un-stuffed byte
    segments, one per restart interval (split at RSTn markers,
    0xFF00 -> 0xFF), vectorized with numpy over the raw bytes; ``end`` is
    the offset of the first real marker after the data (so progressive
    multi-scan decoding can resume the marker loop there)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = len(arr)
    ff = np.where(arr[pos : n - 1] == 0xFF)[0] + pos
    nxt = arr[ff + 1]
    real = ff[(nxt != 0x00) & ((nxt < 0xD0) | (nxt > 0xD7))]
    end = int(real[0]) if len(real) else n
    seg_arr = arr[pos:end]
    ff = ff[ff < end]
    nxt = arr[ff + 1] if len(ff) else nxt[:0]
    drop = np.concatenate([ff[nxt == 0x00] + 1, ff[(nxt >= 0xD0) & (nxt <= 0xD7)],
                           ff[(nxt >= 0xD0) & (nxt <= 0xD7)] + 1])
    rst_ff = np.sort(ff[(nxt >= 0xD0) & (nxt <= 0xD7)])
    keep = np.ones(end - pos, dtype=bool)
    keep[drop - pos] = False
    # split points: RST positions mapped into the kept stream
    kept_before = np.cumsum(keep)
    cuts = [int(kept_before[i - pos - 1]) if i > pos else 0 for i in rst_ff]
    clean = seg_arr[keep].tobytes()
    segs = []
    prev = 0
    for c in cuts:
        segs.append(clean[prev:c])
        prev = c
    segs.append(clean[prev:])
    return segs, end


def decode_jpeg(payload: bytes):
    """Baseline JPEG -> uint8 ndarray (h, w, channels) or None.

    channels = 1 (grayscale) or 3 (RGB after the JFIF YCbCr transform).
    """
    if len(payload) < 4 or not payload.startswith(SOI):
        return None
    qt: dict = {}
    huff: dict = {}  # (class, id) -> table
    frame = None
    progressive = False
    prog = None  # per-component coefficient state (progressive only)
    restart_interval = 0
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            if prog is not None:  # all progressive scans accumulated
                return _finish_progressive(frame, prog, qt)
            return None  # EOI before SOS: no image
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            return None
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                if prec != 0:  # 16-bit tables: beyond baseline
                    return None
                if i + 65 > len(seg):
                    return None
                zz = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8)
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = zz
                qt[tid] = tbl.reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if len(seg) < 6 or seg[0] != 8:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if h == 0 or w == 0 or nc not in (1, 3):
                return None
            if len(seg) < 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # extended/lossless/arithmetic
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = seg[i + 17 : i + 17 + nv]
                if len(vals) != nv:
                    return None
                tbl = _build_huffman(bits, vals)
                if tbl is None:
                    return None
                huff[(tc, th)] = tbl
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                return None
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS: entropy-coded data follows
            if frame is None or len(seg) < 6:
                return None
            if not progressive:
                return _decode_scan(
                    payload, pos + 2 + seg_len, seg, frame, qt, huff,
                    restart_interval,
                )
            if prog is None:
                prog = _init_progressive(frame)
                if prog is None:
                    return None
            scan_end = _decode_progressive_scan(
                payload, pos + 2 + seg_len, seg, frame, prog, huff,
                restart_interval,
            )
            if scan_end is None:
                return None
            pos = scan_end
            continue
        pos += 2 + seg_len
    if prog is not None:  # truncated file: render what accumulated
        return _finish_progressive(frame, prog, qt)
    return None


def _decode_scan(payload, data_pos, sos, frame, qt, huff, restart_interval):
    h, w, comps = frame
    ns = sos[0]
    if ns != len(comps) or len(sos) < 1 + 2 * ns + 3:
        return None  # multi-scan baseline / truncated header: out of scope
    scan_tables = {}
    for s in range(ns):
        cs, tda = sos[1 + 2 * s], sos[2 + 2 * s]
        scan_tables[cs] = (tda >> 4, tda & 0x0F)
    if ns == 1:
        # non-interleaved scan: MCU = one block, sampling factors ignored
        # (T.81 A.2.2) — common for grayscale files carrying 2x2 factors
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0 or hmax > 4 or vmax > 4:
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    blocks = []  # per component: list of zig-zag coefficient rows
    meta = []
    for cid, hs, vs, tq in comps:
        if hs == 0 or vs == 0 or tq not in qt or cid not in scan_tables:
            return None
        td, ta = scan_tables[cid]
        if (0, td) not in huff or (1, ta) not in huff:
            return None
        blocks.append([])
        meta.append((hs, vs, qt[tq], huff[(0, td)], huff[(1, ta)]))

    segments, _scan_end = _split_scan(payload, data_pos)
    seg_idx = 0
    buf = segments[0] + b"\x00\x00\x00"
    acc = 0
    bits = 0
    p = 0
    buf_end = len(segments[0]) + 3
    pred = [0] * len(comps)
    n_mcus = mcus_x * mcus_y
    for mcu_count in range(n_mcus):
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            seg_idx += 1  # byte-align + DC reset at each restart
            if seg_idx >= len(segments):
                return None
            buf = segments[seg_idx] + b"\x00\x00\x00"
            buf_end = len(segments[seg_idx]) + 3
            acc = 0
            bits = 0
            p = 0
            pred = [0] * len(comps)
        for ci, (hs, vs, qtbl, dc_tbl, ac_tbl) in enumerate(meta):
            dc_sym, dc_len = dc_tbl
            ac_sym, ac_len = ac_tbl
            for _blk in range(vs * hs):
                coeffs = [0] * 64
                # --- DC: one 16-bit peek against the LUT ---
                while bits < 16:
                    if p >= buf_end:
                        return None
                    acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
                    p += 1
                    bits += 8
                peek = (acc >> (bits - 16)) & 0xFFFF
                t = dc_sym[peek]
                L = dc_len[peek]
                if L == 0 or t > 15:
                    return None
                bits -= L
                if t:
                    while bits < t:
                        if p >= buf_end:
                            return None
                        acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
                        p += 1
                        bits += 8
                    v = (acc >> (bits - t)) & ((1 << t) - 1)
                    bits -= t
                    diff = v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                    pred[ci] += diff
                coeffs[0] = pred[ci]
                # --- AC run-length loop ---
                k = 1
                while k < 64:
                    while bits < 16:
                        if p >= buf_end:
                            return None
                        acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
                        p += 1
                        bits += 8
                    peek = (acc >> (bits - 16)) & 0xFFFF
                    rs = ac_sym[peek]
                    L = ac_len[peek]
                    if L == 0:
                        return None
                    bits -= L
                    size = rs & 0x0F
                    if size == 0:
                        if rs == 0xF0:  # ZRL: 16 zeros
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        return None
                    while bits < size:
                        if p >= buf_end:
                            return None
                        acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
                        p += 1
                        bits += 8
                    v = (acc >> (bits - size)) & ((1 << size) - 1)
                    bits -= size
                    coeffs[k] = (
                        v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    )
                    k += 1
                blocks[ci].append(coeffs)

    # --- batch dequantize + IDCT per component (one einsum per plane) ---
    planes = []
    for ci, (hs, vs, qtbl, *_r) in enumerate(meta):
        bw, bh = mcus_x * hs, mcus_y * vs
        zz = np.asarray(blocks[ci], dtype=np.float64)  # (n_blocks, 64)
        flat = np.zeros_like(zz)
        flat[:, ZIGZAG] = zz
        freq = flat.reshape(-1, 8, 8) * qtbl
        pix = np.einsum("ux,nuv,vy->nxy", _A, freq, _A, optimize=True) + 128.0
        # blocks arrive MCU-major ((my,mx) outer, (by,bx) inner); scatter to
        # the component's block grid before stitching scanlines
        idx = np.arange(len(blocks[ci]))
        mcu, within = idx // (vs * hs), idx % (vs * hs)
        grid = (mcu // mcus_x * vs + within // hs) * bw + (
            mcu % mcus_x * hs + within % hs
        )
        ordered = np.empty_like(pix)
        ordered[grid] = pix
        plane = (
            ordered.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        planes.append(plane)

    out_planes = []
    for ci, (hs, vs, *_rest) in enumerate(meta):
        p = planes[ci]
        # upsample to full MCU-grid resolution, then crop to (h, w)
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1) if hmax % hs == 0 else None
        if p is not None and vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0) if vmax % vs == 0 else None
        if p is None:
            return None
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        gray = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- progressive mode (SOF2), T.81 annex G: spectral selection + ---------
# --- successive approximation, huffman entropy coding only ---------------

class _Trunc(Exception):
    """Entropy data exhausted mid-symbol (truncated/corrupt scan)."""


def _init_progressive(frame):
    """Per-component coefficient store on the padded MCU-aligned block
    grid, plus the two block geometries a scan can walk: the MCU grid
    (interleaved scans) and the component's own ceil-grid (non-interleaved
    scans, T.81 A.2.2)."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0 or hmax > 4 or vmax > 4:
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    geom = {}
    coeffs = {}
    for cid, hs, vs, tq in comps:
        if hs == 0 or vs == 0 or cid in geom:
            return None
        bw, bh = mcus_x * hs, mcus_y * vs
        cw = -(-(-(-w * hs // hmax)) // 8)  # ceil(ceil(w*hs/hmax)/8)
        ch = -(-(-(-h * vs // vmax)) // 8)
        geom[cid] = (hs, vs, bw, bh, cw, ch, tq)
        coeffs[cid] = [0] * (bw * bh * 64)
    return {"geom": geom, "coeffs": coeffs, "mcus": (mcus_x, mcus_y)}


def _decode_progressive_scan(
    payload, data_pos, seg, frame, prog, huff, restart_interval
):
    """Decode ONE progressive scan into the accumulated coefficient store;
    returns the payload offset of the next marker, or None on error."""
    ns = seg[0]
    if len(seg) < 4 + 2 * ns or ns < 1 or ns > 4:
        return None
    scan_comps = []
    for s in range(ns):
        cs, tda = seg[1 + 2 * s], seg[2 + 2 * s]
        scan_comps.append((cs, tda >> 4, tda & 0x0F))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ahal = seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if se > 63 or ss > se or al > 13:
        return None
    dc_scan = ss == 0
    if dc_scan and se != 0:
        return None  # DC and AC coefficients never share a scan (G.1.1.1)
    if not dc_scan and ns != 1:
        return None  # AC scans are always non-interleaved (G.1.1.1.1)
    geom = prog["geom"]
    coeffs = prog["coeffs"]
    mcus_x, mcus_y = prog["mcus"]
    for cs, td, ta in scan_comps:
        if cs not in geom:
            return None
        if dc_scan and ah == 0 and (0, td) not in huff:
            return None
        if not dc_scan and (1, ta) not in huff:
            return None

    segments, end = _split_scan(payload, data_pos)
    seg_idx = 0
    buf = segments[0] + b"\x00\x00\x00"
    blen = len(buf)
    p = 0
    acc = 0
    bits = 0

    def getbits(nb):
        nonlocal acc, bits, p
        if nb == 0:
            return 0
        while bits < nb:
            if p >= blen:
                raise _Trunc()
            acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
            p += 1
            bits += 8
        bits -= nb
        return (acc >> bits) & ((1 << nb) - 1)

    def decode_sym(tbl):
        nonlocal acc, bits, p
        sym_l, len_l = tbl
        while bits < 16:
            if p >= blen:
                raise _Trunc()
            acc = ((acc << 8) | buf[p]) & 0xFFFFFFFF
            p += 1
            bits += 8
        peek = (acc >> (bits - 16)) & 0xFFFF
        length = len_l[peek]
        if length == 0:
            raise _Trunc()
        bits -= length
        return sym_l[peek]

    def next_segment():
        nonlocal seg_idx, buf, blen, p, acc, bits
        seg_idx += 1
        if seg_idx >= len(segments):
            raise _Trunc()
        buf = segments[seg_idx] + b"\x00\x00\x00"
        blen = len(buf)
        p = 0
        acc = 0
        bits = 0

    p1 = 1 << al
    m1 = -1 << al

    try:
        if dc_scan:
            dc_tbls = {
                cs: huff.get((0, td)) for cs, td, _ in scan_comps
            }
            pred = {cs: 0 for cs, _, _ in scan_comps}
            # unit walk: MCUs when interleaved, the component's own
            # ceil-grid blocks when ns == 1 (T.81 A.2.2)
            if ns > 1:
                units = mcus_x * mcus_y
            else:
                cs0 = scan_comps[0][0]
                _, _, _, _, cw, ch, _ = geom[cs0]
                units = cw * ch
            for unit in range(units):
                if restart_interval and unit and unit % restart_interval == 0:
                    next_segment()
                    pred = {cs: 0 for cs, _, _ in scan_comps}
                for cs, td, _ta in scan_comps:
                    hs, vs, bw, bh, cw, ch, _tq = geom[cs]
                    cf = coeffs[cs]
                    if ns > 1:
                        my, mx = divmod(unit, mcus_x)
                        positions = [
                            ((my * vs + by) * bw + mx * hs + bx)
                            for by in range(vs)
                            for bx in range(hs)
                        ]
                    else:
                        row, col = divmod(unit, cw)
                        positions = [row * bw + col]
                    for bpos in positions:
                        base = bpos * 64
                        if ah == 0:  # first DC pass: diff + shift (G.1.2.1)
                            t = decode_sym(dc_tbls[cs])
                            if t > 15:
                                return None
                            if t:
                                v = getbits(t)
                                diff = (
                                    v
                                    if v >= (1 << (t - 1))
                                    else v - (1 << t) + 1
                                )
                                pred[cs] += diff
                            cf[base] = pred[cs] << al
                        else:  # refinement: one appended bit per block
                            if getbits(1):
                                cf[base] |= p1
        else:
            cs0, _td, ta = scan_comps[0]
            ac_tbl = huff[(1, ta)]
            hs, vs, bw, bh, cw, ch, _tq = geom[cs0]
            cf = coeffs[cs0]
            eobrun = 0
            for unit in range(cw * ch):
                if restart_interval and unit and unit % restart_interval == 0:
                    next_segment()
                    eobrun = 0
                row, col = divmod(unit, cw)
                base = (row * bw + col) * 64
                if ah == 0:  # first AC pass (G.1.2.2)
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = decode_sym(ac_tbl)
                        r, size = rs >> 4, rs & 0x0F
                        if size == 0:
                            if r != 15:  # EOBn: run of end-of-band blocks
                                eobrun = (1 << r) + getbits(r) - 1
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            return None
                        v = getbits(size)
                        val = (
                            v
                            if v >= (1 << (size - 1))
                            else v - (1 << size) + 1
                        )
                        cf[base + k] = val << al
                        k += 1
                else:  # AC refinement (G.1.2.3)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = decode_sym(ac_tbl)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r != 15:
                                    eobrun = (1 << r) + getbits(r)
                                    break  # to the EOB correction sweep
                                # ZRL: r stays 15 -> skip 16 zero coeffs
                                val = 0
                            else:
                                if size != 1:
                                    return None
                                val = p1 if getbits(1) else m1
                            # advance past r zero-history coeffs, appending
                            # correction bits to nonzero ones on the way
                            while k <= se:
                                c = cf[base + k]
                                if c != 0:
                                    if getbits(1) and (c & p1) == 0:
                                        cf[base + k] = (
                                            c + p1 if c >= 0 else c + m1
                                        )
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if val and k <= se:
                                cf[base + k] = val
                            k += 1
                    if eobrun > 0:
                        # end-of-band: correction bits only, for every
                        # remaining nonzero coefficient in the band
                        while k <= se:
                            c = cf[base + k]
                            if c != 0:
                                if getbits(1) and (c & p1) == 0:
                                    cf[base + k] = (
                                        c + p1 if c >= 0 else c + m1
                                    )
                            k += 1
                        eobrun -= 1
    except _Trunc:
        return None
    return end


def _finish_progressive(frame, prog, qt):
    """Accumulated zig-zag coefficients -> pixels: same vectorized
    dequant + IDCT + upsample + color tail as the baseline path."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for cid, hs, vs, tq in comps:
        if tq not in qt:
            return None
        _, _, bw, bh, _, _, _ = prog["geom"][cid]
        zz = np.asarray(prog["coeffs"][cid], dtype=np.float64).reshape(
            -1, 64
        )
        flat = np.zeros_like(zz)
        flat[:, ZIGZAG] = zz
        freq = flat.reshape(-1, 8, 8) * qt[tq]
        pix = np.einsum("ux,nuv,vy->nxy", _A, freq, _A, optimize=True) + 128.0
        # store is raster block order already: (bh, bw) row-major
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        if hs != hmax:
            if hmax % hs != 0:
                return None
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs != vmax:
            if vmax % vs != 0:
                return None
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def parse_jpeg_header(payload: bytes):
    """Header-only parse -> (width, height, n_channels) or None; accepts any
    DCT SOFn frame (incl. progressive) so metadata survives even when the
    baseline pixel decoder declines."""
    if len(payload) < 4 or not payload.startswith(SOI):
        return None
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            pos += 2
            continue
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            seg = payload[pos + 4 : pos + 2 + seg_len]
            if len(seg) < 6:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if h == 0 or w == 0:
                return None
            return w, h, (3 if nc == 3 else 1)
        pos += 2 + seg_len
    return None
