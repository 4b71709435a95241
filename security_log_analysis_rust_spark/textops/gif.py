"""GIF decoder (GIF87a/89a) — stdlib + numpy only.

Web-image codec beside JPEG (``.jpeg``): block walk per the GIF spec,
variable-width LZW decompression, palette mapping, interlace de-weave,
first-frame transparency. :func:`decode_gif` returns the FIRST frame as an
RGB array (animation frame-sampling is out of scope).

Scope: any GIF87a/89a with a global or local color table; returns None for
malformed streams. The LZW loop is per-code Python, sized for
thumbnail payloads like the JPEG decoder.
"""

from __future__ import annotations

import numpy as np

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")


def parse_gif_header(payload: bytes):
    """-> (width, height, n_channels) or None (header-only metadata)."""
    if len(payload) < 13 or payload[:6] not in GIF_SIGNATURES:
        return None
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    if width == 0 or height == 0:
        return None
    return width, height, 3


def _skip_subblocks(payload: bytes, pos: int):
    """Skip a sub-block chain -> position after its terminator, or None."""
    n = len(payload)
    while pos < n:
        ln = payload[pos]
        pos += 1 + ln
        if ln == 0:
            return pos
    return None


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """Variable-width LZW (GIF flavor) -> list of palette indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # dictionary as a list of byte strings; rebuilt on CLEAR
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    acc = 0
    bits = 0
    out = bytearray()
    prev = None
    for byte in data:
        acc |= byte << bits  # GIF packs codes LSB-first
        bits += 8
        while bits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            bits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            full = len(table) >= 4096  # table frozen until CLEAR (spec)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if not full:
                    table.append(prev + entry[:1])
            elif code == len(table) and not full:  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            if len(out) > max_pixels:
                return None  # over-long stream: corrupt
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes):
    """First frame -> uint8 ndarray (h, w, 3), or None."""
    hdr = parse_gif_header(payload)
    if hdr is None:
        return None
    width, height, _ = hdr
    packed = payload[10]
    pos = 13
    n = len(payload)
    global_palette = None
    if packed & 0x80:  # global color table
        size = 2 << (packed & 0x07)
        if pos + 3 * size > n:
            return None
        global_palette = np.frombuffer(
            payload[pos : pos + 3 * size], dtype=np.uint8
        ).reshape(size, 3)
        pos += 3 * size
    transparent = None
    bg_index = payload[11]
    while pos < n:
        block = payload[pos]
        if block == 0x3B:  # trailer
            return None  # no image descriptor seen
        if block == 0x21:  # extension
            if pos + 2 > n:
                return None
            label = payload[pos + 1]
            if label == 0xF9 and pos + 8 <= n and payload[pos + 2] == 4:
                flags = payload[pos + 3]
                if flags & 0x01:
                    transparent = payload[pos + 6]
            nxt = _skip_subblocks(payload, pos + 2)
            if nxt is None:
                return None
            pos = nxt
            continue
        if block != 0x2C:  # not an image descriptor
            return None
        if pos + 10 > n:
            return None
        fx = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        fy = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        fw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        fh = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        iflags = payload[pos + 9]
        pos += 10
        palette = global_palette
        if iflags & 0x80:  # local color table
            size = 2 << (iflags & 0x07)
            if pos + 3 * size > n:
                return None
            palette = np.frombuffer(
                payload[pos : pos + 3 * size], dtype=np.uint8
            ).reshape(size, 3)
            pos += 3 * size
        if palette is None or pos >= n:
            return None
        min_code = payload[pos]
        pos += 1
        if not (2 <= min_code <= 11):
            return None
        chunks = []
        while pos < n:
            ln = payload[pos]
            pos += 1
            if ln == 0:
                break
            chunks.append(payload[pos : pos + ln])
            pos += ln
        indices = _lzw_decode(b"".join(chunks), min_code, fw * fh)
        if indices is None or len(indices) < fw * fh:
            return None
        idx = np.frombuffer(indices[: fw * fh], dtype=np.uint8)
        if idx.max(initial=0) >= len(palette):
            return None
        frame = idx.reshape(fh, fw)
        if iflags & 0x40:  # interlaced: de-weave the four passes
            woven = np.empty_like(frame)
            src = 0
            for start, step in _INTERLACE_PASSES:
                rows = range(start, fh, step)
                woven[list(rows)] = frame[src : src + len(rows)]
                src += len(rows)
            frame = woven
        # composite the (possibly smaller) frame onto the logical screen
        bg = bg_index if global_palette is not None and bg_index < len(palette) else 0
        canvas = np.full((height, width), bg, dtype=np.uint8)
        fh_c = min(fh, max(height - fy, 0))
        fw_c = min(fw, max(width - fx, 0))
        canvas[fy : fy + fh_c, fx : fx + fw_c] = frame[:fh_c, :fw_c]
        rgb = palette[canvas]
        if transparent is not None and transparent < len(palette):
            # first frame over the background color; transparent pixels take
            # the background palette entry (no prior frame to show through)
            rgb = rgb.copy()
            rgb[canvas == transparent] = palette[bg]
        return rgb
    return None
