"""ISO-BMFF (MP4/MOV) box-structure walk — metadata without frame decode.

Scope contract mirrors :func:`.mp3.parse_mp3`: this module parses the
public ISO/IEC 14496-12 box layout (ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/
hdlr/stbl/stsd/stts/stsc/stsz/stco|co64) and reports container brand,
movie duration, and per-track codec fourcc, dimensions, channel/sample
counts and language. It additionally resolves the sample tables to
per-sample (offset, size) byte ranges inside the payload, so a caller
can address REAL video samples.
It does NOT decode frames — H.264/AV1 entropy decode needs external
codecs, so callers get honest header-derived features instead of fake
pixels.

Reference parity note: the reference engine has no video path at all
(security_log_analysis_rust handles logs only); this is a standalone
parser for web-crawl payloads, where MP4 dominates video by volume.
"""

from __future__ import annotations

import struct
from typing import NamedTuple, Optional

#: containers whose children we descend into; everything else is a leaf.
_CONTAINER_BOXES = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

#: sanity bound on box nesting (spec files are ~5 deep).
_MAX_DEPTH = 8

#: upper bound on table entries we materialize (a 100-minute 30 fps video
#: has ~180k samples; this caps hostile inputs, not real ones).
_MAX_SAMPLES = 1_000_000


class Mp4Track(NamedTuple):
    track_id: int
    handler: str            # 'vide' | 'soun' | other fourcc
    codec: str              # sample-entry fourcc, e.g. 'avc1', 'mp4a'
    width: Optional[int]    # video tracks (tkhd 16.16, rounded)
    height: Optional[int]
    depth: Optional[int]    # stsd video sample-entry depth (bits)
    n_channels: Optional[int]   # audio tracks
    sample_rate: Optional[int]  # audio tracks, Hz
    n_samples: int          # stsz/stts sample count
    duration_s: float       # mdhd duration / mdhd timescale
    lang: str               # mdhd packed ISO-639-2/T, e.g. 'und'
    sample_ranges: list     # [(offset, size)] resolved from stsc/stco/stsz
                            # (empty when any table is missing/truncated)


class Mp4Info(NamedTuple):
    brand: str              # ftyp major brand ('' when no ftyp box)
    timescale: int          # mvhd
    duration_s: float       # mvhd duration / timescale
    n_tracks: int
    tracks: list            # [Mp4Track]


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from(">H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from(">I", b, off)[0]


def _u64(b: bytes, off: int) -> int:
    return struct.unpack_from(">Q", b, off)[0]


def _boxes(data: bytes, start: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    if depth > _MAX_DEPTH:
        return
    off = start
    while off + 8 <= end:
        size = _u32(data, off)
        btype = data[off + 4 : off + 8]
        body = off + 8
        if size == 1:  # 64-bit largesize follows the type
            if off + 16 > end:
                return
            size = _u64(data, off + 8)
            body = off + 16
            if size < 16:
                return
        elif size == 0:  # box extends to end of enclosing scope
            size = end - off
        elif size < 8:
            return
        box_end = off + size
        if box_end > end or box_end <= off:
            return
        yield btype, body, box_end
        off = box_end


def _find(data: bytes, start: int, end: int, btype: bytes, depth: int = 0):
    for t, a, b in _boxes(data, start, end, depth):
        if t == btype:
            return a, b
    return None


def _parse_mvhd(data: bytes, a: int, b: int):
    if a + 4 > b:
        return None
    version = data[a]
    try:
        if version == 1:
            timescale = _u32(data, a + 20)
            duration = _u64(data, a + 24)
        else:
            timescale = _u32(data, a + 12)
            duration = _u32(data, a + 16)
    except struct.error:
        return None
    if timescale == 0:
        return None
    return timescale, duration


def _parse_mdhd(data: bytes, a: int, b: int):
    if a + 4 > b:
        return None
    version = data[a]
    try:
        if version == 1:
            timescale = _u32(data, a + 20)
            duration = _u64(data, a + 24)
            lang_off = a + 32
        else:
            timescale = _u32(data, a + 12)
            duration = _u32(data, a + 16)
            lang_off = a + 20
        packed = _u16(data, lang_off)
    except struct.error:
        return None
    # 1 pad bit + three 5-bit letters, each stored as (char - 0x60)
    lang = "".join(
        chr(((packed >> shift) & 0x1F) + 0x60) for shift in (10, 5, 0)
    )
    if not lang.isalpha():
        lang = "und"
    return (timescale if timescale else None), duration, lang


def _parse_stsd(data: bytes, a: int, b: int):
    """First sample entry: (codec, width, height, depth, channels, rate)."""
    if a + 8 > b:
        return None
    try:
        count = _u32(data, a + 4)
        if count < 1:
            return None
        e = a + 8  # first sample entry, itself box-shaped
        esize = _u32(data, e)
        codec = data[e + 4 : e + 8].decode("latin-1")
        if esize < 16 or e + esize > b:
            return codec, None, None, None, None, None
        body = e + 8 + 6 + 2  # box header + reserved(6) + data_ref_index(2)
        # VisualSampleEntry: predefined(2+2+12)=16, then width/height u16
        if body + 20 <= e + esize:
            vw = _u16(data, body + 16)
            vh = _u16(data, body + 18)
        else:
            vw = vh = 0
        # depth lives at body+16(pre)+2+2(w/h)+4+4(resolution)+4+2+32 = +66
        depth = _u16(data, body + 66) if body + 68 <= e + esize else None
        # AudioSampleEntry: reserved(8), channelcount u16, samplesize u16,
        # pre_defined(2), reserved(2), samplerate u32 16.16
        if body + 20 <= e + esize:
            ch = _u16(data, body + 8)
            rate = _u32(data, body + 16) >> 16
        else:
            ch = rate = 0
        return codec, vw or None, vh or None, depth, ch or None, rate or None
    except struct.error:
        return None


def _parse_table(data: bytes, a: int, b: int, entry_words: int):
    """FullBox with u32 entry_count then entry_words u32s per entry."""
    if a + 8 > b:
        return None
    count = _u32(data, a + 4)
    need = a + 8 + count * 4 * entry_words
    if count > _MAX_SAMPLES or need > b:
        return None
    vals = struct.unpack_from(">%dI" % (count * entry_words), data, a + 8)
    return [
        tuple(vals[i * entry_words : (i + 1) * entry_words])
        for i in range(count)
    ]


def _parse_stsz(data: bytes, a: int, b: int):
    """Returns (fixed_size, [per-sample sizes]) — one of the two is live."""
    if a + 12 > b:
        return None
    fixed = _u32(data, a + 4)
    count = _u32(data, a + 8)
    if count > _MAX_SAMPLES:
        return None
    if fixed:
        return fixed, count, None
    if a + 12 + count * 4 > b:
        return None
    sizes = list(struct.unpack_from(">%dI" % count, data, a + 12))
    return 0, count, sizes


def _parse_stco(data: bytes, a: int, b: int, wide: bool):
    if a + 8 > b:
        return None
    count = _u32(data, a + 4)
    width = 8 if wide else 4
    if count > _MAX_SAMPLES or a + 8 + count * width > b:
        return None
    fmt = ">%d%s" % (count, "Q" if wide else "I")
    return list(struct.unpack_from(fmt, data, a + 8))


def _sample_ranges(stsc, stco, stsz, payload_len: int):
    """Resolve stsc/stco/stsz to [(offset, size)] per sample, in stream
    order. stsc runs are (first_chunk 1-based, samples_per_chunk, _);
    a run covers chunks until the next run's first_chunk."""
    fixed, count, sizes = stsz

    def size_of(i):
        return fixed if fixed else sizes[i]

    ranges = []
    run_idx = 0
    sample = 0
    for chunk_no, chunk_off in enumerate(stco, start=1):
        while (
            run_idx + 1 < len(stsc)
            and stsc[run_idx + 1][0] <= chunk_no
        ):
            run_idx += 1
        per_chunk = stsc[run_idx][1]
        off = chunk_off
        for _ in range(per_chunk):
            if sample >= count:
                return ranges
            sz = size_of(sample)
            if off + sz > payload_len:  # truncated mdat: stop honestly
                return ranges
            ranges.append((off, sz))
            off += sz
            sample += 1
    return ranges


def _parse_trak(data: bytes, a: int, b: int) -> Optional[Mp4Track]:
    tkhd = _find(data, a, b, b"tkhd", 1)
    mdia = _find(data, a, b, b"mdia", 1)
    if mdia is None:
        return None
    track_id = 0
    tk_w = tk_h = None
    if tkhd is not None:
        ta, tb = tkhd
        try:
            version = data[ta]
            idx = ta + (20 if version == 1 else 12)
            track_id = _u32(data, idx)
            # width/height: last two u32 16.16 of the 80/92-byte body
            if tb - ta >= 8:
                tk_w = _u32(data, tb - 8) >> 16 or None
                tk_h = _u32(data, tb - 4) >> 16 or None
        except (struct.error, IndexError):
            pass
    ma, mb = mdia
    mdhd = _find(data, ma, mb, b"mdhd", 2)
    hdlr = _find(data, ma, mb, b"hdlr", 2)
    timescale, duration, lang = (None, 0, "und")
    if mdhd is not None:
        parsed = _parse_mdhd(data, *mdhd)
        if parsed is not None:
            timescale, duration, lang = parsed
    handler = ""
    if hdlr is not None:
        ha, hb = hdlr
        if ha + 12 <= hb:
            handler = data[ha + 8 : ha + 12].decode("latin-1")
    minf = _find(data, ma, mb, b"minf", 2)
    stbl = _find(data, *minf, b"stbl", 3) if minf else None
    codec, vw, vh, depth, ch, rate = ("", None, None, None, None, None)
    n_samples = 0
    ranges = []
    if stbl is not None:
        sa, sb = stbl
        stsd = _find(data, sa, sb, b"stsd", 4)
        if stsd is not None:
            parsed = _parse_stsd(data, *stsd)
            if parsed is not None:
                codec, vw, vh, depth, ch, rate = parsed
        stsz_box = _find(data, sa, sb, b"stsz", 4)
        stsz = _parse_stsz(data, *stsz_box) if stsz_box else None
        if stsz is not None:
            n_samples = stsz[1]
        stsc_box = _find(data, sa, sb, b"stsc", 4)
        stco_box = _find(data, sa, sb, b"stco", 4)
        wide = False
        if stco_box is None:
            stco_box = _find(data, sa, sb, b"co64", 4)
            wide = True
        stsc = _parse_table(data, *stsc_box, 3) if stsc_box else None
        stco = (
            _parse_stco(data, *stco_box, wide) if stco_box else None
        )
        if stsz is not None and stsc and stco:
            ranges = _sample_ranges(stsc, stco, stsz, len(data))
    is_video = handler == "vide"
    dur_s = duration / timescale if timescale else 0.0
    return Mp4Track(
        track_id=track_id,
        handler=handler or "unkn",
        codec=codec,
        width=(vw or tk_w) if is_video else None,
        height=(vh or tk_h) if is_video else None,
        depth=depth if is_video else None,
        n_channels=ch if handler == "soun" else None,
        sample_rate=rate if handler == "soun" else None,
        n_samples=n_samples,
        duration_s=round(dur_s, 6),
        lang=lang,
        sample_ranges=ranges,
    )


def parse_mp4(payload: bytes) -> Optional[Mp4Info]:
    """Parse an ISO-BMFF container; None when the payload is not one.

    Identification requires a well-formed top-level box walk that yields a
    ``moov`` box with a valid ``mvhd`` — a lone 'ftyp' string in arbitrary
    binary is not enough (mirrors the two-consecutive-frames rule in
    :func:`.mp3.parse_mp3`)."""
    data = bytes(payload)
    if len(data) < 16:
        return None
    brand = ""
    moov = None
    for btype, a, b in _boxes(data, 0, len(data)):
        if btype == b"ftyp" and a + 4 <= b:
            brand = data[a : a + 4].decode("latin-1").strip()
        elif btype == b"moov":
            moov = (a, b)
    if moov is None:
        return None
    mvhd = _find(data, *moov, b"mvhd", 1)
    if mvhd is None:
        return None
    parsed = _parse_mvhd(data, *mvhd)
    if parsed is None:
        return None
    timescale, duration = parsed
    tracks = []
    for btype, a, b in _boxes(data, *moov, 1):
        if btype == b"trak":
            t = _parse_trak(data, a, b)
            if t is not None:
                tracks.append(t)
    return Mp4Info(
        brand=brand,
        timescale=timescale,
        duration_s=round(duration / timescale, 6),
        n_tracks=len(tracks),
        tracks=tracks,
    )


#: ftyp brands that mark an ISO-BMFF *image* container (AVIF/HEIF family).
_IMAGE_BRANDS = {b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1"}


def parse_avif_header(payload: bytes):
    """-> (width, height, n_channels) for an AVIF/HEIF image, else None.

    Reuses the ISO-BMFF box walk: an image-brand ``ftyp`` plus the
    ``meta`` (FullBox) -> ``iprp`` -> ``ipco`` chain, reading ``ispe``
    (image spatial extents) for dimensions and ``pixi`` (pixel
    information) for the channel count when present (default 3). Pixel
    decode needs an AV1/HEVC codec, so this is header-only by design."""
    data = bytes(payload)
    if len(data) < 24:
        return None
    brand_ok = False
    meta = None
    for btype, a, b in _boxes(data, 0, len(data)):
        if btype == b"ftyp" and b - a >= 8:
            brands = {data[a : a + 4]} | {
                data[i : i + 4] for i in range(a + 8, b - 3, 4)
            }
            brand_ok = bool(brands & _IMAGE_BRANDS)
        elif btype == b"meta":
            meta = (a + 4, b)  # meta is a FullBox: skip version/flags
    if not brand_ok or meta is None:
        return None
    iprp = _find(data, *meta, b"iprp", 1)
    if iprp is None:
        return None
    ipco = _find(data, *iprp, b"ipco", 2)
    if ipco is None:
        return None
    width = height = None
    channels = 3
    for btype, a, b in _boxes(data, *ipco, 3):
        if btype == b"ispe" and b - a >= 12 and width is None:
            width = _u32(data, a + 4)
            height = _u32(data, a + 8)
        elif btype == b"pixi" and b - a >= 5:
            channels = data[a + 4] or 3
    if not width or not height:
        return None
    return width, height, channels
