"""MPEG audio (MP3) frame-header walk — metadata without PCM synthesis.

Scope contract mirrors :func:`.jpeg.parse_jpeg_header`: this module
parses the container/frame structure of an MPEG-1/2/2.5 Layer I/II/III
stream (the public ISO/IEC 11172-3 / 13818-3 header layout) and reports
sample rate, channel count, frame count, total samples, duration and the
per-frame bitrate sequence. It does NOT decode audio — huffman/subband
synthesis is out of scope, so callers get honest header-derived features
(duration, CBR/VBR profile) instead of fake PCM.

Reference parity note: the reference engine has no audio path at all; this
is a standalone parser for web-crawl payloads, where MP3 dominates audio by
volume.
"""

from __future__ import annotations

from typing import NamedTuple

#: bitrate tables in kbit/s, indexed [version_group][layer][bitrate_index];
#: index 0 = "free format" (frame size undeterminable -> unsupported),
#: index 15 = forbidden. version_group: 0 = MPEG-1, 1 = MPEG-2/2.5.
_BITRATES = {
    (0, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448, 0),
    (0, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384, 0),
    (0, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0),
    (1, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256, 0),
    (1, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0),
    (1, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0),
}

#: sample-rate tables in Hz, indexed [version_bits][sr_index] (index 3 =
#: reserved). version_bits: 0 = MPEG-2.5, 2 = MPEG-2, 3 = MPEG-1.
_SAMPLE_RATES = {
    0: (11025, 12000, 8000),
    2: (22050, 24000, 16000),
    3: (44100, 48000, 32000),
}

#: how far into the payload to scan for the first sync word (past junk or
#: an unparseable leading tag) before giving up.
_SYNC_SCAN_LIMIT = 4096

#: minimum frames for a positive identification: a lone false-positive sync
#: word in arbitrary binary is common; two CONSECUTIVE valid frames whose
#: computed lengths chain is not.
_MIN_FRAMES = 2


class Mp3Info(NamedTuple):
    version: str            # 'MPEG1' | 'MPEG2' | 'MPEG2.5'
    layer: int              # 1 | 2 | 3
    sample_rate: int        # Hz
    n_channels: int         # 1 | 2
    n_frames: int
    n_samples: int          # total samples per channel
    duration_s: float       # n_samples / sample_rate
    bitrate_kbps: float     # frame-length-weighted mean
    vbr: bool               # True when frame bitrates differ
    frame_bitrates: list    # per-frame kbps, in stream order


def _id3v2_size(payload: bytes, off: int) -> int | None:
    """Byte length of an ID3v2 tag at ``off`` (header + syncsafe size +
    optional footer), or None if there is no tag there."""
    if payload[off : off + 3] != b"ID3" or len(payload) < off + 10:
        return None
    b6, b7, b8, b9 = payload[off + 6 : off + 10]
    if (b6 | b7 | b8 | b9) & 0x80:  # syncsafe bytes keep bit 7 clear
        return None
    size = (b6 << 21) | (b7 << 14) | (b8 << 7) | b9
    footer = 10 if payload[off + 5] & 0x10 else 0
    return 10 + size + footer


def _parse_frame_header(payload: bytes, off: int):
    """-> (frame_len, version_bits, layer, sample_rate, channels, kbps,
    samples_per_frame) for a valid frame header at ``off``, else None."""
    if len(payload) < off + 4:
        return None
    b0, b1, b2, b3 = payload[off : off + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version_bits = (b1 >> 3) & 0x03
    if version_bits == 1:  # reserved
        return None
    layer = 4 - ((b1 >> 1) & 0x03)  # bits 01->III, 10->II, 11->I
    if layer == 4:  # layer bits 00 = reserved
        return None
    br_index = (b2 >> 4) & 0x0F
    sr_index = (b2 >> 2) & 0x03
    if br_index in (0, 15) or sr_index == 3:
        # free-format (0) frames have no computable length; 15 is forbidden
        return None
    vgroup = 0 if version_bits == 3 else 1
    kbps = _BITRATES[(vgroup, layer)][br_index]
    sample_rate = _SAMPLE_RATES[version_bits][sr_index]
    padding = (b2 >> 1) & 0x01
    channels = 1 if ((b3 >> 6) & 0x03) == 3 else 2
    if layer == 1:
        samples_per_frame = 384
        frame_len = (12 * kbps * 1000 // sample_rate + padding) * 4
    else:
        samples_per_frame = 1152 if (layer == 2 or vgroup == 0) else 576
        frame_len = samples_per_frame // 8 * kbps * 1000 // sample_rate + padding
    if frame_len < 4:
        return None
    return frame_len, version_bits, layer, sample_rate, channels, kbps, samples_per_frame


def parse_mp3(payload: bytes) -> Mp3Info | None:
    """Walk the frame chain of an MPEG audio stream -> :class:`Mp3Info`,
    or None when the payload is not MPEG audio.

    Layout handled: optional ID3v2 prefix (syncsafe size, optional footer),
    junk before the first sync word (bounded scan), per-frame
    version/layer/bitrate/padding variation (VBR), a trailing ID3v1 ``TAG``
    block or truncated final frame (walk stops cleanly). Frames must agree
    on version/layer/sample-rate with the first frame — a sync word whose
    "next frame" disagrees is treated as a false positive.
    """
    if not payload or len(payload) < 4:
        return None
    off = 0
    tag = _id3v2_size(payload, off)
    if tag is not None:
        off += tag
    # bounded resync: find the first plausible frame header
    first = None
    scan_end = min(len(payload), off + _SYNC_SCAN_LIMIT)
    while off < scan_end:
        first = _parse_frame_header(payload, off)
        if first is not None:
            break
        nxt = payload.find(b"\xff", off + 1, scan_end)
        if nxt < 0:
            return None
        off = nxt
    if first is None:
        return None
    version_bits, layer, sample_rate = first[1], first[2], first[3]
    n_frames = 0
    n_samples = 0
    byte_len = 0
    channels = first[4]
    frame_bitrates: list = []
    while off + 4 <= len(payload):
        hdr = _parse_frame_header(payload, off)
        if hdr is None or hdr[1] != version_bits or hdr[2] != layer or hdr[3] != sample_rate:
            break  # trailing tag / garbage / truncated header
        frame_len, _, _, _, ch, kbps, spf = hdr
        if off + frame_len > len(payload):
            break  # truncated final frame: drop it, keep the walked prefix
        n_frames += 1
        n_samples += spf
        byte_len += frame_len
        channels = ch
        frame_bitrates.append(kbps)
        off += frame_len
    if n_frames < _MIN_FRAMES:
        return None
    duration = n_samples / sample_rate
    version = {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}[version_bits]
    return Mp3Info(
        version=version,
        layer=layer,
        sample_rate=sample_rate,
        n_channels=channels,
        n_frames=n_frames,
        n_samples=n_samples,
        duration_s=duration,
        bitrate_kbps=(byte_len * 8 / 1000.0) / duration if duration else 0.0,
        vbr=len(set(frame_bitrates)) > 1,
        frame_bitrates=frame_bitrates,
    )
