"""ISO-BMFF parser round-trips against an independent forward encoder.

No Spark needed — `parse_mp4` is a pure function.
"""

import struct

import pytest

from security_log_analysis_rust_spark.textops.mp4 import parse_mp4
from tests import util_mp4 as enc


SAMPLES = [b"frame-%03d-" % i * (i + 1) for i in range(5)]


def test_roundtrip_two_tracks():
    payload, ranges = enc.build_mp4(
        SAMPLES, width=640, height=360, timescale=1000, sample_delta=40,
        audio=True, lang="eng",
    )
    info = parse_mp4(payload)
    assert info is not None
    assert info.brand == "isom"
    assert info.timescale == 1000
    assert info.duration_s == pytest.approx(0.2)  # 5 * 40 / 1000
    assert info.n_tracks == 2

    video = next(t for t in info.tracks if t.handler == "vide")
    assert video.codec == "avc1"
    assert (video.width, video.height) == (640, 360)
    assert video.depth == 24
    assert video.n_samples == 5
    assert video.lang == "eng"
    assert video.duration_s == pytest.approx(0.2)
    assert video.sample_ranges == ranges
    # the resolved ranges really do address the original sample bytes
    for (off, size), s in zip(video.sample_ranges, SAMPLES):
        assert payload[off : off + size] == s

    audio = next(t for t in info.tracks if t.handler == "soun")
    assert audio.codec == "mp4a"
    assert audio.n_channels == 2
    assert audio.sample_rate == 44100
    assert audio.width is None and audio.height is None


def test_stsc_run_advance_across_chunks():
    # 5 samples in chunks of 3 + 2: the second stsc run must kick in at
    # chunk 2 or offsets drift into the wrong chunk
    sizes = [11, 7, 13, 5, 9]
    samples = [bytes([65 + i]) * n for i, n in enumerate(sizes)]
    payload, ranges = enc.build_mp4(samples)
    video = parse_mp4(payload).tracks[0]
    assert [sz for _, sz in video.sample_ranges] == sizes
    assert video.sample_ranges == ranges
    for (off, size), s in zip(video.sample_ranges, samples):
        assert payload[off : off + size] == s


def test_co64_wide_offsets():
    payload, ranges = enc.build_mp4(SAMPLES, wide_offsets=True)
    video = parse_mp4(payload).tracks[0]
    assert video.sample_ranges == ranges


def test_largesize_box_header():
    # re-wrap the moov of a valid file in a 64-bit-size box header
    payload, _ = enc.build_mp4(SAMPLES)
    idx = payload.rindex(b"moov") - 4
    size = struct.unpack_from(">I", payload, idx)[0]
    body = payload[idx + 8 : idx + size]
    wide_moov = struct.pack(">I", 1) + b"moov" + struct.pack(
        ">Q", len(body) + 16
    ) + body
    info = parse_mp4(payload[:idx] + wide_moov)
    assert info is not None and info.n_tracks == 1


def test_mvhd_version1():
    payload, _ = enc.build_mp4(SAMPLES, timescale=90000, sample_delta=3000)
    # rebuild mvhd as version 1 (64-bit times) by hand
    v0 = enc.mvhd(90000, 15000)
    body = struct.pack(">QQIQ", 0, 0, 90000, 15000)
    body += v0[8 + 4 + 16 :]  # rate/volume/matrix tail is version-invariant
    v1 = enc.fullbox(b"mvhd", body, version=1)
    info = parse_mp4(payload.replace(v0, v1))
    assert info.timescale == 90000
    assert info.duration_s == pytest.approx(15000 / 90000, rel=1e-4)


def test_overrunning_sample_stops_ranges_honestly():
    # an stsz entry that overruns the actual payload (truncated mdat /
    # lying table) must stop the range walk, not hand out bogus ranges
    payload, ranges = enc.build_mp4(SAMPLES)
    sizes = [sz for _, sz in ranges]
    good_stsz = enc.stsz(sizes)
    bad_stsz = enc.stsz(sizes[:-1] + [1 << 30])
    info = parse_mp4(payload.replace(good_stsz, bad_stsz))
    assert info is not None
    assert info.tracks[0].sample_ranges == ranges[:-1]


def test_rejects_non_mp4():
    assert parse_mp4(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64) is None
    assert parse_mp4(b"ftypisom this is not a box structure" * 4) is None
    assert parse_mp4(b"") is None
    # a well-formed ftyp alone (no moov) is not a positive identification
    ftyp_only = enc.box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    assert parse_mp4(ftyp_only + b"\x00" * 32) is None


def test_rejects_truncated_moov():
    payload, _ = enc.build_mp4(SAMPLES)
    moov_at = payload.rindex(b"moov") - 4
    assert parse_mp4(payload[: moov_at + 30]) is None


def test_garbage_box_sizes_do_not_crash():
    payload, _ = enc.build_mp4(SAMPLES)
    for idx in (0, 40, len(payload) - 60):
        corrupted = bytearray(payload)
        struct.pack_into(">I", corrupted, idx, 0xFFFFFFF0)
        parse_mp4(bytes(corrupted))  # must not raise


def _avif(w, h, channels=None, brand=b"avif"):
    from tests.util_mp4 import box

    ispe = box(
        b"ispe", b"\x00" * 4 + w.to_bytes(4, "big") + h.to_bytes(4, "big")
    )
    pixi = (
        box(b"pixi", b"\x00" * 4 + bytes([channels] + [8] * channels))
        if channels
        else b""
    )
    ftyp = box(b"ftyp", brand + b"\x00" * 4 + brand + b"mif1")
    meta = box(
        b"meta", b"\x00" * 4 + box(b"iprp", box(b"ipco", ispe + pixi))
    )
    return ftyp + meta


def test_avif_header_roundtrip():
    from security_log_analysis_rust_spark.textops.mp4 import parse_avif_header

    assert parse_avif_header(_avif(800, 600)) == (800, 600, 3)
    assert parse_avif_header(_avif(64, 32, channels=4)) == (64, 32, 4)
    assert parse_avif_header(_avif(100, 50, brand=b"heic")) == (100, 50, 3)


def test_avif_header_rejects():
    from security_log_analysis_rust_spark.textops.mp4 import parse_avif_header

    # a video-brand mp4 with a meta box is not an image
    payload, _ = enc.build_mp4(SAMPLES)
    assert parse_avif_header(payload) is None
    # image brand but no meta/ispe
    from tests.util_mp4 import box

    ftyp_only = box(b"ftyp", b"avif\x00\x00\x00\x00avif")
    assert parse_avif_header(ftyp_only + box(b"mdat", b"x" * 32)) is None
    assert parse_avif_header(b"") is None
