"""Never-raise fuzz contract for every codec parser.

The parsers take untrusted payload bytes, so the contract is: arbitrary
bytes NEVER raise; they return None (or a well-formed result).
Two corpora: pure random blobs, and valid payloads with random byte
mutations (far better at reaching deep branches than noise alone).
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from security_log_analysis_rust_spark.textops.adts import parse_adts
from security_log_analysis_rust_spark.textops.flac import parse_flac
from security_log_analysis_rust_spark.textops.gif import decode_gif
from security_log_analysis_rust_spark.textops.jpeg import decode_jpeg
from security_log_analysis_rust_spark.textops.mp3 import parse_mp3
from security_log_analysis_rust_spark.textops.mp4 import (
    parse_avif_header,
    parse_mp4,
)
from security_log_analysis_rust_spark.textops.ogg import parse_ogg
from security_log_analysis_rust_spark.textops.webm import parse_webm

PARSERS = [
    parse_adts, parse_flac, decode_gif, decode_jpeg, parse_mp3,
    parse_avif_header, parse_mp4, parse_ogg, parse_webm,
]


def _valid_corpus():
    """One representative valid payload per format family."""
    import sys

    sys.path.insert(0, "tests")
    from test_adts import build_adts
    from test_mp4 import _avif
    from test_ogg_flac import build_flac, ogg_page, vorbis_ident
    from test_webm import build_webm
    from util_jpeg import encode_gray
    from util_jpeg_prog import encode_progressive
    from util_mp4 import build_mp4

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    return [
        build_adts([80] * 4),
        build_flac(),
        encode_gray(img),
        encode_progressive(img),
        _avif(64, 64, channels=3),
        build_mp4([b"frame" * 10] * 4)[0],
        build_webm(video_frames=[b"x" * 40] * 3),
        ogg_page(7, 0, [vorbis_ident()], header_type=2)
        + ogg_page(7, 44100, [b"\xaa" * 120], seq=1),
    ]


CORPUS = _valid_corpus()


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=512))
def test_parsers_never_raise_on_random_bytes(data):
    for parse in PARSERS:
        parse(data)


@settings(max_examples=120, deadline=None)
@given(
    idx=st.integers(0, len(CORPUS) - 1),
    seed=st.integers(0, 2**31),
    n_mut=st.integers(1, 12),
)
def test_parsers_never_raise_on_mutated_valid_payloads(idx, seed, n_mut):
    rng = np.random.default_rng(seed)
    payload = bytearray(CORPUS[idx])
    for _ in range(n_mut):
        payload[rng.integers(0, len(payload))] = rng.integers(0, 256)
    # also try a random truncation of the mutant
    cut = bytes(payload[: rng.integers(0, len(payload) + 1)])
    for parse in PARSERS:
        parse(bytes(payload))
        parse(cut)


def test_jpeg_empty_marker_segments_return_none():
    """Regression: a marker segment with seg_len == 2 (empty body) used to
    raise IndexError at the SOF handler (found by the mutation fuzz)."""
    for marker in (0xC0, 0xC2, 0xDA, 0xDD, 0xC4, 0xDB):
        payload = b"\xff\xd8" + bytes([0xFF, marker, 0x00, 0x02]) + b"\xff\xd9"
        assert decode_jpeg(payload) is None
