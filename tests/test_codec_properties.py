"""Property tests for the round-5 pure twins: AVI container, BPE
segmentation, expectation algebra. (Hypothesis over the pure functions —
no Spark session needed, so these run in milliseconds.)"""

from hypothesis import given, settings
from hypothesis import strategies as st

from blockchaintoavro_spark.functions.video import decode_avi, encode_avi
from blockchaintoavro_spark.operators.bpe import END_OF_WORD, segment_word

_frame = st.binary(min_size=0, max_size=64)


@given(
    st.integers(min_value=1, max_value=512),
    st.integers(min_value=1, max_value=512),
    st.lists(_frame, min_size=1, max_size=8),
    st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=60)
def test_avi_roundtrip_any_payloads(w, h, frames, usec):
    """The container is codec-agnostic: ANY byte payloads survive the
    encode→decode round trip exactly, in order, with header intact —
    including empty frames and frames containing RIFF magic bytes."""
    d = decode_avi(encode_avi(w, h, frames, usec))
    assert d["frames"] == frames
    assert (d["width"], d["height"], d["usec_per_frame"]) == (w, h, usec)
    assert d["n_frames"] == len(frames)


_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
    min_size=1,
    max_size=12,
)
_merges = st.lists(
    st.tuples(
        st.text("ab", min_size=1, max_size=2),
        st.text("ab", min_size=1, max_size=2),
    ),
    max_size=6,
)


@given(_word, _merges)
@settings(max_examples=200)
def test_segment_word_concat_invariant(word, merges):
    """Segmentation never loses or reorders characters: joining the
    symbols reproduces the marked word, under ANY merge list."""
    marked = word + END_OF_WORD
    assert "".join(segment_word(marked, merges)) == marked


@given(_word, _merges)
@settings(max_examples=100)
def test_segment_word_last_merge_is_exhausted(word, merges):
    """The final merge's pair never survives as an adjacency — its pass
    is exhaustive and nothing runs after it. (Earlier merges' pairs CAN
    legitimately reappear when a later merge constructs their second
    element, e.g. merges [(a,ab),(a,b)] on 'aab' ends as [a, ab] —
    that's correct BPE order-dependence, not a bug.)"""
    if not merges:
        return
    marked = word + END_OF_WORD
    once = segment_word(marked, merges)
    a, b = merges[-1]
    assert not any(x == a and y == b for x, y in zip(once, once[1:])), once


# ---------------------------------------------------------------------------
# perceptual fingerprints (operators/afp.py, operators/phash.py)

_pcm = st.lists(
    st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=2500
)


@given(_pcm)
@settings(max_examples=60, deadline=None)
def test_afp63_total_deterministic_and_63_bit(samples):
    """afp63 never raises on any int16 stream (incl. empty/short), is
    deterministic, and stays in [0, 2^63)."""
    from blockchaintoavro_spark.operators.afp import afp63

    c = afp63(samples, 1)
    assert c == afp63(list(samples), 1)
    assert 0 <= c < (1 << 63)


@given(_pcm, st.integers(min_value=2, max_value=8))
@settings(max_examples=40, deadline=None)
def test_afp63_gain_invariance_property(samples, gain):
    """Uniform gain cannot flip any energy-delta-delta sign (every
    energy scales by gain², all strict inequalities preserved)."""
    from blockchaintoavro_spark.operators.afp import afp63

    assert afp63(samples, 1) == afp63([s * gain for s in samples], 1)


@given(st.binary(min_size=0, max_size=4096))
@settings(max_examples=60, deadline=None)
def test_afp63_on_wav_roundtrip_bytes(payload):
    """try_decode_audio on arbitrary bytes either returns None or a
    decodable clip afp63 accepts — the codes map never raises on a
    corrupt payload column."""
    from blockchaintoavro_spark.functions.audio import try_decode_audio
    from blockchaintoavro_spark.operators.afp import afp63

    try:
        d = try_decode_audio(payload)
    except ValueError:
        return  # loud decode error on WAV-magic-but-corrupt bytes —
        # afp_codes catches this set and skips the row (tested in
        # tests/test_afp.py)
    if d is not None:
        assert 0 <= afp63(d["samples"], d["channels"]) < (1 << 63)


@given(
    st.lists(
        st.integers(min_value=0, max_value=255), min_size=1024, max_size=1024
    )
)
@settings(max_examples=40, deadline=None)
def test_phash63_total_on_any_32x32_gray(pix):
    """phash63 is total and 63-bit on any 32×32 gray plane, and
    deterministic across calls."""
    from blockchaintoavro_spark.operators.phash import phash63

    b = bytes(pix)
    c = phash63(b, 32, 32, 1)
    assert c == phash63(b, 32, 32, 1)
    assert 0 <= c < (1 << 63)


# ---------------------------------------------------------------------------
# zstandard OCF codec (the ``zstandard`` entry of sources/avro_io.py's
# codec table) gets the same adversarial Hypothesis coverage as the
# other codecs (VERDICT r12 "Next round" #7): random payloads through
# BOTH frame shapes (content-size-declared and unknown-size streaming
# frames), truncation, and byte corruption.

import pyarrow as pa
import pytest

from blockchaintoavro_spark.sources.avro_io import (
    _CODECS,
    _MAX_BLOCK,
    _decompress_block,
)

_zstd_compress, _zstd_decompress = _CODECS["zstandard"]

_payload = st.binary(min_size=0, max_size=4096)


def _frame_content_size(frame: bytes) -> int | None:
    """The content size a zstd frame header declares (RFC 8878 3.1.1.1),
    or None when the frame leaves it unknown."""
    assert frame[:4] == b"\x28\xb5\x2f\xfd"
    desc = frame[4]
    fcs_flag, single_segment, dict_flag = desc >> 6, (desc >> 5) & 1, desc & 3
    pos = 5 + (0 if single_segment else 1) + (0, 1, 2, 4)[dict_flag]
    size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
    if size == 0:
        return None
    n = int.from_bytes(frame[pos : pos + size], "little")
    return n + 256 if size == 2 else n


def _streaming_frame(data: bytes) -> bytes:
    """Compress through pyarrow's streaming writer, which pledges no
    source size: an unknown-content-size frame (the JVM streaming
    writer's shape)."""
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    return sink.getvalue().to_pybytes()


@given(_payload)
@settings(max_examples=60, deadline=None)
def test_zstd_roundtrip_content_size_path(data):
    """The entry's compress declares the content size in the frame
    header, and decompress reproduces the payload bit-for-bit."""
    frame = _zstd_compress(data)
    assert _frame_content_size(frame) == len(data)
    assert _zstd_decompress(frame) == data


@given(_payload)
@settings(max_examples=60, deadline=None)
def test_zstd_roundtrip_streaming_path(data):
    """Unknown-content-size frames (the JVM writer's shape) decode to
    the identical payload. (An empty stream is one frame declaring
    size 0.)"""
    frame = _streaming_frame(data)
    assert _frame_content_size(frame) == (None if data else 0)
    assert _zstd_decompress(frame) == data


@given(_payload, st.data())
@settings(max_examples=60, deadline=None)
def test_zstd_truncation_raises_zstderror_both_paths(data, rnd):
    """ANY strict prefix of a frame (either shape), the empty one
    included, raises the descriptive ValueError — never returns partial
    data, never raises another type, never hangs."""
    for frame in (_zstd_compress(data), _streaming_frame(data)):
        cut = rnd.draw(st.integers(min_value=0, max_value=len(frame) - 1))
        with pytest.raises(ValueError, match="corrupt zstandard block in x"):
            _decompress_block("zstandard", frame[:cut], "x")


@given(_payload, st.data())
@settings(max_examples=80, deadline=None)
def test_zstd_corruption_is_contained(data, rnd):
    """Flipping any byte either raises the descriptive ValueError or
    decodes to SOME byte string within the block cap — it must never
    raise a different exception type or crash the process (zstd frames
    carry no checksum by default, so silent different bytes are
    possible and acceptable; uncontained failures are not)."""
    frame = bytearray(_zstd_compress(data))
    i = rnd.draw(st.integers(min_value=0, max_value=len(frame) - 1))
    frame[i] ^= rnd.draw(st.integers(min_value=1, max_value=255))
    try:
        out = _decompress_block("zstandard", bytes(frame), "x")
    except ValueError:
        return
    assert isinstance(out, bytes) and len(out) <= _MAX_BLOCK


def _afp63_ref(samples, channels=1):
    """Pre-r16 scalar reference: exact big-int energies, verbatim."""
    import numpy as np

    from blockchaintoavro_spark.operators.afp import _wht_matrix

    x = np.asarray(samples, dtype=np.int64)
    if channels > 1:
        n_frames = x.size // channels
        x = x[: n_frames * channels].reshape(n_frames, channels).sum(axis=1)
    n = x.size
    if n == 0:
        return 0
    H = _wht_matrix()
    E = []
    for t in range(9):
        lo, hi = t * n // 9, (t + 1) * n // 9
        block = x[lo:hi]
        m = block.size
        cells = np.zeros(64, dtype=np.int64)
        if m:
            bounds = (np.arange(65) * m) // 64
            csum = np.concatenate(([0], np.cumsum(block)))
            cells = csum[bounds[1:]] - csum[bounds[:-1]]
        W = H @ cells
        Wp = [int(w) for w in W]
        E.append(
            [sum(Wp[1 + 7 * b + k] ** 2 for k in range(7)) for b in range(9)]
        )
    code = 0
    for t in range(1, 9):
        for b in range(8):
            bit = (t - 1) * 8 + b
            if bit > 62:
                continue
            q = (E[t][b] - E[t][b + 1]) - (E[t - 1][b] - E[t - 1][b + 1])
            if q > 0:
                code |= 1 << bit
    return code


@given(_pcm, st.sampled_from([1, 1, 1, 2, 3]))
@settings(max_examples=60, deadline=None)
def test_afp63_vectorized_bit_match(samples, channels):
    """r16: the int64 fast path must stay bit-identical to the exact
    big-int reference on every clip it claims (the _AFP_FAST_MAX_W
    bound proves no intermediate overflows)."""
    from blockchaintoavro_spark.operators.afp import afp63

    assert afp63(samples, channels) == _afp63_ref(samples, channels)


@given(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=600))
@settings(max_examples=20, deadline=None)
def test_afp63_bigint_fallback_bit_match(samples):
    """Amplitudes past the int64 fast-path bound route to the exact
    fallback and still match the reference."""
    from blockchaintoavro_spark.operators.afp import afp63

    assert afp63(samples, 1) == _afp63_ref(samples, 1)
