"""Multimodal column handling (SURVEY §2.7 X5): opaque binary payloads +
typed metadata, processed with Arrow-batched ``mapInPandas``.

The reference's analog is the raw script-bytes columns
(``BQRow.avsc:6,20`` via ``ByteBuffer.wrap``, ``BitcoinBlockHandler.java:
132,161``) — binary travels through the pipeline untouched, derivations
produce sibling typed columns.

Decode is REAL for PNG, BMP, baseline JPEG and GIF payloads — the
pure-stdlib codecs in ``functions/imaging.py`` / ``jpeg.py`` / ``gif.py``
(known-answer-, round-trip- and javax.imageio-cross-tested) run inside
the mapInPandas batches, dispatched on the payload's magic bytes. So are
nearest-neighbor resize (:func:`resize_roundtrip_features`) and frame
sampling (real composited frames for multi-frame GIFs). Audio is REAL
for RIFF/WAVE PCM payloads (``functions/audio.py`` — stdlib struct
parsing, stdlib-``wave`` cross-tested) via :func:`extract_audio_features`,
and video is REAL for AVI/Motion-JPEG payloads (``functions/video.py`` —
RIFF container walk + per-frame JFIF decode) via :func:`sample_frames` /
:func:`video_frame_features`. Payloads in any other format fall back to
:func:`extract_features`' deterministic stub features or the byte-window
fallbacks, which keep the pipeline total.
At scale this pattern is the right one: mapInPandas streams Arrow batches
through Python without materializing a partition, and the decode cost
parallelizes per-partition with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, modality string, width long, height long, "
    "checksum long"
)


import functools as _functools  # noqa: E402


@_functools.lru_cache(maxsize=256)
def _ramp7(n: int):
    """Cached ``7·i`` ramp for the id-arithmetic pixel synthesizers —
    pure geometry (no ids, no results); the fixture repeats a handful
    of shapes so the arange amortizes to nothing. Read-only: every
    caller shares the one cached array."""
    import numpy as np

    ramp = 7 * np.arange(n, dtype=np.int64)
    ramp.flags.writeable = False
    return ramp


@_functools.lru_cache(maxsize=64)
def _jpeg_base_grid(h: int, w: int, ch: int):
    """Cached ``bx·29 + by·41 + c·53`` block grid for the JPEG roundtrip
    synthesizer (geometry only — the id term is added per row).
    Read-only: every caller shares the one cached array."""
    import numpy as np

    grid = (
        (np.arange(h)[:, None, None] // 8) * 41
        + (np.arange(w)[None, :, None] // 8) * 29
        + np.arange(ch)[None, None, :] * 53
    )
    grid.flags.writeable = False
    return grid


def with_binary_payload(
    df: DataFrame, text_col: str = "text", out_col: str = "payload"
) -> DataFrame:
    """Attach an opaque binary payload column + modality metadata.

    Here the payload is the utf-8 bytes of the text (stand-in for image/
    audio bytes); real pipelines would read these from files/object store.
    """
    return df.withColumn(out_col, F.col(text_col).cast("binary")).withColumn(
        "modality", F.lit("text")
    )


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (Arrow
    batches): real PNG/BMP/JPEG/GIF decode (dims + order-sensitive pixel
    checksum); any other payload gets deterministic stub features
    derived from its bytes, so one corrupt payload can't fail the stage.

    The worker imports the pure imaging module by name (the same
    pure-twin contract as functions/base58.py — session.configure ships
    the package via addPyFile), keeping the heavy decode logic out of
    the pickled closure."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            pixel_checksum,
            try_decode_image,
        )

        def _decode_stub(payload):
            if not payload:
                return {"width": 0, "height": 0, "checksum": 0}
            return {
                "width": payload[0] % 128 + 1,
                "height": payload[-1] % 128 + 1,
                "checksum": sum(payload) % (1 << 31),
            }

        def _decode(payload):
            info = try_decode_image(payload)
            if info is None:
                return _decode_stub(payload)
            return {
                "width": info["width"],
                "height": info["height"],
                "checksum": pixel_checksum(info["pixels"]),
            }

        for pdf in batches:
            feats = [_decode(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf[payload_col]],
                    "modality": pdf["modality"].values,
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "checksum": [f["checksum"] for f in feats],
                }
            )

    return df.select(id_col, payload_col, "modality").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


ROUNDTRIP_SCHEMA = (
    "doc_id long, format string, width long, height long, checksum long"
)


def _spread_ids(df: DataFrame, id_col: str) -> DataFrame:
    """The *_roundtrip_features operators synthesize payloads from the id
    alone, so only the 8-byte id column enters the Python stage — but a
    single-file scan (one input partition) would then run the whole
    pure-Python codec serially in one task. Repartitioning the ids to
    the cluster's default parallelism is a negligible shuffle that makes
    the codec work embarrassingly parallel. Operators over REAL payload
    columns (extract_*_features) deliberately skip this: at 100 TB their
    inputs arrive pre-partitioned and reshuffling binary payloads would
    cost more than it saves."""
    sc = df.sparkSession.sparkContext
    return df.select(id_col).repartition(sc.defaultParallelism)


def image_roundtrip_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """End-to-end exercise of the REAL image codecs on the cluster: per
    row, synthesize a deterministic image from the id alone (even ids →
    8-bit gray PNG, odd ids → 24 bpp BMP; ``pixel[i] = (id·31 + 7i) mod
    256``), encode it to real container bytes, decode those bytes back
    through the magic-dispatch path, and emit the decoded dims + pixel
    checksum.

    Because every output value is pure integer arithmetic on the id, an
    SQL oracle can verify the WHOLE encode→decode pipeline without any
    image code (the x_png_decode declared query) — if any stage of the
    PNG/BMP codecs mangled a byte, the checksum would diverge.

    Scale: mapInPandas, row-local, zero shuffle; Arrow streams batches so
    no partition materializes in Python at once.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            encode_bmp,
            encode_png,
            pixel_checksum,
            try_decode_image,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "format": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w = 4 + doc_id % 13
                h = 3 + doc_id % 7
                ch = 1 if doc_id % 2 == 0 else 3
                # (id·31 + 7i) mod 256 — vectorized over the cached 7i
                # ramp (same bytes as the former per-byte genexpr). The
                # id is reduced mod 256 first: a Python int past 2^63
                # would promote the int64 broadcast to float64
                px = (((doc_id % 256) * 31 + _ramp7(w * h * ch)) % 256).astype(
                    "uint8"
                ).tobytes()
                payload = (
                    encode_png(w, h, px, 1) if ch == 1 else encode_bmp(w, h, px)
                )
                info = try_decode_image(payload)
                if info is None:  # a codec bug must fail loudly, not stub
                    raise ValueError(f"roundtrip decode failed for id {doc_id}")
                out["doc_id"].append(doc_id)
                out["format"].append(info["format"])
                out["width"].append(info["width"])
                out["height"].append(info["height"])
                out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=ROUNDTRIP_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, frame_no long, frame binary, codec_config binary"
)


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 16,
    every_n: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling: one output row per kept frame (flat-map shape —
    mapInPandas may yield more rows than it consumes).

    Multi-frame GIF payloads get REAL deterministic frame sampling: the
    composited frames (functions/gif.py — sub-rects, disposal and
    transparency applied) are materialized, every ``every_n``-th is kept,
    and each kept frame is re-encoded as a standalone RGB PNG (lossless,
    self-describing, re-decodable downstream). AVI/Motion-JPEG payloads
    get REAL keyframe extraction too (functions/video.py): the container
    is walked, every ``every_n``-th frame payload is kept AS the already
    self-describing JPEG bytes — no pixel decode is paid for dropped
    frames, the order that matters at 100 TB. MP4 containers restrict
    the walk to their DECLARED sync samples first (functions/mp4.py
    stss — emitted frame_no keeps the true sample index), with
    ``every_n`` striding the keyframe list: only independently-
    decodable samples are ever emitted. Other payloads keep the
    fixed-size byte-window fallback (``frame_bytes`` per frame) — the
    same row-explosion shape with a degenerate "codec".

    Each kept sample also carries the container's DECODER-CONFIGURATION
    record (``codec_config``, VERDICT r15 #1): for H.264/H.265 MP4s the
    sample payloads are bare NAL units that are undecodable without the
    ``avcC``/``hvcC`` extradata from ``stsd``, so a frame-sampling
    pipeline that drops it emits unusable bytes. Self-describing
    payloads (MJPEG samples, GIF→PNG, byte windows) carry NULL.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.gif import decode_gif_frames
        from blockchaintoavro_spark.functions.imaging import encode_png
        from blockchaintoavro_spark.functions.video import try_decode_video

        for pdf in batches:
            ids, nos, frames, cfgs = [], [], [], []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None:
                    continue
                b = bytes(p)
                try:
                    avi = try_decode_video(b)
                except ValueError:
                    avi = None
                if avi is not None:
                    sel = avi.get("keyframes")  # MP4 sync samples
                    if sel is None:
                        sel = range(len(avi["frames"]))
                    cfg = avi.get("codec_config")
                    for i in list(sel)[::every_n]:
                        ids.append(doc_id)
                        nos.append(i)
                        frames.append(avi["frames"][i])
                        cfgs.append(cfg)
                    continue
                if b[:6] in (b"GIF87a", b"GIF89a"):
                    try:
                        d = decode_gif_frames(b)
                    except ValueError:
                        continue
                    for i in range(0, len(d["frames"]), every_n):
                        ids.append(doc_id)
                        nos.append(i)
                        frames.append(
                            encode_png(d["width"], d["height"], d["frames"][i], 3)
                        )
                        cfgs.append(None)
                    continue
                for i in range(0, len(b) // frame_bytes, every_n):
                    ids.append(doc_id)
                    nos.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
                    cfgs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": nos,
                    "frame": frames,
                    "codec_config": cfgs,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=FRAME_SCHEMA
    )


JPEG_ROUNDTRIP_SCHEMA = (
    "doc_id long, format string, width long, height long, channels long, "
    "checksum long"
)


def jpeg_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id", progressive: bool = False
) -> DataFrame:
    """End-to-end exercise of the REAL baseline-JPEG codec on the cluster
    (r4 VERDICT #1 — the X5 format-breadth gap): per row, synthesize a
    deterministic image from the id alone where every 8×8 block is
    constant (block ``(bx, by)`` channel ``c`` holds ``(id·17 + bx·29 +
    by·41 + c·53) mod 256``; ``1 + id%3`` × ``1 + id%2`` blocks; gray for
    even ids, 3-channel for odd), encode it to real JFIF bytes
    (functions/jpeg.py, quant=1), decode those bytes back through the
    magic-dispatch path, and emit decoded dims + pixel checksum.

    Flat blocks make the lossy pipeline EXACTLY lossless (DC-only
    spectrum, integer DC), so every output value is pure id arithmetic
    and a SQL oracle verifies the whole Huffman/zigzag/quant/IDCT stack
    with no image code (the x_jpeg_decode declared query): one mangled
    bit anywhere diverges the checksum.

    With ``progressive=True`` the same images go through the SOF2
    encoder instead (functions/jpeg.py:encode_jpeg_progressive), so the
    decode exercises the multi-scan successive-approximation path — the
    worker asserts the payload really carries the SOF2 marker, and the
    DC first+refinement identity ``(d>>1)<<1 | (d&1) == d`` keeps flat
    blocks exactly lossless, so the SAME id-arithmetic oracle verifies
    the progressive stack (the x_jpeg_progressive declared query).

    Scale: mapInPandas, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            pixel_checksum,
            try_decode_image,
        )
        from blockchaintoavro_spark.functions.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        encoder = encode_jpeg_progressive if progressive else encode_jpeg
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "format": [], "width": [],
                "height": [], "channels": [], "checksum": [],
            }
            import numpy as np

            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                wb = 1 + doc_id % 3
                hb = 1 + doc_id % 2
                w, h = 8 * wb, 8 * hb
                ch = 1 if doc_id % 2 == 0 else 3
                # (doc_id·17 + bx·29 + by·41 + c·53) mod 256 per sample,
                # broadcast over the cached geometry grid (same bytes;
                # id reduced mod 256 first, as in image_roundtrip_features)
                px = (((doc_id % 256) * 17 + _jpeg_base_grid(h, w, ch)) % 256).astype(
                    np.uint8
                ).tobytes()
                payload = encoder(w, h, px, ch, quant=1)
                if progressive and b"\xff\xc2" not in payload:
                    raise ValueError("progressive encoder produced no SOF2")
                info = try_decode_image(payload)
                if info is None or info["pixels"] != px:
                    raise ValueError(f"jpeg roundtrip failed for id {doc_id}")
                out["doc_id"].append(doc_id)
                out["format"].append(info["format"])
                out["width"].append(info["width"])
                out["height"].append(info["height"])
                out["channels"].append(info["channels"])
                out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=JPEG_ROUNDTRIP_SCHEMA)


GIF_FRAME_SCHEMA = (
    "doc_id long, frame_no long, width long, height long, checksum long"
)


def gif_frame_features(
    df: DataFrame, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """REAL multi-frame GIF decode + deterministic frame sampling on the
    cluster: per row, synthesize an animated gray-ramp GIF from the id
    (``2 + id%3`` frames of ``5 + id%9`` × ``4 + id%5``; frame ``k``
    pixel ``(x, y)`` holds ``(id·23 + 5x + 3y + 11k) mod 256``), encode
    it (functions/gif.py — real LZW), decode all frames back, keep every
    ``every_n``-th, and emit per-frame dims + RGB pixel checksum.

    GIF is lossless and the gray palette maps index→(i,i,i), so each
    output is pure id arithmetic — the x_gif_frames declared query's
    DuckDB twin verifies LZW, palette and compositing end-to-end.

    Scale: mapInPandas flat-map, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.gif import (
            decode_gif_frames,
            encode_gif,
        )
        from blockchaintoavro_spark.functions.imaging import pixel_checksum

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_no": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w = 5 + doc_id % 9
                h = 4 + doc_id % 5
                n_frames = 2 + doc_id % 3
                frames = [
                    bytes(
                        (doc_id * 23 + 5 * x + 3 * y + 11 * k) % 256
                        for y in range(h)
                        for x in range(w)
                    )
                    for k in range(n_frames)
                ]
                payload = encode_gif(w, h, frames)
                d = decode_gif_frames(payload)
                if d["width"] != w or d["height"] != h or len(d["frames"]) != n_frames:
                    raise ValueError(f"gif roundtrip failed for id {doc_id}")
                for k in range(0, n_frames, every_n):
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["checksum"].append(pixel_checksum(d["frames"][k]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=GIF_FRAME_SCHEMA)


RESIZE_ROUNDTRIP_SCHEMA = (
    "doc_id long, src_w long, src_h long, dst_w long, dst_h long, checksum long"
)


def resize_roundtrip_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL resize verified end-to-end: per row, synthesize the same gray
    PNG as x_png_decode's even path (``4 + id%13`` × ``3 + id%7``,
    ``pixel[i] = (id·31 + 7i) mod 256``), encode→decode it, resample to
    id-dependent target dims (``3 + id%5`` × ``2 + id%4``) with
    nearest-neighbor (floor mapping), and emit the resized checksum.

    Nearest-neighbor is pure integer index arithmetic, so the x_resize
    declared query's DuckDB twin recomputes every resized pixel from the
    id — verifying PNG encode, decode AND the resampling math together.

    Scale: mapInPandas, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            encode_png,
            pixel_checksum,
            resize_nearest,
            try_decode_image,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "src_w": [], "src_h": [],
                "dst_w": [], "dst_h": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                sw = 4 + doc_id % 13
                sh = 3 + doc_id % 7
                dw = 3 + doc_id % 5
                dh = 2 + doc_id % 4
                px = bytes((doc_id * 31 + 7 * i) % 256 for i in range(sw * sh))
                info = try_decode_image(encode_png(sw, sh, px, 1))
                if info is None or info["pixels"] != px:
                    raise ValueError(f"png roundtrip failed for id {doc_id}")
                resized = resize_nearest(info["pixels"], sw, sh, dw, dh, 1)
                out["doc_id"].append(doc_id)
                out["src_w"].append(sw)
                out["src_h"].append(sh)
                out["dst_w"].append(dw)
                out["dst_h"].append(dh)
                out["checksum"].append(pixel_checksum(resized))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=RESIZE_ROUNDTRIP_SCHEMA)


AUDIO_ROUNDTRIP_SCHEMA = (
    "doc_id long, format string, sample_rate long, channels long, "
    "n_frames long, checksum long, energy long"
)


def audio_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id", bits_cycle: tuple = (16,)
) -> DataFrame:
    """End-to-end exercise of the REAL WAV codec on the cluster (closes
    the audio leg of X5 the same way x_png_decode closed images): per
    row, synthesize a deterministic interleaved PCM stream from the id
    alone (``1 + id%2`` channels at ``8000·(1 + id%3)`` Hz, ``50 +
    id%101`` frames, ``sample[i] = ((id·131 + 17i) mod 65536) - 32768``),
    encode it to real RIFF/WAVE bytes (functions/audio.py), decode those
    bytes back through magic dispatch, and emit the decoded header fields
    plus a positional sample checksum and exact integer energy.

    Every output value is pure integer arithmetic on the id, so an SQL
    oracle verifies the WHOLE encode→decode pipeline with no audio code
    (the x_wav_decode declared query) — one mangled byte anywhere in the
    RIFF framing or PCM packing diverges the checksum.

    ``bits_cycle`` rotates the stored depth by id (e.g. ``(16, 24, 32)``
    — all exact for full-range int16 input since decode normalizes deep
    PCM back to the int16 contract), so the SAME oracle arithmetic also
    exercises the 24/32-bit packing paths; the worker's sample-identity
    check catches any depth-specific codec bug before the checksum.

    Scale: mapInPandas, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.audio import (
            encode_wav,
            sample_checksum,
            sample_energy,
            try_decode_audio,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "format": [], "sample_rate": [],
                "channels": [], "n_frames": [], "checksum": [], "energy": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                ch = 1 + doc_id % 2
                rate = 8000 * (1 + doc_id % 3)
                n_frames = 50 + doc_id % 101
                samples = [
                    ((doc_id * 131 + 17 * i) % 65536) - 32768
                    for i in range(n_frames * ch)
                ]
                bits = bits_cycle[doc_id % len(bits_cycle)]
                info = try_decode_audio(encode_wav(rate, ch, samples, bits=bits))
                if info is None or info["samples"] != samples:
                    raise ValueError(f"wav roundtrip failed for id {doc_id}")
                if info["bits"] != bits:
                    raise ValueError(f"wav depth mismatch for id {doc_id}")
                out["doc_id"].append(doc_id)
                out["format"].append(info["format"])
                out["sample_rate"].append(info["sample_rate"])
                out["channels"].append(info["channels"])
                out["n_frames"].append(info["n_frames"])
                out["checksum"].append(sample_checksum(info["samples"]))
                out["energy"].append(sample_energy(info["samples"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=AUDIO_ROUNDTRIP_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, is_audio boolean, sample_rate long, "
    "channels long, n_frames long, checksum long"
)


def extract_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Audio feature extraction over opaque binary payloads: WAV payloads
    (magic dispatch) get REAL decoded header fields + sample checksum;
    anything else yields ``is_audio = false`` with zeroed features —
    total, so one corrupt payload can't fail a 100 TB stage.

    Scale: mapInPandas, row-local, zero shuffle; Arrow streams batches.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.audio import (
            sample_checksum,
            try_decode_audio,
        )

        zero = {"sample_rate": 0, "channels": 0, "n_frames": 0, "samples": []}

        def _decode(p):
            if p is None:
                return False, zero
            try:
                info = try_decode_audio(bytes(p))
            except ValueError:
                return False, zero
            return (True, info) if info is not None else (False, zero)

        for pdf in batches:
            feats = [_decode(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf[payload_col]
                    ],
                    "is_audio": [ok for ok, _ in feats],
                    "sample_rate": [f["sample_rate"] for _, f in feats],
                    "channels": [f["channels"] for _, f in feats],
                    "n_frames": [f["n_frames"] for _, f in feats],
                    "checksum": [sample_checksum(f["samples"]) for _, f in feats],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=AUDIO_FEATURE_SCHEMA
    )


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_no long, width long, height long, checksum long"
)


def video_frame_features(
    df: DataFrame, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """REAL video keyframe extraction on the cluster (closes the video
    leg of X5): per row, synthesize a deterministic Motion-JPEG clip
    from the id (``2 + id%4`` gray frames of ``8·(1 + id%3)`` × 8 where
    every 8×8 block of frame ``k`` holds ``(id·19 + bx·29 + 7k) mod
    256``), encode each frame to real JFIF bytes (functions/jpeg.py),
    wrap them in a real AVI container (functions/video.py), then run the
    extraction path a 100 TB pipeline would run: parse the container,
    keep every ``every_n``-th frame payload, and only THEN pay for pixel
    decode of the kept frames — emitting per-frame dims + pixel checksum.

    Flat 8×8 blocks make the JPEG leg exactly lossless, so every output
    is pure id arithmetic and the x_avi_frames declared query's DuckDB
    twin verifies container framing + frame ordering + the JPEG stack
    together: one mangled byte anywhere diverges the checksum.

    Scale: mapInPandas flat-map, row-local, zero shuffle; sampling
    before pixel decode is the order that matters at scale.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            pixel_checksum,
            try_decode_image,
        )
        from blockchaintoavro_spark.functions.jpeg import encode_jpeg
        from blockchaintoavro_spark.functions.video import (
            decode_avi,
            encode_avi,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_no": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w, h = 8 * (1 + doc_id % 3), 8
                n_frames = 2 + doc_id % 4
                jpegs = [
                    encode_jpeg(
                        w, h,
                        bytes(
                            (doc_id * 19 + (x // 8) * 29 + 7 * k) % 256
                            for y in range(h)
                            for x in range(w)
                        ),
                        1, quant=1,
                    )
                    for k in range(n_frames)
                ]
                d = decode_avi(encode_avi(w, h, jpegs))
                if d["frames"] != jpegs:
                    raise ValueError(f"avi roundtrip failed for id {doc_id}")
                for k in range(0, n_frames, every_n):
                    info = try_decode_image(d["frames"][k])
                    if info is None:
                        raise ValueError(f"mjpeg frame decode failed id {doc_id}")
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


def raw_video_frame_features(
    df: DataFrame, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Uncompressed-AVI twin of :func:`video_frame_features` (the non-
    MJPG leg of X5 video): per row, synthesize a deterministic RAW
    BI_RGB clip from the id (``2 + id%3`` frames of ``(5 + id%7)`` ×
    ``(4 + id%5)``, pixel ``(x, y)`` channel ``c`` of frame ``k`` =
    ``(id·13 + 5x + 3y + 7c + 11k) mod 256`` in RGB), pack each frame
    into the DIB wire layout (bottom-up BGR rows padded to 4 bytes),
    wrap in a real ``DIB `` AVI container, then run the scale-order
    extraction: parse container, keep every ``every_n``-th payload, and
    only then convert kept frames to pixels (functions/video.py:
    dib_to_pixels) — emitting per-frame dims + RGB checksum.

    Raw frames are lossless by construction, so every output is pure id
    arithmetic and the x_avi_raw_frames oracle verifies container
    framing + strf codec metadata + the DIB row/padding/BGR math with
    no video code. The non-multiple-of-4 widths exercise row padding.

    Scale: mapInPandas flat-map, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import pixel_checksum
        from blockchaintoavro_spark.functions.video import (
            decode_avi,
            dib_to_pixels,
            encode_avi,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_no": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w, h = 5 + doc_id % 7, 4 + doc_id % 5
                n_frames = 2 + doc_id % 3
                stride = (w * 3 + 3) & ~3
                dibs = []
                for k in range(n_frames):
                    rows = bytearray()
                    for y in range(h - 1, -1, -1):  # bottom-up
                        row = bytearray()
                        for x in range(w):
                            rgb = [
                                (doc_id * 13 + 5 * x + 3 * y + 7 * c + 11 * k) % 256
                                for c in range(3)
                            ]
                            row += bytes([rgb[2], rgb[1], rgb[0]])  # BGR
                        row += b"\x00" * (stride - w * 3)
                        rows += row
                    dibs.append(bytes(rows))
                d = decode_avi(encode_avi(w, h, dibs, fourcc=b"DIB "))
                if d["frames"] != dibs or d["compression"] != "raw":
                    raise ValueError(f"raw avi roundtrip failed for id {doc_id}")
                for k in range(0, n_frames, every_n):
                    info = dib_to_pixels(d["frames"][k], w, h, d["bit_count"])
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


def mp4_keyframe_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """MP4/ISO-BMFF twin of :func:`video_frame_features` (VERDICT r14
    #4 — the dominant real-world crawl container): per row, synthesize
    a Motion-JPEG clip from the id (``3 + id%4`` flat-block gray frames
    of ``8·(1+id%3)`` × 8 — exact-lossless JPEG, the x_jpeg_decode
    trick), mux it into a REAL ISO-BMFF file (functions/mp4.py: ftyp +
    mdat + moov, samples packed two per chunk so the stsc/stco/stsz
    walk is genuinely exercised, every ``k % 3 == 0`` sample marked
    sync in ``stss``), then parse the container back, take the
    KEYFRAME indices from the sample table, and pixel-decode ONLY
    those — the sample-first ordering the video family enforces. The
    worker asserts the raw sample payloads round-trip byte-identical
    and the stss indices match the encode mask, so the emitted rows
    stand on a verified container walk. Every output value is id
    arithmetic → the x_mp4_frames DuckDB oracle verifies box framing,
    chunk-run expansion, sync-sample selection and the JPEG stack with
    no video code. Row-local mapInPandas flat-map, zero shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            pixel_checksum,
            try_decode_image,
        )
        from blockchaintoavro_spark.functions.jpeg import encode_jpeg
        from blockchaintoavro_spark.functions.mp4 import (
            decode_mp4,
            encode_mp4,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_no": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w, h = 8 * (1 + doc_id % 3), 8
                n_frames = 3 + doc_id % 4
                jpegs = [
                    encode_jpeg(
                        w, h,
                        bytes(
                            (doc_id * 23 + (x // 8) * 31 + k * 11) % 256
                            for y in range(h)
                            for x in range(w)
                        ),
                        1, quant=1,
                    )
                    for k in range(n_frames)
                ]
                mask = [k % 3 == 0 for k in range(n_frames)]
                d = decode_mp4(encode_mp4(w, h, jpegs, keyframes=mask))
                if d["frames"] != jpegs:
                    raise ValueError(f"mp4 sample roundtrip failed id {doc_id}")
                if d["keyframes"] != [k for k in range(n_frames) if mask[k]]:
                    raise ValueError(f"mp4 stss roundtrip failed id {doc_id}")
                for k in d["keyframes"]:  # sample first, decode only these
                    info = try_decode_image(d["frames"][k])
                    if info is None:
                        raise ValueError(f"mp4 mjpeg decode failed id {doc_id}")
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


G711_SCHEMA = "doc_id long, law string, n_frames long, checksum long, energy long"


def g711_roundtrip_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """End-to-end exercise of the G.711 µ-law/A-law WAV paths (the
    telephony codings of speech corpora): per row, synthesize a
    deterministic code-byte stream from the id (``64 + id%64`` codes,
    ``code[i] = (id·7 + 13i) mod 256``; µ-law for even ids, A-law for
    odd), wrap it in a real RIFF/WAVE container with the matching format
    tag, decode through magic dispatch (functions/audio.py expands via
    the ITU-T formulas), and emit the decoded sample checksum + energy.

    The expansion formulas are pure integer arithmetic on the code byte,
    so the x_g711_decode oracle recomputes them in SQL — a wrong table
    entry, sign convention or container tag diverges the hash (the
    audioop cross-test pins the tables; this pins the full container +
    dispatch path under the driver-compare regime).

    Scale: mapInPandas, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _s

        from blockchaintoavro_spark.functions.audio import (
            sample_checksum,
            sample_energy,
            try_decode_audio,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "law": [], "n_frames": [],
                "checksum": [], "energy": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                tag = 7 if doc_id % 2 == 0 else 6  # µ-law / A-law
                n = 64 + doc_id % 64
                codes = bytes((doc_id * 7 + 13 * i) % 256 for i in range(n))
                fmt = _s.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
                wav = (
                    b"RIFF"
                    + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(codes))
                    + b"WAVE"
                    + b"fmt " + _s.pack("<I", len(fmt)) + fmt
                    + b"data" + _s.pack("<I", len(codes)) + codes
                )
                info = try_decode_audio(wav)
                if info is None or info["n_frames"] != n:
                    raise ValueError(f"g711 roundtrip failed for id {doc_id}")
                out["doc_id"].append(doc_id)
                out["law"].append("ulaw" if tag == 7 else "alaw")
                out["n_frames"].append(n)
                out["checksum"].append(sample_checksum(info["samples"]))
                out["energy"].append(sample_energy(info["samples"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=G711_SCHEMA)


FLAC_SCHEMA = "doc_id long, ch long, nf long, checksum long, energy long"


def flac_roundtrip_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """End-to-end exercise of the REAL FLAC codec on the cluster
    (VERDICT r15 #3 — the container of speech corpora): per row,
    synthesize deterministic int16 samples from the id alone
    (``48 + id%48`` frames of ``1 + id%2`` channels; interleaved sample
    ``i`` holds ``((id·31 + i·17) mod 4096) − 2048``), encode them to a
    real FLAC stream (functions/flac.py — 32-sample blocks so multiple
    frames and a short tail frame are exercised; stereo ids alternate
    mid/side and left/side decorrelation, ids ≡ 0 mod 3 take the LPC
    path), decode back through the magic-dispatch path
    (``try_decode_audio`` on the ``fLaC`` magic, the same entry AFP
    uses), and emit the decoded checksum + energy.

    FLAC is lossless and every stereo transform is exactly invertible,
    so every output value is pure id arithmetic and a SQL oracle
    verifies the WHOLE codec — framing, CRCs, Rice coding, predictors,
    decorrelation, MD5 — with no audio code (the x_flac_decode declared
    query): one mangled bit anywhere diverges the hash.

    Scale: mapInPandas, row-local, zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.audio import (
            sample_checksum,
            sample_energy,
            try_decode_audio,
        )
        from blockchaintoavro_spark.functions.flac import encode_flac

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "ch": [], "nf": [],
                "checksum": [], "energy": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                ch = 1 + doc_id % 2
                nf = 48 + doc_id % 48
                total = nf * ch
                samples = [
                    ((doc_id * 31 + i * 17) % 4096) - 2048
                    for i in range(total)
                ]
                mode = "independent"
                if ch == 2:
                    mode = "mid_side" if doc_id % 4 == 1 else "left_side"
                blob = encode_flac(
                    16000, ch, samples, block_size=32,
                    stereo_mode=mode,
                    lpc_order=8 if doc_id % 3 == 0 else 0,
                )
                info = try_decode_audio(blob)
                if (
                    info is None
                    or info["format"] != "flac"
                    or info["n_frames"] != nf
                    or info["samples"] != samples
                ):
                    raise ValueError(f"flac roundtrip failed for id {doc_id}")
                out["doc_id"].append(doc_id)
                out["ch"].append(ch)
                out["nf"].append(nf)
                out["checksum"].append(sample_checksum(info["samples"]))
                out["energy"].append(sample_energy(info["samples"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=FLAC_SCHEMA)


def fmp4_keyframe_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fragmented-MP4 twin of :func:`mp4_keyframe_roundtrip_features`
    (r16 — the DASH/CMAF shape): the same id-derived Motion-JPEG clip
    is muxed into an fMP4 (functions/mp4.py:encode_mp4_fragmented —
    init moov with EMPTY sample tables + one moof/mdat pair per two
    samples, sync-ness riding trun per-sample flags instead of stss),
    parsed back through the fragment walk, and ONLY the declared sync
    samples pixel-decoded. The worker asserts the payloads round-trip
    byte-identical, the decode really took the fragmented path, and
    the trun-flag keyframes equal the encode mask — so the emitted
    rows stand on a verified moof/traf/trun walk. Outputs are the SAME
    id arithmetic as the flat-MP4 query, so one DuckDB oracle pins
    both container shapes against each other AND against SQL.
    Row-local mapInPandas flat-map, zero shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from blockchaintoavro_spark.functions.imaging import (
            pixel_checksum,
            try_decode_image,
        )
        from blockchaintoavro_spark.functions.jpeg import encode_jpeg
        from blockchaintoavro_spark.functions.mp4 import (
            decode_mp4,
            encode_mp4_fragmented,
        )

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_no": [], "width": [],
                "height": [], "checksum": [],
            }
            for raw_id in pdf[id_col]:
                doc_id = int(raw_id)
                w, h = 8 * (1 + doc_id % 3), 8
                n_frames = 3 + doc_id % 4
                jpegs = [
                    encode_jpeg(
                        w, h,
                        bytes(
                            (doc_id * 23 + (x // 8) * 31 + k * 11) % 256
                            for y in range(h)
                            for x in range(w)
                        ),
                        1, quant=1,
                    )
                    for k in range(n_frames)
                ]
                mask = [k % 3 == 0 for k in range(n_frames)]
                d = decode_mp4(
                    encode_mp4_fragmented(w, h, jpegs, keyframes=mask)
                )
                if not d.get("fragmented"):
                    raise ValueError(f"fmp4 path not taken for id {doc_id}")
                if d["frames"] != jpegs:
                    raise ValueError(f"fmp4 sample roundtrip failed id {doc_id}")
                if d["keyframes"] != [k for k in range(n_frames) if mask[k]]:
                    raise ValueError(f"fmp4 sync-flag roundtrip failed id {doc_id}")
                for k in d["keyframes"]:  # sample first, decode only these
                    info = try_decode_image(d["frames"][k])
                    if info is None:
                        raise ValueError(f"fmp4 mjpeg decode failed id {doc_id}")
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["checksum"].append(pixel_checksum(info["pixels"]))
            yield pd.DataFrame(out)

    return _spread_ids(df, id_col).mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)
