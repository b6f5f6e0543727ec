"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode/feature-extract as Arrow-batched pipelines.

Design for 100 TB of media:
- media rows carry (uri, media_type, content binary, meta struct) —
  content may be inlined (small thumbnails) or left NULL with only a
  uri (object-store offload); both shapes flow through the same ops.
- decode / resize / frame-sample run via ``mapInPandas``: one Python
  worker per partition, Arrow batches in, Arrow batches out — the
  only sane shape for CPU-bound media work in Spark. Batch size is
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a
  partition of 4K images never materializes at once.
- partitioning: media tables should be bucketed/partitioned by a
  content-hash prefix, so dedup (identical bytes) is a partition-local
  groupBy.

Codec dispatch (round 4): ``_decode_one`` routes on the content's
magic number — PIL when importable AND it parses the bytes, else the
pure-stdlib PNG decoder (``metastore_spark.codecs`` — real inflate +
full 5-filter unfilter, not a stub), else the deterministic synthetic
header for the FAKEIMG1 format. Genuinely unknown bytes raise. The
Spark plumbing — schemas, Arrow batching, partitioning, UDF
signatures — is identical for every branch.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = b"FAKEIMG1"


def synth_image_bytes(media_id: int, width: int, height: int) -> bytes:
    """Deterministic synthetic 'image': magic + dims + seeded payload.
    Stands in for real encoded bytes in tests and local runs."""
    return (
        _MAGIC
        + struct.pack("<II", width, height)
        + synth_pixels(media_id, width * height)
    )


def synth_pixels(media_id: int, n: int) -> bytes:
    """Deterministic pixel payload: the sha256 digest of the id,
    repeated — the same byte stream synth_image_bytes embeds, so a
    PNG encoding of these pixels and a FAKEIMG1 wrapping of them
    decode to identical feature values (the dual-format oracle)."""
    seed = hashlib.sha256(str(media_id).encode()).digest()
    return (seed * (n // len(seed) + 1))[:n]


def synth_png_bytes(media_id: int, width: int, height: int) -> bytes:
    """Deterministic REAL PNG (8-bit greyscale): same pixel payload as
    the synthetic format, encoded through the spec-compliant encoder
    (cycling all five scanline filters — see metastore_spark.codecs)."""
    from metastore_spark.codecs import png_encode

    return png_encode(width, height, synth_pixels(media_id, width * height), 1)


def synth_block_pixels(media_id: int, width: int, height: int) -> bytes:
    """Deterministic BLOCK-FLAT pixel payload: every 8×8 tile holds one
    byte of the id's sha256 digest (cycled row-major over tiles).
    Flat tiles are the one image class a lossy DCT codec reproduces
    BIT-EXACTLY under a unit quantization table (a flat tile has a
    lone integral DC coefficient and zero AC energy), which is what
    lets real JPEG bytes keep a pure-SQL value-hash oracle."""
    seed = hashlib.sha256(str(media_id).encode()).digest()
    bx = width // 8
    row_vals = [
        bytes(
            seed[((r // 8) * bx + (c // 8)) % len(seed)]
            for c in range(width)
        )
        for r in range(height)
    ]
    return b"".join(row_vals)


def synth_jpeg_bytes(media_id: int, width: int, height: int) -> bytes:
    """Deterministic REAL JPEG (baseline, 8-bit greyscale, unit quant
    table) over the block-flat payload. width/height must be multiples
    of 8 so every DCT block is flat and the decode is exact — the
    corpus generator guarantees this for jpeg-format rows."""
    from metastore_spark.codecs import jpeg_encode

    if width % 8 or height % 8:
        raise ValueError("synth_jpeg_bytes needs 8-multiple dimensions")
    return jpeg_encode(
        width, height, synth_block_pixels(media_id, width, height), 1,
        quant=[1] * 64,
    )


IMAGE_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, n_bytes bigint, "
    "mean_intensity double, content_sha256 string"
)


def _decode_one(content: bytes) -> tuple[int, int, float]:
    """Magic-dispatched decode: PIL when available and it parses the
    bytes, else the pure-stdlib PNG decoder (real codec — see
    metastore_spark.codecs), else the synthetic FAKEIMG1 header.
    Raises on genuinely unknown formats — never a silent wrong answer."""
    try:  # richest decoder first, if the environment has it
        import io

        from PIL import Image  # noqa: F401

        img = Image.open(io.BytesIO(content))
        import numpy as np

        arr = np.asarray(img, dtype="float64")
        return img.width, img.height, float(arr.mean())
    except Exception:
        # no PIL (ImportError) or bytes PIL can't parse (synthetic
        # format → UnidentifiedImageError): fall through to the
        # format-dispatched decoders
        pass
    from metastore_spark.codecs import (
        JPEG_MAGIC,
        PNG_MAGIC,
        jpeg_decode,
        png_decode,
    )

    if content[: len(PNG_MAGIC)] == PNG_MAGIC:
        width, height, _channels, pixels = png_decode(content)
        # mean over every sample, matching np.asarray(img).mean()
        mean = sum(pixels) / len(pixels) if pixels else 0.0
        return width, height, mean
    if content[: len(JPEG_MAGIC)] == JPEG_MAGIC:
        width, height, _channels, pixels = jpeg_decode(content)
        mean = sum(pixels) / len(pixels) if pixels else 0.0
        return width, height, mean
    if content[: len(_MAGIC)] == _MAGIC:
        width, height = struct.unpack_from("<II", content, len(_MAGIC))
        payload = content[len(_MAGIC) + 8 :]
        mean = sum(payload) / len(payload) if payload else 0.0
        return width, height, mean
    raise NotImplementedError(
        "no image decoder available in this environment and content is "
        "not a PNG, JPEG, or synthetic image"
    )


def _fan_params(df: DataFrame, key: str) -> DataFrame:
    """Fan a PARAMETER frame across the cluster's cores before a
    CPU-bound Arrow codec stage: synthesis/decode parallelism must not
    inherit the scan granularity (a small parquet file scans as ONE
    partition, serializing all codec work onto one core). The exchange
    carries a few scalar columns — parameters, not media bytes — so the
    shuffle is ~free at any scale while the codec stage saturates the
    executors. The partition count is EXPLICIT (defaultParallelism =
    total executor cores): a column-only repartition would be a tiny
    shuffle that AQE immediately coalesces back to one partition,
    because byte-size heuristics cannot see per-row codec CPU cost."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, F.col(key))


def synthesize_media(df: DataFrame, fmt_col: str | None = None) -> DataFrame:
    """Table-driven synthetic media: (media_id, w, h[, fmt]) rows →
    binary content, Arrow-batched worker-side (never
    driver-materialized — the synth step scales with the table,
    exactly like a real 'fetch bytes from object store' stage would).

    ``fmt_col`` selects the encoding per row: 'png' → a real PNG via
    the stdlib codec, 'jpeg' → a real baseline JPEG (unit quant table
    over the block-flat payload — exact round-trip, 8-multiple dims
    required), anything else → the FAKEIMG1 synthetic format. png and
    synth wrap the SAME per-pixel payload; jpeg wraps the per-8×8-tile
    payload — each format's features stay pure-SQL-predictable.
    """

    def _one(m: int, w: int, h: int, f: str) -> bytes:
        if f == "png":
            return synth_png_bytes(m, w, h)
        if f == "jpeg":
            return synth_jpeg_bytes(m, w, h)
        return synth_image_bytes(m, w, h)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fmt_col is not None:
                content = [
                    _one(int(m), int(w), int(h), f)
                    for m, w, h, f in zip(
                        pdf["media_id"], pdf["w"], pdf["h"], pdf[fmt_col]
                    )
                ]
            else:
                content = [
                    synth_image_bytes(int(m), int(w), int(h))
                    for m, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"])
                ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": content}
            )

    cols = ["media_id", "w", "h"] + ([fmt_col] if fmt_col else [])
    return _fan_params(df.select(*cols), "media_id").mapInPandas(
        run, "media_id bigint, content binary"
    )


def decode_image_features(df: DataFrame) -> DataFrame:
    """Image → feature row, Arrow-batched via mapInPandas.

    Output: dims, byte size, mean intensity (the 'embedding' stand-in),
    content hash (the exact-dedup key for media).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "width": [],
                "height": [],
                "n_bytes": [],
                "mean_intensity": [],
                "content_sha256": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                w, h, mean = _decode_one(bytes(content))
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(content))
                out["mean_intensity"].append(mean)
                out["content_sha256"].append(
                    hashlib.sha256(bytes(content)).hexdigest()
                )
            yield pd.DataFrame(out)

    return df.select("media_id", "content").mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )


def _decode_pixels(content: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, raw pixels) via the same magic
    dispatch as _decode_one — PNG decodes for real, the synthetic
    format's payload IS its 1-channel pixel buffer."""
    from metastore_spark.codecs import (
        JPEG_MAGIC,
        PNG_MAGIC,
        jpeg_decode,
        png_decode,
    )

    if content[: len(PNG_MAGIC)] == PNG_MAGIC:
        return png_decode(content)
    if content[: len(JPEG_MAGIC)] == JPEG_MAGIC:
        return jpeg_decode(content)
    if content[: len(_MAGIC)] == _MAGIC:
        width, height = struct.unpack_from("<II", content, len(_MAGIC))
        return width, height, 1, content[len(_MAGIC) + 8 :]
    raise NotImplementedError("unknown media format for resize")


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize kernel (round 4): decode (PNG via the stdlib codec,
    synthetic via header parse), nearest-neighbor resample in numpy,
    re-encode as PNG — binary in, binary out, Arrow-batched via
    mapInPandas. The map-only plan shape is exactly what a PIL/ffmpeg
    kernel uses at 100 TB; swapping the codec never touches the plan."""
    from metastore_spark.codecs import png_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ys = (np.arange(height) * 1.0).astype("int64")
        xs = (np.arange(width) * 1.0).astype("int64")
        for pdf in batches:
            out = []
            for content in pdf["content"]:
                w0, h0, ch, px = _decode_pixels(bytes(content))
                arr = np.frombuffer(px, dtype="uint8").reshape(h0, w0, ch)
                yi = np.minimum((ys * h0) // height, h0 - 1)
                xi = np.minimum((xs * w0) // width, w0 - 1)
                res = arr[yi][:, xi]  # nearest-neighbor gather
                out.append(png_encode(width, height, res.tobytes(), ch))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": out,
                    "width": width,
                    "height": height,
                }
            )

    return df.select("media_id", "content").mapInPandas(
        run, "media_id bigint, content binary, width int, height int"
    )


AUDIO_WINDOW_SCHEMA = (
    "asset_id bigint, win_idx int, rms double, zero_crossings int"
)


def synth_pcm(asset_id: int, n_samples: int) -> list[int]:
    """Deterministic synthetic PCM in [-128, 127]: the sha256 digest of
    the id, cycled with a per-repeat amplitude ramp so successive
    windows differ (s_i = (b[i%32]*(1+i//32)) % 256 - 128)."""
    b = hashlib.sha256(str(asset_id).encode()).digest()
    return [
        ((b[i % 32] * (1 + i // 32)) % 256) - 128 for i in range(n_samples)
    ]


def synth_wav_bytes(
    asset_id: int, n_samples: int, rate: int = 16000
) -> bytes:
    """Deterministic REAL WAV (RIFF/PCM, 16-bit mono) over the
    synth_pcm payload — the audio analogue of synth_png_bytes: same
    signal values, wrapped in a real container so the decode stage
    exercises a real codec while features stay SQL-predictable."""
    from metastore_spark.codecs import wav_encode

    return wav_encode(synth_pcm(asset_id, n_samples), rate, 1, 2)


def synthesize_audio(df: DataFrame) -> DataFrame:
    """(asset_id, n_samples) rows → real WAV binary content,
    Arrow-batched worker-side (the audio twin of synthesize_media —
    the synth step stands in for 'fetch bytes from object store' and
    scales with the table, never the driver)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        synth_wav_bytes(int(a), int(n))
                        for a, n in zip(pdf["asset_id"], pdf["n_samples"])
                    ],
                }
            )

    return _fan_params(df.select("asset_id", "n_samples"), "asset_id").mapInPandas(
        run, "asset_id bigint, content binary"
    )


def decode_audio_window_features(
    df: DataFrame, window: int = 32, hop: int = 16
) -> DataFrame:
    """WAV binary content → decoded PCM → overlapping-window RMS +
    zero-crossing features. The decode is the real RIFF/PCM codec
    (metastore_spark.codecs.wav_decode — raises on malformed bytes,
    never a silent wrong answer); the windowing math is byte-identical
    to audio_window_features, so a codec round-trip bug anywhere
    flips the value-hash oracle downstream.

    Input: (asset_id, content binary). Map-only, Arrow-batched; output
    cardinality = total decoded length / hop.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from metastore_spark.codecs import wav_decode

        for pdf in batches:
            cols: dict[str, list] = {
                "asset_id": [],
                "win_idx": [],
                "rms": [],
                "zero_crossings": [],
            }
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                _rate, channels, _sw, samples = wav_decode(bytes(content))
                if channels != 1:  # front-end normalizes to mono
                    raise ValueError(
                        f"asset {aid}: expected mono, got {channels}ch"
                    )
                n = len(samples)
                if n < window:
                    continue
                s = np.asarray(samples, dtype="float64")
                nw = (n - window) // hop + 1
                idx = np.arange(nw)[:, None] * hop + np.arange(window)
                segs = s[idx]
                nonneg = segs >= 0
                cols["asset_id"].append(np.full(nw, int(aid), dtype="int64"))
                cols["win_idx"].append(np.arange(nw, dtype="int32"))
                cols["rms"].append(
                    np.round(np.sqrt((segs * segs).mean(axis=1)), 4)
                )
                cols["zero_crossings"].append(
                    (nonneg[:, 1:] != nonneg[:, :-1])
                    .sum(axis=1)
                    .astype("int32")
                )
            if cols["asset_id"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in cols.items()}
                )
            else:
                yield pd.DataFrame(
                    {
                        "asset_id": np.array([], dtype="int64"),
                        "win_idx": np.array([], dtype="int32"),
                        "rms": np.array([], dtype="float64"),
                        "zero_crossings": np.array([], dtype="int32"),
                    }
                )

    return df.select("asset_id", "content").mapInPandas(
        run, AUDIO_WINDOW_SCHEMA
    )


def audio_window_features(
    df: DataFrame, window: int = 32, hop: int = 16
) -> DataFrame:
    """Audio feature extraction over binary-style PCM: frame the signal
    into overlapping windows and emit RMS + zero-crossing counts per
    window — the standard VAD/energy front-end, Arrow-batched via
    mapInPandas exactly like the image decode kernel (swap synth_pcm
    for a real codec read and nothing else changes).

    Input: (asset_id, n_samples). Output rows scale with total signal
    length / hop; the stage is map-only (no shuffle) and partitions
    by the input scan.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for pdf in batches:
            cols: dict[str, list] = {
                "asset_id": [],
                "win_idx": [],
                "rms": [],
                "zero_crossings": [],
            }
            for aid, n in zip(pdf["asset_id"], pdf["n_samples"]):
                n = int(n)
                if n < window:
                    continue
                # vectorized synth_pcm: same formula, C speed (the
                # per-sample Python comprehension was ~50M interpreter
                # ops per sf1 batch set)
                b = np.frombuffer(
                    hashlib.sha256(str(int(aid)).encode()).digest(),
                    dtype=np.uint8,
                ).astype(np.int64)
                i = np.arange(n)
                s = ((b[i % 32] * (1 + i // 32)) % 256 - 128).astype(
                    "float64"
                )
                nw = (n - window) // hop + 1
                idx = np.arange(nw)[:, None] * hop + np.arange(window)
                segs = s[idx]  # (nw, window)
                nonneg = segs >= 0
                # per-row mean over `window` elements: same numpy
                # sequential summation as the scalar (seg*seg).mean()
                # per window, so the rounded values are unchanged
                cols["asset_id"].append(np.full(nw, int(aid), dtype="int64"))
                cols["win_idx"].append(np.arange(nw, dtype="int32"))
                cols["rms"].append(
                    np.round(np.sqrt((segs * segs).mean(axis=1)), 4)
                )
                cols["zero_crossings"].append(
                    (nonneg[:, 1:] != nonneg[:, :-1]).sum(axis=1).astype("int32")
                )
            if cols["asset_id"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in cols.items()}
                )
            else:
                yield pd.DataFrame(
                    {
                        "asset_id": np.array([], dtype="int64"),
                        "win_idx": np.array([], dtype="int32"),
                        "rms": np.array([], dtype="float64"),
                        "zero_crossings": np.array([], dtype="int32"),
                    }
                )

    return _fan_params(df.select("asset_id", "n_samples"), "asset_id").mapInPandas(
        run, AUDIO_WINDOW_SCHEMA
    )


VIDEO_FRAME_SCHEMA = (
    "asset_id bigint, frame_idx int, width int, height int, fps int, "
    "mean_intensity double"
)


def synth_frame_pixels(asset_id: int, frame_idx: int, n: int) -> bytes:
    """Deterministic per-frame luma plane: the asset's sha256 digest
    cycled from offset frame_idx with the same amplitude ramp as
    synth_pcm, so successive frames differ and a SQL oracle can mirror
    every pixel (p_k = (b[(k+f)%32] * (1 + (k+f)//32)) % 256)."""
    b = hashlib.sha256(str(asset_id).encode()).digest()
    return bytes(
        (b[(k + frame_idx) % 32] * (1 + (k + frame_idx) // 32)) % 256
        for k in range(n)
    )


def synth_y4m_bytes(
    asset_id: int, n_frames: int, width: int, height: int, fps: int
) -> bytes:
    """Deterministic REAL Y4M stream (mono 8-bit) over synth_frame
    payloads — the video analogue of synth_png_bytes/synth_wav_bytes."""
    from metastore_spark.codecs import y4m_encode

    return y4m_encode(
        width,
        height,
        [
            synth_frame_pixels(asset_id, f, width * height)
            for f in range(n_frames)
        ],
        fps,
        1,
    )


def synthesize_video(
    df: DataFrame, width: int = 16, height: int = 8
) -> DataFrame:
    """(asset_id, n_frames, fps) rows → real Y4M binary content,
    Arrow-batched worker-side (the video twin of synthesize_media /
    synthesize_audio)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        synth_y4m_bytes(
                            int(a), int(n), width, height, int(r)
                        )
                        for a, n, r in zip(
                            pdf["asset_id"], pdf["n_frames"], pdf["fps"]
                        )
                    ],
                }
            )

    return _fan_params(
        df.select("asset_id", "n_frames", "fps"), "asset_id"
    ).mapInPandas(run, "asset_id bigint, content binary")


def decode_video_frame_features(df: DataFrame) -> DataFrame:
    """Y4M binary content → decoded frames → per-frame mean intensity.

    The decode is the real YUV4MPEG2 parser (codecs.y4m_decode —
    header tokens, FRAME markers, plane sizing, ValueError on
    malformed streams). Map-only, Arrow-batched; output cardinality =
    total frame count. The per-frame mean is numpy's sequential sum
    over uint8→float64, matching a SQL AVG over the mirrored pixel
    formula exactly.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from metastore_spark.codecs import y4m_decode

        for pdf in batches:
            cols: dict[str, list] = {
                "asset_id": [],
                "frame_idx": [],
                "width": [],
                "height": [],
                "fps": [],
                "mean_intensity": [],
            }
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                w, h, fn, fd, frames = y4m_decode(bytes(content))
                if fd != 1:
                    raise ValueError(
                        f"asset {aid}: non-integer rate {fn}:{fd}"
                    )
                for f, plane in enumerate(frames):
                    px = np.frombuffer(plane, dtype=np.uint8)
                    cols["asset_id"].append(int(aid))
                    cols["frame_idx"].append(f)
                    cols["width"].append(w)
                    cols["height"].append(h)
                    cols["fps"].append(fn)
                    # sum(uint8) < 2^53 is integer-exact in float64, so
                    # the mean is one exact division — no rounding (a
                    # 4dp round would reopen the half-even-vs-half-away
                    # seam at exact .xxxx5 boundaries, which power-of-2
                    # plane sizes do hit)
                    cols["mean_intensity"].append(
                        float(int(px.sum())) / float(len(px))
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(cols["asset_id"], dtype="int64"),
                    "frame_idx": pd.array(cols["frame_idx"], dtype="int32"),
                    "width": pd.array(cols["width"], dtype="int32"),
                    "height": pd.array(cols["height"], dtype="int32"),
                    "fps": pd.array(cols["fps"], dtype="int32"),
                    "mean_intensity": pd.array(
                        cols["mean_intensity"], dtype="float64"
                    ),
                }
            )

    return df.select("asset_id", "content").mapInPandas(
        run, VIDEO_FRAME_SCHEMA
    )
