"""Multimodal columns: opaque binary payloads + typed metadata.

Design (BASELINE.json north star): image/audio/video travel as ``binary``
columns with a typed metadata struct; decode / feature-extract /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas`` —
the only part of the engine where Python touches row data, because media
codecs don't exist as Spark expressions.

The media codec libraries (PIL, librosa, av) are NOT in this container, so
the actual decode is STUBBED: ``decode_image`` raises NotImplementedError
unless a deterministic fake is requested. Everything around it — schema,
binary handling, Arrow batch shape, partition-parallel execution — is real
and tested (tests/test_multimodal.py), so dropping in a real codec is a
one-function change.

Scale: mapInPandas streams Arrow batches partition-locally — no shuffle, no
driver involvement; 100 TB of media shards across executors exactly like any
other scan. Batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (keep payload_bytes *
batch_rows under executor memory).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_METADATA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("declared_len", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
    ]
)


def decode_image(payload: bytes, *, fake: bool = False) -> tuple[int, int]:
    """Decode an image payload -> (width, height).

    Real decode needs PIL/libvips (not installed here); ``fake=True`` derives
    deterministic pseudo-dimensions from the byte length so the pipeline
    around the stub is fully exercisable.
    """
    if fake:
        n = len(payload)
        return (n % 640, (n * 7) % 480)
    try:
        from PIL import Image  # noqa: PLC0415
        import io  # noqa: PLC0415

        with Image.open(io.BytesIO(payload)) as im:
            return im.size
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "real image decode requires PIL; pass fake=True for the "
            "deterministic stub"
        ) from exc


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (UTF-8 bytes of the text
    here; in production this is the raw media object)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Each pandas batch computes byte length, content digest, and (stubbed)
    decoded dimensions. Runs partition-local — no shuffle.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes,
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "fake_width": payloads.map(
                        lambda b: decode_image(bytes(b), fake=True)[0]
                    ),
                    "fake_height": payloads.map(
                        lambda b: decode_image(bytes(b), fake=True)[1]
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(_extract, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

_N_FRAMES = 3
_FRAME_LEN = 32


def sample_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video frame sampling, stubbed: N evenly spaced fixed-length slices of
    the decoded payload stand in for decoded frames (a real codec replaces
    the slice with an av/ffmpeg frame grab — same 1-to-many Arrow batch
    shape). Slices are CHARACTER-offset so the digest is well-defined for
    any text encoding (and SQL-oracle-checkable; DuckDB's md5 is
    VARCHAR-only).

    Demonstrates row-expanding mapInPandas: each input row yields
    ``_N_FRAMES`` output rows, partition-locally, no shuffle.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_md5": []}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                text = bytes(payload).decode("utf-8")
                step = len(text) // _N_FRAMES
                for i in range(_N_FRAMES):
                    off = i * step
                    frame = text[off : off + _FRAME_LEN]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(off)
                    out["frame_md5"].append(
                        hashlib.md5(frame.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(_sample, FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_level", T.DoubleType()),
        T.StructField("peak_level", T.LongType()),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", sample_rate: int = 16_000
) -> DataFrame:
    """Audio feature extraction, stubbed: bytes play the role of PCM samples
    (duration = n/rate, mean/peak over the raw byte values; librosa replaces
    the arithmetic, the Arrow plumbing stays)."""

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AUDIO_SCHEMA.fields}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                rows["doc_id"].append(doc_id)
                rows["duration_s"].append(len(b) / sample_rate)
                rows["mean_level"].append(sum(b) / len(b) if b else 0.0)
                rows["peak_level"].append(max(b) if b else 0)
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(_features, AUDIO_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)

_PHASH_BITS = 20


def perceptual_hash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Block-mean perceptual hash over binary payloads (Arrow-batched,
    partition-local). The payload is split into 20 contiguous byte blocks
    (byte at 0-based position p belongs to block p*20//n); bit b is set
    iff block b's mean byte value exceeds the whole-payload mean. A real
    image pHash replaces bytes with decoded luma pixels — the blocking,
    thresholding, and Hamming-bucketing pipeline is identical.

    All arithmetic is integer (means compared by cross-multiplication:
    sum_b * n > total * n_b), so the hash is exactly reproducible in any
    engine — the SQL oracle replays it from hex-decoded bytes.
    """
    import numpy as np  # noqa: PLC0415 - worker-side import

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PHASH_SCHEMA.fields}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                rows["doc_id"].append(doc_id)
                rows["n_bytes"].append(int(b.size))
                rows["phash"].append(_block_mean_phash(b))
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(_phash, PHASH_SCHEMA)


FRAME_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _block_mean_phash(b) -> int:
    """The 20-bit block-mean pHash of one byte buffer (int64 numpy array):
    bit k set iff block k's mean exceeds the whole-buffer mean, compared
    by integer cross-multiplication. Shared by ``perceptual_hash`` (whole
    payloads) and ``frame_phash`` (sampled keyframe slices); an empty
    buffer hashes to 0 — perceptual_hash keeps that row (its n_bytes
    column carries the signal), frame_phash drops empty payloads before
    slicing (oracle parity, see its docstring)."""
    import numpy as np  # noqa: PLC0415 - worker-side import

    n = int(b.size)
    if n == 0:
        return 0
    blk = (np.arange(n) * _PHASH_BITS) // n
    sums = np.zeros(_PHASH_BITS, dtype=np.int64)
    np.add.at(sums, blk, b)
    counts = np.bincount(blk, minlength=_PHASH_BITS).astype(np.int64)
    total = int(b.sum())
    bits = (sums * n) > (total * counts)
    return int((bits.astype(np.int64) << np.arange(_PHASH_BITS)).sum())


def frame_phash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-FRAME block-mean perceptual hash: the ``sample_frames`` slicing
    (``_N_FRAMES`` evenly spaced ``_FRAME_LEN``-byte slices per payload)
    followed by the ``perceptual_hash`` 20-block integer arithmetic on
    each slice — the video near-dup primitive (frame-sampled pHash is how
    production video dedup works; a real pipeline decodes keyframes with
    a codec, then this exact hashing/banding applies unchanged).

    Byte-domain offsets (``i * (n_bytes // _N_FRAMES)``) so the SQL
    oracle replays frames as hex substrings. Row-expanding mapInPandas:
    each non-empty payload yields ``_N_FRAMES`` rows, partition-local,
    no shuffle. ZERO-BYTE payloads yield NO frame rows (matching the
    oracle's frame-length filter — all-empty frames carry no signal and
    would otherwise all pair up at hamming 0).
    """
    import numpy as np  # noqa: PLC0415 - worker-side import

    def _fphash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in FRAME_PHASH_SCHEMA.fields}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                if buf.size == 0:
                    continue
                step = int(buf.size) // _N_FRAMES
                for i in range(_N_FRAMES):
                    b = buf[i * step : i * step + _FRAME_LEN]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["phash"].append(_block_mean_phash(b))
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(
        _fphash, FRAME_PHASH_SCHEMA
    )
