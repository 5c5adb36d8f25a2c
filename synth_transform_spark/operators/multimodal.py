"""Multimodal columns: opaque binary payloads + typed metadata.

The reference has no media surface; this is the north-star extension
(BASELINE.json "multimodal columns"). Design for 100 TB:

- media is an opaque ``binary`` column plus a typed ``metadata`` struct —
  never a Python object. Payloads stay columnar (Parquet binary) and flow
  through Arrow batches; metadata predicates (media_type, width ranges)
  are ordinary Catalyst filters that push down to the scan without touching
  payload bytes (Parquet column pruning skips the blob entirely).
- decode / feature-extract / frame-sample are ``mapInPandas`` stages:
  Arrow-batched, per-partition, no shuffle. At cluster scale the payload
  column never crosses the driver.
- the codec boundary is faked, and faked the same way on every host:
  real codec libraries (PIL / soundfile / av) are not dependencies, so
  ``decode_media`` and ``resize_images`` substitute a deterministic decode
  derived from metadata and payload bytes. The Spark-side plumbing
  (schema, batching, partitioning, UDF signatures) is fully exercised,
  and a query's output never depends on which optional packages are
  installed.

The synthetic media table is derived deterministically from the driver's
``documents`` table (payload = UTF-8 bytes of ``text``), so every stage has
a DuckDB-checkable oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_TYPES = ("image", "audio", "video")

#: schema of the canonical media table (what a real ingest would produce)
MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("payload", BinaryType(), True),
        StructField(
            "metadata",
            StructType(
                [
                    StructField("media_type", StringType(), True),
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("sample_rate", IntegerType(), True),
                    StructField("n_frames", IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)


def attach_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build the synthetic media table from `documents` (JVM-side, no UDF).

    payload = UTF-8 bytes of the text; media_type cycles image/audio/video by
    id; width/height/sample_rate/n_frames are deterministic functions of the
    id so fake decodes are reproducible across engines and partitionings.
    """
    i = F.col(id_col)
    media_type = F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]), (i % 3 + 1).cast("int"))
    is_img = media_type == "image"
    is_aud = media_type == "audio"
    return docs.select(
        i.alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            media_type.alias("media_type"),
            F.when(~is_aud, (i % 7 * 64 + 64).cast("int")).alias("width"),
            F.when(~is_aud, (i % 5 * 64 + 64).cast("int")).alias("height"),
            F.when(is_aud, F.lit(16000).cast("int")).alias("sample_rate"),
            F.when(~is_img, (i % 11 * 8 + 8).cast("int")).alias("n_frames"),
        ).alias("metadata"),
    )


def media_manifest(media: DataFrame) -> DataFrame:
    """Typed manifest: metadata + payload size + content hash (all JVM-side).

    The scan only needs (doc_id, payload, metadata); at scale this is the
    dedup/inventory pass — sha2 runs in whole-stage codegen, no Python.
    """
    return media.select(
        "doc_id",
        F.col("metadata.media_type").alias("media_type"),
        F.col("metadata.width").alias("width"),
        F.col("metadata.height").alias("height"),
        F.length("payload").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("content_sha256"),
    )


_HIST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("n", LongType(), False),
    ]
)


def byte_histogram(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Per-doc byte-value histogram (bucket = byte % n_bins) via mapInPandas.

    The vectorized numpy path is the template for any real byte-level
    feature extractor: Arrow hands each partition's payloads to Python in
    batches, numpy does the per-blob work, output is long-form (doc_id,
    bucket, n) ready for relational aggregation. No shuffle is introduced.
    """
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, buckets, counts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8) % n_bins
                hist = np.bincount(arr, minlength=n_bins)
                nz = np.nonzero(hist)[0]
                ids.extend([doc_id] * len(nz))
                buckets.extend(nz.tolist())
                counts.extend(hist[nz].tolist())
            yield pd.DataFrame({"doc_id": ids, "bucket": buckets, "n": counts})

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        extract, _HIST_SCHEMA
    )


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), False),
        StructField("frame_bytes", IntegerType(), False),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 64, stride: int = 4) -> DataFrame:
    """Frame-sample "video" payloads: fixed-size byte chunks, every stride-th.

    Stand-in for keyframe extraction: chunking is real (the output frames are
    actual payload slices); only the codec boundary is faked. One Arrow pass,
    no shuffle; at scale the frames inherit the input partitioning.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, sizes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, stride):
                    chunk = payload[fi * frame_size : (fi + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(chunk)
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames, "frame_bytes": sizes}
            )

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        sample, _FRAME_SCHEMA
    )


_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("shape", ArrayType(IntegerType()), False),
        StructField("mean_intensity", DoubleType(), True),
        StructField("decoder", StringType(), False),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stage. STUB at the codec boundary — see module docstring.

    The fake decoder is deterministic: shape comes from metadata,
    mean_intensity is the payload byte mean — so downstream feature code
    is testable end-to-end.
    """
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "media_type": [], "shape": [], "mean_intensity": [], "decoder": []}
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["metadata"]):
                mt = meta["media_type"]
                if mt == "image":
                    shape = [meta["height"], meta["width"], 3]
                elif mt == "audio":
                    shape = [meta["sample_rate"], 1]
                else:
                    shape = [meta["n_frames"], meta["height"], meta["width"], 3]
                mean = (
                    float(np.frombuffer(payload, dtype=np.uint8).mean())
                    if payload is not None and len(payload)
                    else None
                )
                rows["doc_id"].append(doc_id)
                rows["media_type"].append(mt)
                rows["shape"].append(shape)
                rows["mean_intensity"].append(mean)
                rows["decoder"].append("fake-deterministic")
            yield pd.DataFrame(rows)

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(decode, _DECODE_SCHEMA)


_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("resizer", StringType(), False),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbour image resize: binary in → binary out, metadata
    width/height rewritten.

    The Spark plumbing (Arrow batches, binary columns, output schema) is
    fully real. The codec boundary is faked as in decode_media: the
    payload is read as the fake decoder's grayscale byte grid — pixel
    (r, c) = payload[(r·W_in + c) mod n] — and nearest-neighbour sampled:
    out(r, c) = in(⌊r·H_in/H_out⌋, ⌊c·W_in/W_out⌋). The index math is the
    REAL resize kernel; only JPEG→pixels is faked.

    Input rows need metadata.width / metadata.height (image and video
    frames); emits one row per input with the H_out×W_out byte payload.
    """
    import numpy as np

    w_out, h_out = int(width), int(height)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "payload": [], "width": [], "height": [], "resizer": []}
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["metadata"]):
                w_in, h_in = int(meta["width"]), int(meta["height"])
                buf = np.frombuffer(payload, dtype=np.uint8) if payload is not None else None
                if buf is None or not len(buf):
                    out = None
                else:
                    idx = np.arange(h_in * w_in, dtype=np.int64) % len(buf)
                    grid = buf[idx].reshape(h_in, w_in)
                    rs = (np.arange(h_out, dtype=np.int64) * h_in) // h_out
                    cs = (np.arange(w_out, dtype=np.int64) * w_in) // w_out
                    out = grid[np.ix_(rs, cs)].tobytes()
                rows["doc_id"].append(doc_id)
                rows["payload"].append(out)
                rows["width"].append(w_out)
                rows["height"].append(h_out)
                rows["resizer"].append("fake-nearest")
            yield pd.DataFrame(rows)

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media.select("doc_id", "payload", "metadata")).mapInPandas(
        resize, _RESIZE_SCHEMA
    )


_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("energy", DoubleType(), False),
    ]
)


def audio_frame_energy(media: DataFrame, frame_size: int = 64) -> DataFrame:
    """Per-frame signal energy over audio payloads: (doc_id, frame_idx,
    energy) with energy = mean((sample − 128)²) per full frame.

    The fake-codec contract (module docstring) applies: payload bytes ARE
    the uint8 sample stream, so the DSP math — framing, DC-centering,
    power mean — is the real kernel; only container demux is faked.
    Energies are EXACT doubles (integer squares summed < 2^53, divided by
    a power of two), so downstream argmax/tie logic is engine-portable
    with no rounding epsilon. Trailing partial frames are dropped
    (deterministic, standard STFT behaviour).
    """
    import numpy as np

    fs = int(frame_size)

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, es = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = np.frombuffer(payload, dtype=np.uint8)
                n_frames = len(buf) // fs
                if not n_frames:
                    continue
                frames = buf[: n_frames * fs].astype(np.float64).reshape(n_frames, fs)
                e = ((frames - 128.0) ** 2).mean(axis=1)
                ids.extend([doc_id] * n_frames)
                idxs.extend(range(n_frames))
                es.extend(e.tolist())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "energy": es})

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        energies, _AUDIO_SCHEMA
    )


_INTENSITY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("flen", LongType(), False),
    ]
)


def frame_intensities(media: DataFrame, frame_size: int = 64) -> DataFrame:
    """Per-frame byte-intensity series: (doc_id, frame_idx, sum_b, flen).

    The shot-boundary primitive: consumers derive an exact integer
    milli-mean (``sum_b * 1000 div flen`` — dyadic for full frames, still
    pure-integer for the short tail frame) and diff consecutive frames.
    One Arrow pass over the payloads, no shuffle; numpy does the byte
    summing vectorised per frame.
    """
    import numpy as np

    def intensities(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums, lens = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = np.frombuffer(payload, dtype=np.uint8)
                n_frames = (len(buf) + frame_size - 1) // frame_size
                for fi in range(n_frames):
                    chunk = buf[fi * frame_size : (fi + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(fi)
                    sums.append(int(chunk.sum()))
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "sum_b": sums, "flen": lens}
            )

    from ..sources.readers import ensure_parallelism

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        intensities, _INTENSITY_SCHEMA
    )
