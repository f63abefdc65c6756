"""Multimodal column plumbing (image/audio/video as opaque binary).

At 100 TB, media sits in parquet as ``binary`` payload columns plus a
typed metadata struct; decode/resize/frame-sample run as Arrow-batched
map stages so bytes never round-trip row-at-a-time — ``mapInArrow``
where the kernel consumes raw bytes/numpy directly (frame_sample,
audio_energy_windows; measured 1.2-1.3x over mapInPandas,
ARROW_PROBE_r6.json), ``mapInPandas`` where pandas construction is not
the bottleneck (decode, resize; arrow measured ≤1.0x there).  The
actual codec work needs libs not present in this container, so the
codec call itself is STUBBED: ``decode_media`` tries the real library
imports and otherwise produces a deterministic fake decode — the
Spark-side contract (schemas, batch shapes, partitioning, UDF
signatures) is real and tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

#: Output schema of the decode stage (stable driver-visible contract).
DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum", LongType()),
        StructField("thumbnail", BinaryType()),
    ]
)

MEDIA_TYPES = ("image", "audio", "video")


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Derive an opaque media table from ``documents``: payload =
    utf-8 bytes of the text (a deterministic fake blob), media_type
    cycles by doc_id, metadata derived arithmetically.  Stands in for
    a real scan of a media-bearing parquet table."""
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            (F.col("n_chars") % 64 + 1).alias("width"),
            (F.col("n_chars") % 48 + 1).alias("height"),
            F.col("n_chars").alias("n_bytes"),
        ).alias("meta"),
    )


def _try_real_decoder():
    """Real codec libraries are not in this container; the import-try
    keeps the hook honest (drop-in once PIL/av exist)."""
    try:  # pragma: no cover - libs absent by design
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_media(media: DataFrame, *, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched decode stage over (doc_id, media_type, content).

    STUB: with no codec libs in the container, "decoding" is a
    deterministic fake — byte length, metadata-free width/height
    derived from the payload, a rolling checksum, and an 8-byte
    "thumbnail" slice.  The mapInPandas plumbing (schema, batched
    iterator, vectorized per-batch work) is the real deliverable.
    """
    has_real = _try_real_decoder()

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            if has_real:  # pragma: no cover - libs absent by design
                raise NotImplementedError(
                    "real codec path not wired: container has no PIL/av"
                )
            content = pdf["content"]
            n_bytes = content.map(len)
            checksum = content.map(
                lambda b: sum(b[:: max(1, len(b) // 32)]) % (1 << 31)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": (n_bytes % 64 + 1).astype("int64"),
                    "height": (n_bytes % 48 + 1).astype("int64"),
                    "checksum": checksum.astype("int64"),
                    "thumbnail": content.map(lambda b: bytes(b[:8])),
                }
            )

    # decode is CPU-bound per row: spread an under-split scan (one
    # small file locally, giant row groups at scale) across the
    # cluster before fanning out Python workers — mapInPandas gets one
    # worker per input partition, so a 1-partition input would
    # serialize the whole decode through a single process.
    from . import spread

    return spread(media.select("doc_id", "media_type", "content")).mapInPandas(
        decode_batches, DECODED_SCHEMA
    )


def frame_sample(media: DataFrame, *, every_n_bytes: int = 64) -> DataFrame:
    """'Video' frame sampling stand-in: slice the payload every N bytes
    into frame records via a generator ``mapInArrow`` (one input row
    can emit many frame rows — the real fan-out shape of frame
    extraction).

    Arrow, not pandas: the kernel treats cells as raw ``bytes``
    immediately, so the pandas Series layer was pure conversion
    overhead — Spark 4's ``mapInArrow`` hands the worker Arrow
    RecordBatches directly.  Measured 1.26x over the mapInPandas
    version on a 20x-amplified sf0.1 media table
    (tools/arrow_probe.py, ARROW_PROBE_r6.json); byte-identical
    output."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_no", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    def sample(batches):
        import pyarrow as pa

        for rb in batches:
            ids, frame_nos, frames = [], [], []
            for doc_id, content in zip(
                rb.column(0).to_pylist(), rb.column(1).to_pylist()
            ):
                for j, off in enumerate(range(0, len(content), every_n_bytes)):
                    ids.append(doc_id)
                    frame_nos.append(j)
                    frames.append(content[off : off + every_n_bytes])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(frame_nos, pa.int64()),
                    pa.array(frames, pa.binary()),
                ],
                names=["doc_id", "frame_no", "frame"],
            )

    return media.filter(F.col("media_type") == "video").select(
        "doc_id", "content"
    ).mapInArrow(sample, schema)


def resize_media(media: DataFrame, *, target_len: int = 16) -> DataFrame:
    """'Image' resize stand-in: nearest-neighbor resample of the
    payload to a fixed ``target_len`` bytes — position j gathers byte
    ``(j·L) // target_len`` (the canonical 1-D nearest-neighbor rule;
    a real image path would decode W×H and bilinear-sample, occupying
    exactly this Arrow ``mapInPandas`` slot).  Exact integer
    positions, so the stub is SQL-replicable on the ASCII fixture
    (q18/q122 honest-stub pattern).  Stays mapInPandas deliberately:
    the round-6 ``mapInArrow`` probe measured 0.93x (slower) for this
    operator — its output is mostly small scalar columns where the
    pandas construction is not the bottleneck (tools/arrow_probe.py,
    ARROW_PROBE_r6.json).

    Returns (doc_id, n_bytes, out_len, resized, resample_checksum);
    ``resized`` is the resampled payload decoded as ASCII."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("out_len", LongType()),
            StructField("resized", StringType()),
            StructField("resample_checksum", LongType()),
        ]
    )

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, nbytes, outs, sums = [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                n = len(content)
                if n == 0:
                    continue
                out = bytes(
                    content[(j * n) // target_len] for j in range(target_len)
                )
                ids.append(doc_id)
                nbytes.append(n)
                outs.append(out.decode("ascii", errors="replace"))
                sums.append(sum(out))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": pd.Series(nbytes, dtype="int64"),
                    "out_len": pd.Series(
                        [target_len] * len(ids), dtype="int64"
                    ),
                    "resized": outs,
                    "resample_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    from . import spread

    return spread(
        media.filter(
            (F.col("media_type") == "image") & (F.length("content") > 0)
        ).select("doc_id", "content")
    ).mapInPandas(resize, schema)


def audio_energy_windows(media: DataFrame, *, window_bytes: int = 32) -> DataFrame:
    """'Audio' feature extraction stand-in: windowed signal energy over
    the payload, the shape of any frame-level audio featurizer (RMS /
    mel filterbank): one input row fans out to one row per fixed-size
    sample window, computed vectorized inside an Arrow-batched
    ``mapInArrow`` stage (numpy square-sum per window — a real
    featurizer would drop in at exactly this point; Arrow rather than
    pandas because the payload goes straight to ``np.frombuffer``, so
    the Series layer was pure overhead — measured 1.23x in
    tools/arrow_probe.py / ARROW_PROBE_r6.json, byte-identical
    output).

    Exactness: samples are the raw payload bytes (0–255); per window
    the operator emits the integer sum of squares ``ssq`` and
    ``energy_milli = (1000·ssq) DIV n_samples`` — all-integer, so the
    deterministic-fake decode is replicable bit-for-bit in SQL.
    """
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("window_no", LongType()),
            StructField("n_samples", LongType()),
            StructField("ssq", LongType()),
            StructField("energy_milli", LongType()),
        ]
    )

    def featurize(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            ids, wins, ns, ssqs = [], [], [], []
            for doc_id, content in zip(
                rb.column(0).to_pylist(), rb.column(1).to_pylist()
            ):
                arr = np.frombuffer(content, dtype=np.uint8).astype(np.int64)
                for w, off in enumerate(range(0, len(arr), window_bytes)):
                    seg = arr[off : off + window_bytes]
                    ids.append(doc_id)
                    wins.append(w)
                    ns.append(len(seg))
                    ssqs.append(int((seg * seg).sum()))
            n = np.asarray(ns, dtype=np.int64)
            ssq = np.asarray(ssqs, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(ids, dtype=np.int64)),
                    pa.array(np.asarray(wins, dtype=np.int64)),
                    pa.array(n),
                    pa.array(ssq),
                    pa.array(
                        np.where(n > 0, (1000 * ssq) // np.maximum(n, 1), 0)
                    ),
                ],
                names=["doc_id", "window_no", "n_samples", "ssq", "energy_milli"],
            )

    from . import spread

    return spread(
        media.filter(F.col("media_type") == "audio").select("doc_id", "content")
    ).mapInArrow(featurize, schema)
