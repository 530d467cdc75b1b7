"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, decoded/feature-extracted via Arrow-batched
``mapInPandas`` kernels.

The Spark-side plumbing here is REAL and tested — schema, hash
partitioning, Arrow batch shapes, vectorized numpy feature kernels.
The codec itself is NOT: this container ships no image/audio
libraries, so ``decode_features`` uses a deterministic fake decoder
(payload bytes → numpy buffer statistics).  A deployment with
PIL/torchaudio installed swaps ``_fake_decode_batch`` for a real one.

Scale notes: payloads never leave the executor — ``mapInPandas``
streams Arrow batches (bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``), features are a few
floats per row, and the repartition key is the high-cardinality
media_id, so no skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, "
    "mean double, std double, feat array<float>"
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents table: the
    payload is the md5-unhexed text digest repeated — opaque bytes with
    a stable value per doc.  Stands in for a parquet/Iceberg column of
    real encoded media."""
    payload = F.unhex(
        F.concat(F.md5(F.col("text")), F.md5(F.concat(F.lit("2:"), F.col("text"))))
    )
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.length(F.col("text")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode_batch(payloads: pd.Series) -> np.ndarray:
    """Deterministic stand-in decoder: payload bytes as uint8 buffers,
    padded/truncated to 32 'samples' — vectorizable and stable."""
    out = np.zeros((len(payloads), 32), dtype=np.float32)
    for i, b in enumerate(payloads):
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.float32)
        n = min(len(arr), 32)
        out[i, :n] = arr[:n]
    return out


def decode_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over the media table.  Returns
    (media_id, kind, n_bytes, mean, std, feat[8]) — the plumbing a real
    decode pipeline would use, with the decoder faked (see module
    docstring)."""
    if partitions:
        media = media.repartition(partitions, "media_id")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = _fake_decode_batch(pdf["payload"])
            # Stats in float64: every intermediate (integer samples,
            # dyadic mean, squared deviations, their sums) is exactly
            # representable, so the values are reproducible bit-for-bit
            # by any exact evaluator — that is what gives the driver
            # query a hash-exact DuckDB twin (queries_text.py).
            d64 = decoded.astype(np.float64)
            mean = d64.mean(axis=1)
            std = np.sqrt(((d64 - mean[:, None]) ** 2).mean(axis=1))
            # 8-bin 'feature': segment means over the 32 samples.
            feat = decoded.reshape(len(pdf), 8, 4).mean(axis=2)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "mean": mean,
                    "std": std,
                    "feat": list(feat),
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)
