"""Multimodal columns: opaque BINARY payloads + typed metadata.

Image/audio/video payloads travel as ``binary`` columns with a typed
metadata struct; decode / feature-extraction / resize run as
Arrow-batched pandas UDFs over ``mapInPandas``. The decode
libraries (PIL / torchaudio / av) are NOT in this container, so the
actual byte->pixels step is STUBBED: ``decode_fake`` is a
deterministic byte-level stand-in. Everything Spark-side — schema,
partitioning, UDF signatures, Arrow batch shapes — is real and
tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),          # image | audio | video
        StructField("payload", BinaryType()),
        StructField("n_bytes", IntegerType()),
        StructField("mime", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),  # normalized 16-bin byte histogram
        StructField("counts", ArrayType(IntegerType())),  # raw 16-bin counts (exact ints)
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

N_BINS = 16


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from text bytes (sandbox
    stand-in for a WARC payload column) — native expressions only."""
    kind = F.expr("element_at(array('image', 'audio', 'video'), 1 + int(doc_id % 3))")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("n_bytes"),
        F.concat(kind, F.lit("/fake")).alias("mime"),
    )


def decode_fake(payload: bytes, kind: str) -> tuple[np.ndarray, int, int]:
    """Deterministic stand-in: byte values as the 'signal'; fake
    width/height derived from the payload length."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    side = max(int(np.sqrt(arr.size)), 1)
    return arr, side, max(arr.size // side, 1)


def extract_features(media: DataFrame) -> DataFrame:
    """payload BINARY -> normalized 16-bin byte histogram feature per
    media row; one Arrow batch in/out, numpy-vectorized per batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        edges = np.linspace(0, 256, N_BINS + 1)
        for pdf in batches:
            if len(pdf) == 0:
                # per-row path: the empty batch keeps its column types
                feats, counts, ws, hs = [], [], [], []
                for payload, kind in zip(pdf["payload"], pdf["kind"]):
                    arr, w, h = decode_fake(bytes(payload), kind)
                    hist, _ = np.histogram(arr, bins=edges)
                    total = max(arr.size, 1)
                    feats.append((hist / total).astype(np.float32).tolist())
                    counts.append(hist.astype(np.int32).tolist())
                    ws.append(w)
                    hs.append(h)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"].astype("int64"),
                        "kind": pdf["kind"],
                        "feature": feats,
                        "counts": counts,
                        "width": np.asarray(ws, dtype="int32"),
                        "height": np.asarray(hs, dtype="int32"),
                    }
                )
                continue
            # Vectorized byte-histogram path: the fake decoder's
            # "signal" is the raw payload bytes, and 16 uniform bins
            # over [0, 256) are exactly value >> 4 — one bincount over
            # the whole batch replaces one np.histogram call per row
            # (identical counts: uint8 < 256 never reaches the closed
            # upper edge of np.histogram's last bin).
            payloads = [bytes(p) for p in pdf["payload"]]
            sizes = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                                count=len(payloads))
            arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            row_idx = np.repeat(np.arange(len(payloads)), sizes)
            flat = np.bincount(
                row_idx * N_BINS + (arr >> 4),
                minlength=len(payloads) * N_BINS,
            ).reshape(len(payloads), N_BINS)
            totals = np.maximum(sizes, 1)
            feats2 = (flat / totals[:, None]).astype(np.float32)
            # decode_fake geometry: side = max(int(sqrt(n)), 1),
            # height = max(n // side, 1) — IEEE sqrt is exact on
            # perfect squares, so the vectorized form matches int()
            ws2 = np.maximum(np.sqrt(sizes).astype(np.int64), 1)
            hs2 = np.maximum(sizes // ws2, 1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "feature": feats2.tolist(),
                    "counts": flat.astype(np.int32).tolist(),
                    "width": ws2.astype("int32"),
                    "height": hs2.astype("int32"),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema=FEATURE_SCHEMA)
