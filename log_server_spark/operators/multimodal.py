"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside; decode / feature-extract / resize run
as Arrow-batched ``mapInPandas`` stages so payload bytes
stream through Python in bounded batches (sized by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — large blobs never
accumulate on one executor).

The actual codecs (PIL/ffmpeg/soundfile) are NOT in this container, so the
decode kernel is gated behind an import-try with a deterministic fake
fallback — the Spark-side plumbing (schema, batching, partitioning, UDF
signatures) is real and tested; swap ``_decode_image_batch`` for a real
decoder when the libs exist.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes long, sha256 string, "
    "feat_mean double, feat_std double, thumb_w int, thumb_h int"
)

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def _byte_stats(p) -> tuple[float, float]:
    arr = np.frombuffer(bytes(p), dtype=np.uint8) if p is not None and len(p) else np.zeros(1, np.uint8)
    return float(arr.mean()), float(arr.std())


def _decode_image_batch(payloads: pd.Series, pixel: bool = True) -> np.ndarray:
    """Return (batch, 2) [mean, std] pixel features.

    With ``pixel`` and PIL present, each payload is decoded as an image and
    the features are real pixel statistics; payloads PIL cannot decode (and
    every payload when PIL is absent or ``pixel=False``) fall back to
    deterministic byte statistics, so the plumbing behaves identically —
    and keeps working — in both environments. ``pixel=False`` pins the
    byte-stats kernel regardless of environment (the SQL-oracle-checkable
    variant).
    """
    out = np.zeros((len(payloads), 2), dtype=np.float64)
    for i, p in enumerate(payloads):
        if pixel and _HAS_PIL and p is not None and len(p):
            import io

            try:
                with Image.open(io.BytesIO(bytes(p))) as img:
                    px = np.asarray(img.convert("L"), dtype=np.float64)
                out[i] = (float(px.mean()), float(px.std()))
                continue
            except Exception:
                pass  # undecodable bytes -> byte-stats fallback below
        out[i] = _byte_stats(p)
    return out


def extract_features(
    media: DataFrame, thumb: tuple[int, int] = (32, 32), pixel: bool = True
) -> DataFrame:
    """media(media_id string, kind string, payload binary, width int,
    height int, duration_ms int) -> per-item features (FEATURES_SCHEMA).

    ``pixel=False`` forces the byte-stats feature kernel (environment-
    independent and SQL-expressible — the driver-oracle variant)."""

    def _round4(x: np.ndarray) -> np.ndarray:
        # half-AWAY rounding (values are nonnegative): matches SQL ROUND
        # (Spark F.round / DuckDB round) — np.round is half-even and
        # disagrees on exact 4-dp ties like mean(320 bytes) = 93.33125
        return np.floor(x * 10000.0 + 0.5) / 10000.0

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _decode_image_batch(pdf["payload"], pixel=pixel)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(bytes(p)) if p is not None else 0 for p in pdf["payload"]],
                    "sha256": [
                        hashlib.sha256(bytes(p) if p is not None else b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                    "feat_mean": _round4(feats[:, 0]),
                    "feat_std": _round4(feats[:, 1]),
                    "thumb_w": np.full(len(pdf), thumb[0], dtype=np.int32),
                    "thumb_h": np.full(len(pdf), thumb[1], dtype=np.int32),
                }
            )

    return media.mapInPandas(gen, schema=FEATURES_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter for tests/benches: wrap documents.text as fake media payloads."""
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )
