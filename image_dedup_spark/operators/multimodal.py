"""Multimodal (opaque binary) column handling.

The engine's data model treats rich payloads the way the reference
treats image files: an opaque byte payload plus typed metadata, with all
decoding behind one vectorized boundary (the reference decodes inside
its hash functions, hash_func.cpp:76-198, and quality-checks magic bytes
in image_filter.cpp:44-61). Here:

- ``binary_meta``: metadata extraction (size, content hash, sniffed
  format from magic bytes) as ``mapInPandas`` — Arrow batches in, one
  metadata row per payload, no per-row Python driver logic.
- ``decode_payload_batch``: the decode step. The sandbox has no
  image/audio libraries, so real decoding is STUBBED: if PIL/cv2 are
  importable it would decode, otherwise each row gets a deterministic
  fake (``decoded=False`` + stable feature vector derived from the
  bytes) — the Spark-side plumbing (schema, batching, partitioning) is
  real and tested either way.

Magic-byte table mirrors image_filter.cpp:44-61 (jpg ff d8 / png
89 50 4e 47) plus html for the web-text domain.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from image_dedup_spark.session import drop_zip_finders

BINARY_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("content_md5", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
    ]
)

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("decoded", T.BooleanType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_MAGIC = [
    (b"\xff\xd8", "jpeg"),          # image_filter.cpp:44-48
    (b"\x89PNG\r\n\x1a\n", "png"),  # image_filter.cpp:52-55
    (b"<html", "html"),
    (b"RIFF", "riff"),
]


def sniff_format(b: bytes) -> str:
    for magic, name in _MAGIC:
        if b.startswith(magic):
            return name
    return "unknown"


def binary_meta(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "html"
) -> DataFrame:
    """(doc_id, byte_len, content_md5, format) for each binary payload.

    md5 (not sha1) so the metadata row is reproducible by the DuckDB
    oracle, which ships md5 but no sha1."""

    def _meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            payloads = pdf[bin_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": payloads.map(
                        lambda b: len(b) if b is not None else 0
                    ).astype("int64"),
                    "content_md5": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "format": payloads.map(
                        lambda b: sniff_format(bytes(b or b""))
                    ),
                }
            )

    return df.select(id_col, bin_col).mapInPandas(_meta, BINARY_META_SCHEMA)


def _have_decoder() -> bool:
    try:  # pragma: no cover - decoder libs absent in this container
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def _fake_feature(b: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in feature: bytes -> seeded uniform vector.
    Stable across runs/partitions, so downstream ANN plumbing is
    testable without a real decoder."""
    h = hashlib.blake2b(b, digest_size=8).digest()
    rng = np.random.default_rng(int.from_bytes(h, "little"))
    return rng.standard_normal(dim).astype(np.float32)


def decode_payload_batch(
    df: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    bin_col: str = "html",
    strict: bool = False,
) -> DataFrame:
    """Decode/feature-extract each payload.

    With a real decoder installed this would emit true features; in this
    container it emits the deterministic fake with ``decoded=False``.
    ``strict=True`` raises ``NotImplementedError`` instead (the
    clearly-marked stub behavior)."""
    have = _have_decoder()

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            rows = []
            for did, b in zip(pdf[id_col], pdf[bin_col]):
                payload = bytes(b or b"")
                if have:  # pragma: no cover
                    raise NotImplementedError(
                        "real decoder path not exercised in this container"
                    )
                if strict:
                    raise NotImplementedError(
                        "payload decoding requires an image/audio library"
                    )
                rows.append(
                    (
                        int(did),
                        False,
                        _fake_feature(payload, dim),
                        "decoder_unavailable",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "decoded", "feature", "error"]
            )

    return df.select(id_col, bin_col).mapInPandas(_decode, DECODE_SCHEMA)
