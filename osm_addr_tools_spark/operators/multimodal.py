"""Multimodal column plumbing (driver mandate): image/audio/video as opaque
``binary`` columns with typed metadata; decode / feature-extract as Arrow-batched
UDFs over ``mapInPandas``.

The Spark-side plumbing — schema, partitioning, UDF signatures, batch
shapes — is real and tested. The codec step is a deterministic fake
decoder that parses the synthetic header format produced by
:func:`synth_media` (no image/audio library is a dependency). Swapping
it for Pillow/ffmpeg is a one-function change that does not touch any
plan.

Media table schema (engine convention):
    media_id long, kind string ('image'|'audio'|'video'),
    bytes binary, meta map<string,string>
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_DDL = "media_id long, kind string, bytes binary, meta map<string,string>"

_MAGIC = b"SYNM"  # synthetic media header: SYNM | kind(1B) | w:u16 | h:u16 | frames:u16
_KINDS = {0: "image", 1: "audio", 2: "video"}
_KIND_IDS = {v: k for k, v in _KINDS.items()}


def synth_media(spark, n: int) -> DataFrame:
    """Deterministic fake media: header + id-seeded payload bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            rows = []
            for i in ids.tolist():
                kind_id = i % 3
                w, h, frames = 16 + i % 64, 16 + (i * 7) % 48, 1 + i % 30
                payload = (np.arange(w * h, dtype=np.uint8) + (i % 251)).tobytes()
                blob = _MAGIC + struct.pack("<BHHH", kind_id, w, h, frames) + payload
                rows.append(
                    (
                        i,
                        _KINDS[kind_id],
                        blob,
                        {"codec": "synm", "w": str(w), "h": str(h)},
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "bytes", "meta"])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_DDL)


def _parse_header(blob: bytes):
    if blob is None or not blob.startswith(_MAGIC):
        return None
    kind_id, w, h, frames = struct.unpack("<BHHH", blob[4:11])
    return _KINDS.get(kind_id), w, h, frames


def decode_media(df: DataFrame) -> DataFrame:
    """Decode step: binary → typed struct(width, height, n_frames, ok),
    parsed by the fake codec (``_parse_header``); a real codec replaces
    ``dec`` and leaves the plan shape unchanged."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            parsed = [_parse_header(x) for x in b["bytes"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "kind": b["kind"],
                    "width": [p[1] if p else 0 for p in parsed],
                    "height": [p[2] if p else 0 for p in parsed],
                    "n_frames": [p[3] if p else 0 for p in parsed],
                    "ok": [p is not None for p in parsed],
                }
            )

    return df.mapInPandas(
        dec,
        schema="media_id long, kind string, width int, height int, n_frames int, ok boolean",
    )


def media_features(df: DataFrame) -> DataFrame:
    """Feature extraction: binary → array<float> (deterministic 16-bin
    byte-histogram projection — the fake stand-in for a real embedding model;
    batch shape and output schema are the real contract)."""

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for blob in b["bytes"]:
                if blob is None:
                    out.append([0.0] * 16)
                    continue
                arr = np.frombuffer(blob, dtype=np.uint8)
                hist = np.bincount(arr % 16, minlength=16).astype(np.float64)
                norm = np.linalg.norm(hist)
                out.append((hist / norm if norm else hist).astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": b["media_id"], "feature": out})

    return df.mapInPandas(feat, schema="media_id long, feature array<float>")
