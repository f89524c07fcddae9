"""Multimodal columns: image/audio/video as opaque ``binary`` + metadata.

The Spark-side plumbing is real: schema, a typed metadata struct, and a
partition-preserving Arrow-batched ``mapInPandas`` pass over the binary
column. The payloads are synthetic (a pure md5 stream of the asset id) so
the ``multimodal_features`` query and its DuckDB oracle are hermetic.

Scale design: assets are stored as (asset_id, kind, payload, meta) with
payload kept out of every projection that doesn't need it (column pruning
is the whole ballgame when the binary column is 100× the metadata); the
digest pass is ``mapInPandas``, one row per asset (cardinality flat).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

_KINDS = ("image", "audio", "video")
_MIME = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def synth_assets(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic fake asset table: payload = repeated md5 stream of the
    asset id (pure function of id — partitioning never changes content)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = _KINDS[i % 3]
                seed = hashlib.md5(f"asset-{i}".encode()).digest()
                payload = (seed * (8 + i % 5))[: 64 + (i * 37) % 192]
                w = 16 + (i * 13) % 112
                rows.append(
                    {
                        "asset_id": i,
                        "doc_id": i % 50,
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "mime": _MIME[kind],
                            "width": w if kind != "audio" else None,
                            "height": (w * 3) // 4 if kind != "audio" else None,
                            "duration_ms": (i * 101) % 5000
                            if kind != "image"
                            else None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=ASSET_SCHEMA)


DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("payload_hex_sha256", T.StringType()),
    ]
)


def payload_digests(assets: DataFrame) -> DataFrame:
    """Per-asset content digest via an Arrow-batched mapInPandas
    boundary, over the payload's lowercase hex encoding, so the digest is
    reproducible by the DuckDB oracle (DuckDB 1.0's sha256() takes VARCHAR
    only; hashing the hex string
    verifies byte-exact payload content and the binary Arrow round-trip
    just as strongly as hashing the raw bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(
                        [len(p) for p in payloads], dtype="int32"
                    ),
                    "payload_hex_sha256": [
                        hashlib.sha256(p.hex().encode()).hexdigest()
                        for p in payloads
                    ],
                }
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        run, schema=DIGEST_SCHEMA
    )
