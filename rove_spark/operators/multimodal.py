"""Multimodal columns: opaque binary payloads + typed metadata, with the
Spark-side plumbing (schemas, Arrow batch shapes, partitioning) real and
tested. Media decoding is a deterministic stub (``_fake_decode_bytes``):
a pure function of the payload bytes, so pipelines exercise realistic
data flow, tests pin exact outputs, and the driver's multimodal query
carries a full cross-engine oracle over the stub semantics. A real
decoder would replace only that function; batch shape, schema and
partitioning stay as they are.

Assets (``synthetic_assets``):
  asset_id string, kind string ∈ {image,audio,video}, payload binary,
  meta struct<width int, height int, channels int, sample_rate int,
              n_frames int, duration_ms int>
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_DIM = 32


def synthetic_assets(
    spark: SparkSession, n: int = 100, seed: int = 11, payload_bytes: int = 256
) -> DataFrame:
    """Deterministic fake assets: payload = repeated sha2 stream of the id;
    metadata derived from id hashes. Column-expression generation (no
    driver loop)."""
    base = spark.range(n).select(
        F.concat(F.lit("asset-"), F.col("id").cast("string")).alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64(F.lit(seed), "id"), 3) + 1).cast("int"),
        ).alias("kind"),
        F.col("id"),
    )
    reps = payload_bytes // 32 + 1
    payload = F.substring(
        F.concat(*[F.unhex(F.sha2(F.concat(F.col("asset_id"), F.lit(i)), 256)) for i in range(reps)]),
        1,
        payload_bytes,
    )
    h = lambda s, m: F.pmod(F.xxhash64(F.lit(s), F.col("id")), m).cast("int")  # noqa: E731
    return base.select(
        "asset_id",
        "kind",
        payload.alias("payload"),
        F.struct(
            (64 + h(1, 448)).alias("width"),
            (64 + h(2, 448)).alias("height"),
            (1 + h(3, 3)).alias("channels"),
            F.when(F.col("kind") == "audio", 16000).otherwise(F.lit(None).cast("int")).alias(
                "sample_rate"
            ),
            F.when(F.col("kind") == "video", 1 + h(4, 300)).otherwise(F.lit(None).cast("int")).alias(
                "n_frames"
            ),
            (100 + h(5, 60000)).alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_decode_bytes(payload: bytes, n_out: int) -> np.ndarray:
    """STUB for media decode: deterministic pseudo-pixels from the payload
    digest.

    The digest is sha256 of the LOWERCASE-HEX payload (not the raw bytes):
    DuckDB's sha256 is VARCHAR-only, and hashing the hex form lets the
    driver's multimodal query carry an exact cross-engine oracle
    (sha256(lower(hex(payload))) reproduces this in SQL)."""
    d = hashlib.sha256(payload.hex().encode()).digest()
    reps = n_out // len(d) + 1
    return np.frombuffer((d * reps)[:n_out], dtype=np.uint8)


def extract_features(
    df: DataFrame,
    dim: int = FEATURE_DIM,
    partitions: int | None = None,
) -> DataFrame:
    """payload → unit-norm float feature vector: a STUB embedding (hashed
    payload bytes → fixed-dim projection), oracle-able. The output plugs
    straight into ann.py / dedup.embedding_near_dup_pairs_portable — that
    integration is the real deliverable.

    ``partitions`` caps the pre-UDF spread when the caller knows the
    input is small (each Python task costs a worker round trip; 64 tasks
    over a 100-row frame is pure overhead — round 7). Default keeps the
    full parallel_groups spread for unknown/large inputs."""
    from rove_spark.operators.util import parallel_groups

    if partitions is not None:
        df = df.repartition(partitions, "asset_id")
    else:
        df = parallel_groups(df, "asset_id")

    def run(batches):
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                raw = _fake_decode_bytes(p, dim * 4).view(np.uint32).astype(np.float64)
                v = (raw / np.float64(0xFFFFFFFF)) - 0.5
                v /= np.linalg.norm(v) or 1.0
                feats.append(v.astype(np.float32).tolist())
            out = pdf[["asset_id", "kind"]].copy()
            out["feature"] = feats
            yield out

    return df.mapInPandas(run, "asset_id string, kind string, feature array<float>")
