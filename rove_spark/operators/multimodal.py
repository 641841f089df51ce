"""Multimodal columns: opaque binary payloads + typed metadata, with the
Spark-side plumbing (schemas, Arrow batch shapes, partitioning) real and
tested. Media decoding is capability-probed (``DECODER_CAPS``): audio PCM
WAV decodes for real via the stdlib ``wave`` module; images decode for
real via PIL where present, else via the from-scratch stdlib PNG decoder
(operators/png.py — zlib inflate + all five scanline defilters); video
uses ffmpeg where present (absent in this container) and otherwise
raises when ``decode_real=True`` is requested.

Contract (per the build brief): the default stub path is deterministic —
a pure function of the payload bytes — so pipelines exercise realistic
data flow, tests pin exact outputs, and the driver's multimodal query
carries a full cross-engine oracle over the stub semantics. The real path
replaces only the marked ``_fake_*``/``_real_*`` decode functions; batch
shape, schema and partitioning are identical.

Schema:
  assets(asset_id string, kind string ∈ {image,audio,video},
         payload binary, meta struct<width int, height int, channels int,
         sample_rate int, n_frames int, duration_ms int>)
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, channels:int, sample_rate:int, "
    "n_frames:int, duration_ms:int>"
)

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


# ---------------- capability probe for OPTIONAL real decoders -----------
# The engine decodes real media where the libraries exist and keeps the
# deterministic stub otherwise (this container has no PIL/ffmpeg; audio is
# genuinely real via the stdlib `wave` module). Probed once at import.


def _probe_decoder_caps() -> dict:
    import shutil

    try:
        import PIL.Image  # noqa: F401

        image_cap = "pil"
    except ImportError:
        # from-scratch stdlib decoders (operators/png.py + jpeg.py) —
        # real decode for PNG and baseline-JPEG payloads even without
        # PIL; other image formats raise per payload at decode time
        image_cap = "stdlib"
    return {
        "image": image_cap,  # truthy: some real image decode always exists
        "audio": True,  # stdlib wave: PCM WAV decode needs no extra libs
        "video": shutil.which("ffmpeg") is not None,
    }


DECODER_CAPS = _probe_decoder_caps()


def _real_decode_bytes(payload: bytes, kind: str, n_out: int) -> np.ndarray:
    """REAL media decode → first ``n_out`` samples/pixels as uint8/int
    (zero-padded). Raises NotImplementedError for kinds whose decoder is
    absent (DECODER_CAPS) — never a silent fallback to the stub."""
    import io

    if not DECODER_CAPS.get(kind, False):
        raise NotImplementedError(
            f"real {kind} decode unavailable (capability probe: {DECODER_CAPS}); "
            f"install PIL (image) / ffmpeg (video) or use the deterministic stub"
        )
    if kind == "audio":
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            raw = w.readframes(w.getnframes())
            width = w.getsampwidth()
        dt = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
        if dt is None:
            raise ValueError(f"unsupported WAV sample width {width}")
        samples = np.frombuffer(raw, dtype=dt).astype(np.int64)
    elif kind == "image":
        if DECODER_CAPS["image"] == "pil":
            from PIL import Image

            img = Image.open(io.BytesIO(payload)).convert("L")
            samples = np.asarray(img, dtype=np.uint8).reshape(-1).astype(np.int64)
        else:
            # stdlib path, routed by payload magic (both decoders fold
            # color with the same ITU-R 601-2 luma as PIL convert("L"))
            from rove_spark.operators.jpeg import decode_jpeg_gray, is_jpeg
            from rove_spark.operators.png import decode_png_gray, is_png

            if is_png(payload):
                samples = decode_png_gray(payload).astype(np.int64)
            elif is_jpeg(payload):
                samples = decode_jpeg_gray(payload).astype(np.int64)
            else:
                raise ValueError(
                    "unrecognized image payload (stdlib decoders cover "
                    "PNG and baseline JPEG; install PIL for other formats)"
                )
    else:  # video: first frame, grayscale, via ffmpeg pipe
        import subprocess

        out = subprocess.run(
            ["ffmpeg", "-i", "pipe:0", "-frames:v", "1", "-f", "rawvideo",
             "-pix_fmt", "gray", "pipe:1"],
            input=payload, capture_output=True, check=True,
        ).stdout
        samples = np.frombuffer(out, dtype=np.uint8).astype(np.int64)
    if len(samples) >= n_out:
        return samples[:n_out]
    return np.pad(samples, (0, n_out - len(samples)))


# ---- deterministic stand-ins for real decoders (STUBS, clearly marked) --


def _fake_decode_bytes(payload: bytes, n_out: int) -> np.ndarray:
    """STUB for media decode: deterministic pseudo-pixels from the payload
    digest. Replace with a real decoder off-sandbox.

    The digest is sha256 of the LOWERCASE-HEX payload (not the raw bytes):
    DuckDB's sha256 is VARCHAR-only, and hashing the hex form lets the
    driver's multimodal query carry an exact cross-engine oracle
    (sha256(lower(hex(payload))) reproduces this in SQL)."""
    d = hashlib.sha256(payload.hex().encode()).digest()
    reps = n_out // len(d) + 1
    return np.frombuffer((d * reps)[:n_out], dtype=np.uint8)


def decode_assets(
    df: DataFrame, out_pixels: int = 64, decode_real: bool = False
) -> DataFrame:
    """payload → fixed-size decoded sample (array<int>), via mapInPandas
    (Arrow batches; one Python crossing for the whole batch). The realistic
    batch shape: binary in, fixed-width array out.

    ``decode_real=True`` uses the probed real decoders (DECODER_CAPS:
    stdlib wave for audio, PIL for images, ffmpeg for video) and raises
    NotImplementedError per missing capability — the deterministic stub
    (default) remains the oracle-able path."""
    from rove_spark.operators.util import parallel_groups

    df = parallel_groups(df, "asset_id")

    def run(batches):
        for pdf in batches:
            if decode_real:
                decoded = [
                    _real_decode_bytes(p, k, out_pixels).astype("int32").tolist()
                    for p, k in zip(pdf["payload"], pdf["kind"])
                ]
            else:
                decoded = [
                    _fake_decode_bytes(p, out_pixels).astype("int32").tolist()
                    for p in pdf["payload"]
                ]
            out = pdf[["asset_id", "kind"]].copy()
            out["decoded"] = decoded
            yield out

    return df.mapInPandas(run, "asset_id string, kind string, decoded array<int>")


def extract_features(
    df: DataFrame,
    dim: int = FEATURE_DIM,
    decode_real: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """payload → unit-norm float feature vector. Default: STUB embedding
    (hashed payload bytes → fixed-dim projection), oracle-able. With
    ``decode_real=True``: real decoded samples pooled into ``dim`` bins
    then centered + normalized. Either way the output plugs straight into
    ann.py / dedup.embedding_near_dup_pairs_portable — that integration
    is the real deliverable.

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
            for p, k in zip(pdf["payload"], pdf["kind"]):
                if decode_real:
                    raw = (
                        _real_decode_bytes(p, k, dim * 16)
                        .astype(np.float64)
                        .reshape(dim, 16)
                        .mean(axis=1)
                    )
                    v = raw - raw.mean()
                else:
                    raw = _fake_decode_bytes(p, dim * 4).view(np.uint32).astype(np.float64)
                    v = (raw / np.float64(0xFFFFFFFF)) - 0.5
                v /= np.linalg.norm(v) or 1.0
                feats.append(v.astype(np.float32).tolist())
            out = pdf[["asset_id", "kind"]].copy()
            out["feature"] = feats
            yield out

    return df.mapInPandas(run, "asset_id string, kind string, feature array<float>")


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling plumbing: explode frame indices 0, n, 2n, …
    from metadata (JVM-side); the per-frame decode would attach via
    decode_assets on the exploded rows."""
    vids = df.filter(F.col("kind") == "video")
    idx = F.sequence(
        F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n)
    )
    return vids.select(
        "asset_id",
        F.explode(idx).alias("frame_idx"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def resize_meta(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning (aspect-preserving) as a pure projection — the
    geometry math is JVM-side; actual pixel resampling is part of the
    stubbed decode."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(1.0), max_side / F.greatest(w, h))
    return df.withColumns(
        {
            "resize_w": F.ceil(w * scale).cast("int"),
            "resize_h": F.ceil(h * scale).cast("int"),
        }
    )
