"""Multimodal (image/audio/video) column operators.

Binary payloads are opaque ``binary`` columns with typed metadata; all
decode/feature work happens inside Arrow UDF batches (mapInPandas), and
payloads are joined LATE so bytes never ride through earlier shuffles.

The container has no PIL/ffmpeg, so this module's *codecs* are the
deterministic SFIM codec from payload/codec.py (images) and clearly-marked
``NotImplementedError`` seams (audio/video) — but the Spark-side plumbing
(schemas, batch shapes, partitioning) is real and tested:

- decode_stats      decode + per-image mean/std channel stats
- resize_images     nearest-neighbor resize (numpy), re-encode
- image_features    8x8 luma pooled features as array<float> (the shape an
                    embedding model would return)
- frame_sample      N evenly-spaced "frames" from a video payload (STUB
                    decode; real ffmpeg plugs into the same iterator)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spark_frontier.payload.codec import decode_image, encode_image

STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("ok", StringType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("std_lum", DoubleType()),
    ]
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image channel stats via mapInPandas (one Arrow batch of blobs →
    one stats frame; bytes never leave the batch)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(blob).astype(np.float64)
                    lum = px.mean(axis=-1)
                    rows.append((iid, "ok", float(px[..., 0].mean()),
                                 float(px[..., 1].mean()),
                                 float(px[..., 2].mean()), float(lum.std())))
                except Exception as e:
                    rows.append((iid, f"error:{e}", None, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in STATS_SCHEMA.fields])

    return images.select("image_id", "bytes").mapInPandas(_run, STATS_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
    ]
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize + re-encode, batched."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    px = decode_image(blob)
                    h, w, _ = px.shape
                    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                    resized = px[yi][:, xi]
                    rows.append((iid, encode_image(resized, fmt), out_w, out_h, fmt))
                except Exception:
                    rows.append((iid, None, None, None, fmt))
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return images.select("image_id", "bytes", "fmt").mapInPandas(_run, RESIZE_SCHEMA)


FEATURES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def feature_vec(px: np.ndarray) -> list[float]:
    """64-dim pooled-luma feature vector for one decoded image — the
    'image tower'. Shared by the Spark UDF and the q46 oracle's
    driver-side literal builder so the two can never drift."""
    g = px.astype(np.float32).mean(axis=-1)
    h, w = g.shape
    ys = np.linspace(0, h, 9, dtype=int)
    xs = np.linspace(0, w, 9, dtype=int)
    return [
        float(g[ys[i]:max(ys[i + 1], ys[i] + 1),
                xs[j]:max(xs[j + 1], xs[j] + 1)].mean()) / 255.0
        for i in range(8) for j in range(8)
    ]


def image_features(images: DataFrame) -> DataFrame:
    """64-dim pooled-luma feature vector per image (stand-in for a real
    vision-encoder embedding; identical schema/batching)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    rows.append((iid, feature_vec(decode_image(blob))))
                except Exception:
                    rows.append((iid, None))
            yield pd.DataFrame(rows, columns=["image_id", "features"])

    return images.select("image_id", "bytes").mapInPandas(_run, FEATURES_SCHEMA)


def caption_alignment(images: DataFrame, dim: int = 64,
                      id_col: str = "image_id",
                      caption_col: str = "caption",
                      threshold: float = 0.0) -> DataFrame:
    """Caption↔image alignment score (the LAION-style multimodal filter:
    keep pairs whose caption actually describes the image).

    Two towers → cosine:
    - image tower: ``image_features`` (64-dim pooled luma, Arrow UDF —
      the CLIP-vision seam; swap the UDF body for a real encoder in
      production, the topology is unchanged);
    - text tower: a hashing-trick embedding computed ENTIRELY in JVM
      expressions — each token md5-hashes to a signed one-hot
      (idx = first md5 byte mod dim, sign = third hex nibble parity),
      summed per caption. No vocabulary, no Python, exactly what a
      100 TB corpus pass can afford without a GPU tower — and exactly
      replayable by the DuckDB oracle (q46).

    Topology: captions explode to (id, idx, weight) sparse entries; the
    dense image vectors posexplode once; ONE equi-join on (id, idx)
    computes the dot product (the text side is sparse, so the join
    carries only the caption's non-zero coordinates). Norms reduce
    per-id. The image bytes never shuffle — only 8-byte feature entries.
    Returns (id, alignment ∈ [-1, 1], is_aligned = alignment ≥
    threshold); captions with no tokens score 0.
    """
    feats = image_features(images)
    tok = F.explode(
        F.filter(
            F.split(F.lower(F.trim(F.col(caption_col))), r"\s+"),
            lambda t: t != "",
        )
    ).alias("tok")
    sparse = (
        images.select(F.col(id_col), tok)
        .select(
            id_col,
            (F.conv(F.substring(F.md5("tok"), 1, 2), 16, 10)
             .cast("int") % dim).alias("idx"),
            (F.lit(1)
             - F.lit(2) * (F.conv(F.substring(F.md5("tok"), 3, 1), 16, 10)
                           .cast("int") % 2)).cast("double").alias("sgn"),
        )
        .groupBy(id_col, "idx")
        .agg(F.sum("sgn").alias("tv"))
    )
    fpos = feats.select(
        id_col, F.posexplode("features").alias("idx", "fv")
    ).withColumn("fv", F.col("fv").cast("double"))
    dot = (
        sparse.join(fpos, [id_col, "idx"])
        .groupBy(id_col)
        .agg(F.sum(F.col("tv") * F.col("fv")).alias("dot"))
    )
    tnorm = sparse.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tv") * F.col("tv"))).alias("tnorm")
    )
    inorm = feats.select(
        id_col,
        F.sqrt(
            F.aggregate(
                "features", F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("inorm"),
    )
    return (
        images.select(id_col)
        .join(dot, id_col, "left")
        .join(tnorm, id_col, "left")
        .join(inorm, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("dot")
                / F.nullif(F.col("tnorm") * F.col("inorm"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("alignment"),
        )
        .select(
            id_col, "alignment",
            (F.col("alignment") >= threshold).alias("is_aligned"),
        )
    )


QUALITY_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("sharpness", DoubleType()),
        StructField("contrast", DoubleType()),
        StructField("brightness", DoubleType()),
    ]
)


def laplacian_variance(px: np.ndarray) -> float:
    """Sharpness proxy: variance of the 4-neighbor Laplacian over the
    grayscale image — the classic cheap blur detector an image-corpus
    quality gate runs before anything learned. Pure numpy slicing, no
    convolution library."""
    g = px.astype(np.float64).mean(axis=-1)
    lap = (
        g[:-2, 1:-1] + g[2:, 1:-1] + g[1:-1, :-2] + g[1:-1, 2:]
        - 4.0 * g[1:-1, 1:-1]
    )
    return float(lap.var())


def image_quality(images: DataFrame) -> DataFrame:
    """Per-image quality signals (sharpness / contrast / brightness +
    decoded dims) via mapInPandas — the decode stays inside the Arrow
    batch, only six scalar columns come out. Rows that fail to decode
    are dropped (they belong to the validator's failure lane, not the
    quality distribution)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(blob)
                except Exception:
                    continue
                g = px.astype(np.float64).mean(axis=-1)
                rows.append((
                    iid, int(px.shape[1]), int(px.shape[0]),
                    laplacian_variance(px), float(g.std()),
                    float(g.mean()),
                ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in QUALITY_SCHEMA.fields]
            )

    return images.select("image_id", "bytes").mapInPandas(
        _run, QUALITY_SCHEMA
    )


def quality_gate(stats: DataFrame, min_side: int = 64,
                 min_sharpness: float = 10.0,
                 min_contrast: float = 8.0) -> DataFrame:
    """JVM-side gating over the extracted signals: the decision logic is
    a plain codegen predicate (SQL-replayable by the q45 oracle), kept
    separate from the Python decode so thresholds can be retuned without
    touching the UDF."""
    return stats.select(
        "*",
        (
            (F.col("w") >= min_side)
            & (F.col("h") >= min_side)
            & (F.col("sharpness") >= min_sharpness)
            & (F.col("contrast") >= min_contrast)
        ).alias("is_ok"),
    )


def frame_sample(video_blob: bytes, n_frames: int) -> list[bytes]:  # pragma: no cover
    """STUB: video frame sampling seam (evenly spaced frame extraction).
    Real deployments plug pyav/ffmpeg here."""
    raise NotImplementedError("video decode requires pyav/ffmpeg")


def assign_image_shards(
    images: DataFrame,
    batch_size: int = 64,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Training-shard assignment for image(+caption) corpora: bucket by
    aspect ratio, shuffle deterministically within the bucket, cut into
    fixed-size shards — the standard aspect-ratio-bucketed batching
    (SDXL-style) that avoids destructive square-cropping while keeping
    every batch tensor-shaped.

    Bucket key is the INTEGER (w·1000) div h, so no float ever enters a
    group key (an oracle replays it exactly). In-bucket order is the
    md5(id) hash shuffle (``sampling`` module convention) — reproducible
    across runs, partitionings, and engines. A shard is ``is_full``
    when the bucket had enough members to fill it; training drops the
    ragged tail shard, so the flag is the consumer's filter.

    Plan shape: one shuffle on the bucket key; both windows share that
    partitioning. Buckets are independent — skew is bounded by the
    largest aspect bucket, and batch_size cutting is positional within
    the bucket, so no global sort exists anywhere."""
    from pyspark.sql import Window

    from spark_frontier.analytics.dedup import md5_hash60

    bucket = F.expr(f"({w_col} * 1000) div {h_col}").cast("long")
    w = Window.partitionBy("aspect_bucket").orderBy(
        "_shuffle", F.col(id_col)
    )
    wc = Window.partitionBy("aspect_bucket")
    out = (
        images.select(
            F.col(id_col),
            F.col(w_col),
            F.col(h_col),
            bucket.alias("aspect_bucket"),
            md5_hash60(F.col(id_col)).alias("_shuffle"),
        )
        .withColumn("_rk", F.row_number().over(w) - 1)
        .withColumn("_n", F.count(F.lit(1)).over(wc))
    )
    b = int(batch_size)
    return out.select(
        id_col,
        w_col,
        h_col,
        "aspect_bucket",
        F.expr(f"_rk div {b}").cast("long").alias("shard_id"),
        (F.col("_rk") % b).cast("int").alias("pos_in_shard"),
        (F.expr(f"_rk div {b}") < F.expr(f"_n div {b}")).alias("is_full"),
    )
