"""Multimodal column plumbing (images/audio/video as opaque binary + metadata).

Engine charter item (BASELINE.json north star): treat media as ``binary``
columns with typed metadata; run decode / feature-extract / resize /
frame-sample as Arrow-batched pandas functions over ``mapInPandas``. The
image/audio codecs are NOT installed in this container, so the decode step is
a clearly-marked deterministic fake behind ``decoder=`` injection — the
Spark-side plumbing (schema, batch shape, partitioning) is real and tested;
production swaps in Pillow/torchaudio et al. without touching the plan.

Scale notes: ``mapInPandas`` streams Arrow record batches — media bytes never
materialize as Python lists; `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds batch memory. Partition by content size beforehand if assets are
heavily skewed.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the feature-extraction stage.
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real media decoder (codecs not installed).

    Derives pseudo width/height/features from the bytes so tests are
    hermetic. Production injects a real decoder with the same contract:
    bytes → {width, height, feature: list[float]}.
    """
    if not payload:
        raise ValueError("empty media payload")
    w = 16 + payload[0] % 64
    h = 16 + payload[-1] % 64
    feat = [float(b) / 255.0 for b in payload[:8]]
    return {"width": w, "height": h, "feature": feat}


def synthetic_assets(spark, n: int = 64) -> DataFrame:
    """Synthetic binary asset table for tests (id, media_type, content)."""
    return spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.when(F.col("id") % 3 == 0, F.lit("image/png"))
        .when(F.col("id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode(
            F.concat(F.lit("media-payload-"), F.col("id").cast("string")), "utf-8"
        ).alias("content"),
    )


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], dict] = fake_decode,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    content_col: str = "content",
) -> DataFrame:
    """Decode + featurize media over Arrow batches (mapInPandas).

    One output row per asset; decode failures surface as NULL dims rather
    than killing the task (bad assets are expected at 100 TB)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "asset_id": [],
                "media_type": [],
                "n_bytes": [],
                "width": [],
                "height": [],
                "feature": [],
            }
            for aid, mtype, blob in zip(pdf[id_col], pdf[type_col], pdf[content_col]):
                payload = bytes(blob) if blob is not None else b""
                out["asset_id"].append(aid)
                out["media_type"].append(mtype)
                out["n_bytes"].append(len(payload))
                try:
                    meta = decoder(payload)
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["feature"].append(meta["feature"])
                except Exception:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feature"].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, MEDIA_FEATURES_SCHEMA)


def frame_sample_plan(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling plumbing: select every-nth asset per media type.

    Stands in for per-video frame extraction (decode is stubbed); the
    partition-and-sample shape is what matters for scale."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("media_type").orderBy("asset_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % every_nth == 0)
        .drop("_rn")
    )


def partition_by_size_class(
    df: DataFrame,
    content_col: str = "content",
    n_partitions_per_class: int = 4,
    small_max: int = 1 << 20,
    large_max: int = 64 << 20,
) -> DataFrame:
    """Repartition assets by payload size class before decode.

    Media tables are heavily size-skewed (thumbnails to feature films); a
    hash repartition on id alone lands a few giant assets in one task and
    stalls the stage. Classing by size first, then spreading each class over
    its own partition range, bounds per-task bytes — the decode stage's
    skew mitigation promised in SCALE.md. Pure JVM expressions; the class
    column stays available downstream for batch-size tuning.
    """
    size = F.length(F.col(content_col))
    size_class = (
        F.when(size <= small_max, F.lit("small"))
        .when(size <= large_max, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    out = df.withColumn("size_class", size_class)
    # Spread within each class by a content hash (layout-independent), so a
    # class's assets fan across tasks instead of hashing to one partition.
    return out.repartition(
        3 * n_partitions_per_class, F.col("size_class"), F.xxhash64(F.col(content_col))
    )


RESIZED_SCHEMA = (
    "asset_id LONG, media_type STRING, width INT, height INT, "
    "target_w INT, target_h INT, resized BINARY"
)


def resize_assets(
    df: DataFrame,
    max_side: int = 32,
    decoder: Callable[[bytes], dict] = fake_decode,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    content_col: str = "content",
) -> DataFrame:
    """Resize plumbing (charter: decode / feature-extract / RESIZE /
    frame-sample): decode dims, compute an aspect-preserving target bounded
    by ``max_side``, and emit a resized payload. The resizer is injected
    like the decoder — production plugs Pillow/ffmpeg; the default emits a
    deterministic fake (truncated payload) so the Arrow plumbing, schema and
    aspect math are fully tested without codecs. Same mapInPandas batch
    shape as :func:`extract_features`; one output row per asset, failures
    yield NULL dims instead of killing the task."""
    import pandas as pd

    def default_resizer(payload: bytes, w: int, h: int) -> bytes:
        return payload[: max(1, (w * h) % 97)]

    rz = resizer or default_resizer

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {k: [] for k in (
                "asset_id", "media_type", "width", "height",
                "target_w", "target_h", "resized",
            )}
            for aid, mtype, blob in zip(pdf[id_col], pdf[type_col], pdf[content_col]):
                payload = bytes(blob) if blob is not None else b""
                out["asset_id"].append(aid)
                out["media_type"].append(mtype)
                try:
                    meta = decoder(payload)
                    w, h = int(meta["width"]), int(meta["height"])
                    scale = min(1.0, max_side / max(w, h))
                    tw, th = max(1, round(w * scale)), max(1, round(h * scale))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["target_w"].append(tw)
                    out["target_h"].append(th)
                    out["resized"].append(rz(payload, tw, th))
                except Exception:
                    for k in ("width", "height", "target_w", "target_h", "resized"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, RESIZED_SCHEMA)
