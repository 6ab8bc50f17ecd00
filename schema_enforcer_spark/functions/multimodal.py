"""Multimodal column plumbing: media as opaque ``binary`` columns with
typed metadata.

The Spark-side machinery (partition-aware batching, Arrow UDF signatures)
is real and tested; the actual codec work is STUBBED — the package depends on
no imaging library, so ``image_features`` either raises ``NotImplementedError``
(default) or produces a deterministic fake (``fake=True``) whose shape
matches what a real decoder would emit. Swap ``_decode_image_impl`` for a
Pillow call in a real deployment; nothing else changes.

Scale notes: media bytes stay in executor-side Arrow buffers end-to-end
(mapInPandas iterator API → no full-partition materialization); metadata
filters (mime/size) push down BEFORE decode so the expensive stage sees
only selected rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_DDL = "media_id long, mime string, n_bytes int, feat array<float>"


def gen_fake_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: content = repeatable pseudo-bytes.
    Every column is a plain arithmetic function of media_id (no engine-
    specific hash) so an ANSI-SQL oracle can regenerate the exact table."""
    # a tiny synthetic table must not fan out to defaultParallelism
    # partitions: each partition of a mapInPandas stage spins up a Python
    # worker, so 200 rows × 32 partitions pays 32 worker startups for
    # milliseconds of work
    return spark.range(0, n, 1, numPartitions=max(2, n // 100)).select(
        F.col("id").alias("media_id"),
        F.get(F.array(F.lit("image/png"), F.lit("image/jpeg"), F.lit("video/mp4")), F.pmod(F.col("id"), F.lit(3)).cast("int")).alias("mime"),
        (32 + F.pmod(F.col("id") * 7 + seed, F.lit(64))).cast("int").alias("width"),
        (32 + F.pmod(F.col("id") * 13 + seed, F.lit(64))).cast("int").alias("height"),
        F.when(F.col("id") % 3 == 2, (1000 + F.pmod(F.col("id") * 31 + seed, F.lit(9000))).cast("int")).alias("duration_ms"),
        F.encode(F.repeat(F.format_string("m%d|", F.col("id")), 64), "utf-8").alias("content"),
    )


def _decode_image_impl(content: bytes, fake: bool):
    if not fake:
        raise NotImplementedError(
            "image decoding requires an imaging library not present in this "
            "container; run with fake=True or swap _decode_image_impl for a "
            "Pillow-based implementation"
        )
    # deterministic fake: 8 'pixels' derived from the byte content
    return [float(b) / 255.0 for b in content[:8]]


def image_features(df: DataFrame, fake: bool = False, feat_dim: int = 8) -> DataFrame:
    """Decode + feature-extract per image, Arrow-batched (mapInPandas).
    Pushes a mime filter into the scan before any Python runs."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_image_impl(c, fake) if c is not None else None for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0).astype("int32"),
                    "feat": feats,
                }
            )

    return (
        df.filter(F.col("mime").startswith("image/"))  # pushdown BEFORE decode
        .select("media_id", "mime", "content")
        .mapInPandas(_extract, IMAGE_FEATURES_DDL)
    )

