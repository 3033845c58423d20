"""Multimodal columns: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column (or a (path, offset, length) pointer into object
storage), metadata is typed columns, and decode/feature-extraction is
an Arrow-batched ``mapInPandas`` stage so the heavy Python work sees
whole record batches, never single rows.

The decode libraries (PIL/ffmpeg/etc.) are NOT in this image, so the
actual decode is stubbed: ``extract_binary_features`` computes
deterministic features from the raw bytes (size + md5), so the Spark
plumbing — schema, Arrow batch shape, partition-parallel execution —
is real and testable; a real decoder plugs into the same
``mapInPandas`` stage. ``frame_sample`` is the video-frame expansion
as a narrow generate, and ``documents_as_media`` adapts the corpus
documents to this payload shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, n_bytes int, content_id string"


def extract_binary_features(
    media: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-record features from a binary column via mapInPandas.

    Each Arrow batch arrives as a pandas DataFrame; features are
    computed vectorized per batch. Partition-parallel, no shuffle.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payload = pdf[payload_col]
            # a NULL payload (e.g. NULL source text) must surface as
            # NULL features, not crash the int cast — mirror SQL's
            # octet_length(NULL)/md5(NULL) semantics
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payload.str.len().astype("Int32"),
                    "content_id": payload.map(
                        lambda b: None
                        if b is None
                        else hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return media.select(id_col, payload_col).mapInPandas(_extract, FEATURE_SCHEMA)


def frame_sample(
    media: DataFrame,
    frame_bytes: int = 256,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-sampling plumbing: expand each payload into fixed-stride
    frames — (doc_id, frame_idx, frame_off, frame) — via posexplode of
    a computed offset sequence. This is the VIDEO pattern at 100 TB:
    the expansion is a narrow generate (no shuffle), frames flow to a
    per-frame decode/feature stage (stubbed here exactly as in
    :func:`extract_binary_features`), and downstream partitioning is
    by (doc, frame) for per-frame parallelism.

    Payloads shorter than one frame stride yield no frames (matching a
    video shorter than one sample interval).
    """
    n_frames = F.floor(F.length(F.col(payload_col)) / F.lit(frame_bytes))
    # sequence(0, -1) counts BACKWARDS in Spark — payloads shorter than
    # one stride must map to an empty frame list explicitly
    idx = F.when(
        n_frames >= 1, F.sequence(F.lit(0).cast("long"), n_frames - 1)
    ).otherwise(F.array().cast("array<long>"))
    return (
        media.select(id_col, payload_col, idx.alias("__idx"))
        .filter(F.size("__idx") > 0)
        .select(
            id_col,
            payload_col,
            F.posexplode("__idx").alias("frame_idx", "__i"),
        )
        .select(
            F.col(id_col),
            F.col("frame_idx").cast("int").alias("frame_idx"),
            (F.col("frame_idx") * frame_bytes).cast("long").alias("frame_off"),
            F.substring(
                F.col(payload_col),
                (F.col("frame_idx") * frame_bytes + 1).cast("int"),
                frame_bytes,
            ).alias("frame"),
        )
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat documents.text bytes as an opaque payload so the
    multimodal plumbing is exercised against the driver corpus."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
