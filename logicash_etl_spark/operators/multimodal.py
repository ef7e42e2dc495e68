"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (beyond-reference scope, SURVEY.md section 7 north star).

Convention: a modality column is a struct
  { data: binary, mime: string, meta: map<string,string> }
so 100 TB of media rides the same parquet/shuffle machinery as any
other column — Spark never interprets the bytes until an operator
asks. Decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` so bytes cross the Python boundary once
per batch, not per row.

Decode kernels auto-select: PIL when importable, else a deterministic
fake decoder (this container has no codecs). The Spark-side plumbing —
schema, batching, partition sizing, UDF signatures — is identical for
both and tested with an injected custom kernel as well.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_media(df: DataFrame, data_col: str, mime: str) -> DataFrame:
    """Wrap a raw binary column into the ``media`` struct convention."""
    return df.withColumn(
        "media",
        F.struct(
            F.col(data_col).cast("binary").alias("data"),
            F.lit(mime).alias("mime"),
            F.create_map().cast("map<string,string>").alias("meta"),
        ),
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Cheap JVM-side metadata: byte length + content digest — no
    Python, no decode; this is what dedup/partitioning key off."""
    return df.withColumn("media_bytes", F.length(F.col("media.data"))).withColumn(
        "media_sha256", F.sha2(F.col("media.data"), 256)
    )


def _fake_image_decode(data: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for a real decoder: derives (width,
    height, format) from a content digest. Used only when no real
    codec is importable."""
    if data is None:
        raise ValueError("no bytes")
    h = hashlib.sha256(data).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64, "png" if h[2] % 2 else "jpeg"


def _pil_image_decode(data: bytes) -> tuple[int, int, str]:
    """Real decode kernel: PIL header parse (lazy import so the probe
    runs in the worker process that executes the batch)."""
    import io

    import PIL.Image

    with PIL.Image.open(io.BytesIO(data)) as img:
        return img.width, img.height, (img.format or "unknown").lower()


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _select_kernel():
    """Real codec when importable, deterministic fake otherwise — the
    fake is the fallback, never the override."""
    return _pil_image_decode if _pil_available() else _fake_image_decode


IMAGE_META_SCHEMA = "id long, width int, height int, format string, media_bytes long"


def decode_image_meta(
    df: DataFrame,
    id_col: str = "id",
    kernel=None,
) -> DataFrame:
    """Decode image dimensions via Arrow-batched mapInPandas.

    Plumbing is real: one Python roundtrip per Arrow batch, schema
    declared, nulls preserved. The decode kernel auto-selects — PIL
    when importable, else the deterministic stub — or inject one via
    ``kernel`` (a ``bytes -> (width, height, format)`` callable; the
    tests use this to drive the plumbing with a custom codec).
    """
    kernel = kernel or _select_kernel()
    cols = df.select(F.col(id_col).alias("id"), F.col("media.data").alias("data"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"id": [], "width": [], "height": [], "format": [], "media_bytes": []}
            for i, data in zip(pdf["id"], pdf["data"]):
                # NULL media: emit the row with null metadata — the
                # "nulls preserved" contract; calling the kernel on
                # None would kill the whole Python worker for one
                # bad row
                if data is None:
                    w, h, fmt, nb = None, None, None, None
                else:
                    w, h, fmt = kernel(bytes(data))
                    nb = len(data)
                out["id"].append(i)
                out["width"].append(w)
                out["height"].append(h)
                out["format"].append(fmt)
                out["media_bytes"].append(nb)
            yield pd.DataFrame(
                {
                    "id": pd.array(out["id"], dtype="Int64"),
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                    "format": out["format"],
                    "media_bytes": pd.array(out["media_bytes"], dtype="Int64"),
                }
            )

    return cols.mapInPandas(batches, schema=IMAGE_META_SCHEMA)


def frame_sample_plan(
    df: DataFrame, id_col: str = "id", every_n: int = 10
) -> DataFrame:
    """Video frame-sampling *plan*: emits (id, frame_idx) rows the
    decoder would materialize — demonstrates the explode/partition
    shape (1 video row -> k frame rows) without a codec. Frame count
    is derived from byte length as a deterministic stand-in."""
    n_frames = (F.length(F.col("media.data")) / 100).cast("int") + 1
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )


def _fake_pixel_grid(data: bytes, w: int = 9, h: int = 8) -> list[int]:
    """Deterministic stand-in for decode+resize: w*h grayscale pixels
    derived from a counter-mode sha256 stream of the content — byte-
    identical media always produce the same grid (so dHash finds true
    content dups), distinct media get ~independent grids. Used only
    when no real codec is importable."""
    out: list[int] = []
    i = 0
    while len(out) < w * h:
        out.extend(hashlib.sha256(data + i.to_bytes(4, "big")).digest())
        i += 1
    return out[: w * h]


def _pil_pixel_grid(data: bytes, w: int = 9, h: int = 8) -> list[int]:
    """Real kernel: decode, resize to (w, h), grayscale pixel list."""
    import io

    import PIL.Image

    with PIL.Image.open(io.BytesIO(data)) as img:
        return list(img.convert("L").resize((w, h)).getdata())


def _dhash64(grid: list[int], w: int = 9, h: int = 8) -> int:
    """Difference hash: bit (r*8 + c) = 1 iff pixel(r,c) < pixel(r,c+1)
    — 8 rows x 8 horizontal gradients = 64 bits, robust to global
    brightness/scale changes on real images."""
    v = 0
    for r in range(h):
        for c in range(w - 1):
            if grid[r * w + c] < grid[r * w + c + 1]:
                v |= 1 << (r * (w - 1) + c)
    # two's-complement into a signed 64-bit long for the JVM
    return v - (1 << 64) if v >= (1 << 63) else v


def phash_image(
    df: DataFrame,
    id_col: str = "id",
    pixel_kernel=None,
) -> DataFrame:
    """Perceptual (difference) hash per media row -> (id, phash long),
    via Arrow-batched mapInPandas — bytes cross the Python boundary
    once per batch. Kernel auto-selects (PIL resize when importable,
    deterministic fake grid otherwise) or inject via ``pixel_kernel``
    (``bytes -> list[int]`` of 72 grayscale values).

    Feed the result to
    :func:`~logicash_etl_spark.operators.dedup.banded_hamming_pairs`
    for near-dup pairs — the image-side twin of SimHash text dedup.
    """
    if pixel_kernel is None:
        pixel_kernel = _pil_pixel_grid if _pil_available() else _fake_pixel_grid

    cols = df.select(F.col(id_col).alias("id"), F.col("media.data").alias("data"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, data in zip(pdf["id"], pdf["data"]):
                ids.append(i)
                # NULL media has no perceptual content: null phash
                # (downstream banding joins never match NULL keys, so
                # such rows pair with nothing — mirrored by the SQL
                # oracle's NULL-never-equals join semantics)
                hashes.append(
                    None if data is None
                    else _dhash64(pixel_kernel(bytes(data)))
                )
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="Int64"),
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    return cols.mapInPandas(batches, schema="id long, phash long")


def audio_chunk_plan(
    df: DataFrame,
    id_col: str = "id",
    sample_rate: int = 16_000,
    bytes_per_sample: int = 2,
    channels: int = 1,
    chunk_seconds: float = 1.0,
) -> DataFrame:
    """Audio chunking *plan*: emits one row per fixed-duration chunk
    (id, chunk_idx, start_sample, n_samples) from declared PCM
    parameters — the explode/partition shape audio feature extraction
    fans out over (1 clip row -> k chunk rows), computed entirely from
    byte length: JVM arithmetic, zero decode, zero Python.

    A real pipeline feeds the chunk rows to an Arrow-batched decoder
    kernel exactly like ``decode_image_meta`` does for images; the
    plan itself is what determines shuffle volume and partition
    sizing at 100 TB, so it is the part that must stay map-only.
    Clips shorter than one chunk still emit their single partial
    chunk; zero-byte clips emit none."""
    frame_bytes = bytes_per_sample * channels
    n_samples = (F.length(F.col("media.data")) / frame_bytes).cast("bigint")
    chunk_samples = int(sample_rate * chunk_seconds)
    n_chunks = F.ceil(n_samples / F.lit(chunk_samples)).cast("bigint")
    start = F.col("chunk_idx") * chunk_samples
    return (
        df.select(
            F.col(id_col).alias("id"),
            n_samples.alias("__n"),
            F.explode(
                F.when(
                    n_chunks > 0, F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("chunk_idx"),
        )
        .select(
            "id",
            "chunk_idx",
            start.alias("start_sample"),
            F.least(F.lit(chunk_samples).cast("bigint"), F.col("__n") - start).alias(
                "n_samples"
            ),
        )
    )
