"""Multimodal plumbing tests: binary struct columns, JVM-side stats,
Arrow-batched decode (stub kernel), frame-sample explode shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from logicash_etl_spark.operators.multimodal import (
    decode_image_meta,
    frame_sample_plan,
    media_stats,
    pack_media,
)
from logicash_etl_spark.sources.readers import read_table


def _media_df(spark, sf_smoke):
    """Synthesize binary media from document text (deterministic)."""
    docs = read_table(spark, sf_smoke, "documents").limit(50)
    raw = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    return pack_media(raw, "blob", "image/fake")


def test_pack_and_stats(spark, sf_smoke):
    m = media_stats(_media_df(spark, sf_smoke))
    rows = m.select("doc_id", "media_bytes", "media_sha256").collect()
    assert all(r.media_bytes > 0 for r in rows)
    assert all(len(r.media_sha256) == 64 for r in rows)
    # struct schema contract
    f = dict(m.dtypes)["media"]
    assert "data:binary" in f.replace(" ", "") and "meta:map<string,string>" in f.replace(" ", "")


def test_decode_image_meta_batched(spark, sf_smoke):
    m = _media_df(spark, sf_smoke)
    meta = decode_image_meta(m)
    rows = meta.collect()
    assert len(rows) == 50
    for r in rows:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert r.format in ("png", "jpeg")
        assert r.media_bytes > 0
    # deterministic: re-run yields identical metadata
    again = {r.id: (r.width, r.height, r.format) for r in decode_image_meta(m).collect()}
    first = {r.id: (r.width, r.height, r.format) for r in rows}
    assert first == again


def test_frame_sample_plan(spark, sf_smoke):
    m = _media_df(spark, sf_smoke)
    plan = frame_sample_plan(m)
    agg = plan.groupBy("id").agg(F.count("*").alias("n"), F.max("frame_idx").alias("mx"))
    for r in agg.collect():
        assert r.n >= 1
        assert r.mx % 10 == 0


def test_decode_with_injected_kernel(spark, sf_smoke):
    """End-to-end plumbing with the kernel the batch function ships to
    the workers: each row that crosses the Arrow batch boundary comes
    back with exactly what the kernel gives its bytes."""
    from logicash_etl_spark.operators.multimodal import _fake_image_decode

    m = _media_df(spark, sf_smoke)
    blobs = {r.doc_id: bytes(r.media.data) for r in m.select("doc_id", "media").collect()}
    rows = decode_image_meta(m).collect()
    assert len(rows) == 50
    for r in rows:
        assert (r.width, r.height, r.format) == _fake_image_decode(blobs[r.id])
        assert r.media_bytes == len(blobs[r.id])


def test_phash_brightness_invariance_and_determinism(spark):
    """dHash contract: a global brightness shift flips no gradient, so
    the hash is identical; byte-identical media always hash equal."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.multimodal import (
        _dhash64,
        _fake_pixel_grid,
        pack_media,
        phash_image,
    )

    grid = _fake_pixel_grid(b"some-media-bytes")
    assert _dhash64(grid) == _dhash64([min(p + 10, 255 + 10) for p in grid])

    rows = [(1, b"alpha"), (2, b"beta"), (3, b"alpha")]
    df = pack_media(
        spark.createDataFrame(rows, "doc_id long, blob binary"), "blob", "image/png"
    )
    got = {r.id: r.phash for r in phash_image(df).collect()}
    assert got[1] == got[3] != got[2]


def test_audio_chunk_plan_boundaries(spark):
    """Chunk arithmetic edges: exact-multiple clips have a full tail
    chunk, one-sample clips emit a single 1-sample chunk, zero-byte
    clips emit nothing, and per-clip sample totals are conserved."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.multimodal import audio_chunk_plan, pack_media

    rows = [
        (1, b"\x00" * 640),   # exactly 2 chunks of 160 samples
        (2, b"\x00" * 2),     # 1 sample -> one 1-sample chunk
        (3, b""),             # empty -> no chunks
        (4, b"\x00" * 321),   # 160 samples (floor) + half byte dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    clips = pack_media(df, "blob", "audio/pcm")
    chunks = audio_chunk_plan(clips).collect()
    by_id = {}
    for r in chunks:
        by_id.setdefault(r.id, []).append((r.chunk_idx, r.start_sample, r.n_samples))
    assert by_id[1] == [(0, 0, 160), (1, 160, 160)]
    assert by_id[2] == [(0, 0, 1)]
    assert 3 not in by_id
    assert by_id[4] == [(0, 0, 160)]
