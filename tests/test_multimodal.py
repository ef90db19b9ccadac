"""Multimodal operators under degenerate payloads: every per-payload
operator keeps its key and quarantines what it cannot decode, one bad
row never kills the batch, and an all-bad batch returns cleanly."""

import pytest
from pyspark.sql import types as T

from from_superset_to_clickhouse_spark.operators import multimodal as mm

PAYLOADS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

# (operator, fixture generator that yields a payload the operator decodes)
PER_PAYLOAD = [
    (mm.image_dims, mm.synthesize_images),
    (mm.image_pixel_stats, mm.synthesize_pixel_images),
    (mm.audio_meta, mm.synthesize_audio),
    (mm.audio_features, mm.synthesize_tones),
    (mm.audio_spectrum, mm.synthesize_tones),
    (mm.audio_features_g711, mm.synthesize_g711_tones),
    (mm.audio_vad, mm.synthesize_vad_clips),
    (mm.video_meta, mm.synthesize_video),
    (mm.video_frame_index, mm.synthesize_mp4_tracks),
    (mm.exif_metadata, mm.synthesize_exif_images),
    (mm.webp_metadata, mm.synthesize_webp_images),
    (
        lambda df: mm.downsample_images(df, 2),
        lambda df, c: mm.synthesize_pixel_images(df, c, even_dims=True),
    ),
    (mm.equalize_images, mm.synthesize_pixel_images),
    (mm.decimate_audio, mm.synthesize_aligned_tones),
]


def _valid_payload(spark, synth, doc_id=7):
    ids = spark.range(doc_id, doc_id + 1).withColumnRenamed("id", "i")
    return synth(ids, "i").select("payload").first()[0]


@pytest.mark.parametrize(
    "op,synth",
    PER_PAYLOAD,
    ids=[
        "image_dims", "image_pixel_stats", "audio_meta", "audio_features",
        "audio_spectrum", "audio_features_g711", "audio_vad", "video_meta",
        "video_frame_index", "exif_metadata", "webp_metadata",
        "downsample_images", "equalize_images", "decimate_audio",
    ],
)
def test_degenerate_payloads_quarantine(spark, op, synth):
    valid = _valid_payload(spark, synth)
    # one partition -> one Arrow batch holding every case side by side
    df = spark.createDataFrame(
        [(1, valid), (2, None), (3, b""), (4, b"junk")], PAYLOADS
    ).coalesce(1)
    alone = op(spark.createDataFrame([(1, valid)], PAYLOADS)).collect()
    rows = {r[0]: r for r in op(df).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[1] == alone[0] and rows[1][1] is not None
    for k in (2, 3, 4):
        assert all(v is None for v in rows[k][1:]), rows[k]
    bad = op(df.filter("media_id > 1").coalesce(1)).collect()
    assert sorted(r[0] for r in bad) == [2, 3, 4]


def test_adpcm_decode_drops_corrupt_rows(spark):
    """adpcm_decode's contract drops corrupt rows instead of emitting
    quarantine rows. Every byte string is a valid raw nibble stream, so
    only a NULL stream or an out-of-range step index is corrupt; an
    empty stream decodes to zero samples."""
    ids = spark.range(7, 8).withColumnRenamed("id", "i")
    valid, idx0 = mm.synthesize_adpcm_streams(ids, "i").select(
        "payload", "idx0"
    ).first()
    schema = "media_id long, payload binary, idx0 int"
    df = spark.createDataFrame(
        [(1, valid, idx0), (2, None, idx0), (3, valid, 89), (4, b"", 0)],
        schema,
    ).coalesce(1)
    alone = mm.adpcm_decode(
        spark.createDataFrame([(1, valid, idx0)], schema), idx0_col="idx0"
    ).collect()
    rows = {r[0]: r for r in mm.adpcm_decode(df, idx0_col="idx0").collect()}
    assert sorted(rows) == [1, 4]
    assert rows[1] == alone[0] and rows[1]["n_samples"] == 16
    assert rows[4]["n_samples"] == 0 and rows[4]["samples"] == []
    bad = mm.adpcm_decode(df.filter("media_id in (2, 3)"), idx0_col="idx0")
    assert bad.collect() == []
