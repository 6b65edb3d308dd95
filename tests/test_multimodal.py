"""Multimodal plumbing tests: media synthesis, decode, features, sniffing."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    df = MM.synthesize_media(spark, SF_DIR).cache()
    df.count()
    return df


def test_media_schema_and_meta(media):
    assert media.schema["blob"].dataType.typeName() == "binary"
    rows = media.collect()
    assert all(MM._decode_img1(bytes(r["blob"]))["width"] == 8 for r in rows)  # 64-dim -> 8x8


def test_media_bad_blob_is_error_row(spark, media):
    import pandas as pd

    bad = spark.createDataFrame(
        [(999, "img1", bytearray(b"NOPE"), ("image/x-img1", 4))],
        media.schema,
    )
    feats = MM.image_features(media.unionByName(bad))
    assert feats.where(F.col("features").isNull()).count() == 1


def test_real_codec_is_stubbed(spark):
    bad = spark.createDataFrame(
        [(1, "image", bytearray(b"\x89PNG..."), ("image/png", 8))],
        "media_id long, kind string, blob binary, meta struct<mime:string, bytes:long>",
    )
    # NotImplementedError inside the codec -> null features, not a crash
    assert MM.image_features(bad).collect()[0]["features"] is None


def test_image_features(media):
    feats = MM.image_features(media)
    rows = feats.collect()
    assert all(r["features"] is not None and len(r["features"]) == 10 for r in rows)


def test_sniff_mime_on_media_and_real_magics(spark):
    from pyspark.sql import functions as F

    from warctools_spark.operators.multimodal import sniff_mime, synthesize_media

    media = synthesize_media(spark, SF_DIR).limit(10)
    sniffed = media.select(sniff_mime("blob").alias("mime")).distinct().collect()
    assert {r["mime"] for r in sniffed} == {"image/x-img1"}

    blobs = spark.createDataFrame(
        [
            (1, bytearray(b"\x89PNG\r\n\x1a\n....")),
            (2, bytearray(b"\xff\xd8\xff\xe0JFIF")),
            (3, bytearray(b"%PDF-1.4 ...")),
            (4, bytearray(b"AUD1\x00\x01 payload")),
            (5, bytearray(b"just plain text")),
        ],
        "i long, blob binary",
    )
    got = {r["i"]: r["mime"] for r in blobs.select("i", sniff_mime("blob").alias("mime")).collect()}
    assert got == {
        1: "image/png",
        2: "image/jpeg",
        3: "application/pdf",
        4: "audio/x-aud1",
        5: "application/octet-stream",
    }
