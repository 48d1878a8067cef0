"""Multimodal plumbing: binary media columns round-trip through real Spark
(mapInPandas generation → parquet → Arrow-batch feature extraction) with
deterministic results at any parallelism; the real decoder is stubbed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bb_ocr_spark.sources.media import (
    decode_image,
    extract_image_features,
    fake_decode,
    fake_encode,
    generate_media_df,
    have_real_decoder,
    resize_stub,
)


def test_fake_codec_roundtrip():
    b = fake_encode("media://d/1", 20, 10)
    w, h, arr = fake_decode(b)
    assert (w, h) == (20, 10) and arr.shape == (10, 20)
    assert fake_encode("media://d/1", 20, 10) == b  # deterministic


def test_decoder_stubbed():
    if not have_real_decoder():
        with pytest.raises(NotImplementedError):
            decode_image(b"\xff\xd8\xff")


def test_media_pipeline(spark, tmp_path):
    refs = spark.createDataFrame(
        [(f"media://doc{i}/{j}",) for i in range(20) for j in range(3)],
        "media_ref string",
    )
    media = generate_media_df(spark, refs)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 60
    assert dict(back.dtypes)["content"] == "binary"

    feats = extract_image_features(back)
    rows = {r["media_ref"]: r for r in feats.collect()}
    assert len(rows) == 60
    r = rows["media://doc0/0"]
    assert r["width"] >= 16 and 0 <= r["mean_val"] <= 255
    assert sum(r["histogram"]) == r["width"] * r["height"]

    # determinism across parallelism: features at 1 partition == 8 partitions
    feats1 = {
        r["media_ref"]: (r["mean_val"], r["std_val"], r["edge_energy"])
        for r in extract_image_features(back.repartition(1)).collect()
    }
    feats8 = {
        r["media_ref"]: (r["mean_val"], r["std_val"], r["edge_energy"])
        for r in extract_image_features(back.repartition(8)).collect()
    }
    assert feats1 == feats8

    # metadata-only stage must prune the binary column from the scan
    meta_stage = resize_stub(back, max_side=32).select(
        "media_ref", "resize_ratio", "target_width", "target_height"
    )
    scan = meta_stage._jdf.queryExecution().executedPlan().toString()
    assert "content" not in scan.split("ReadSchema")[-1], "binary column not pruned"
    small = meta_stage.filter(F.col("resize_ratio") < 1.0).collect()
    for r in small:
        assert max(r["target_width"], r["target_height"]) <= 32
