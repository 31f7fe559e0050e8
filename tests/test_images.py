"""Image codec + per-row payload verification (M4, input_hint invariant)."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitextor_spark.config import CrawlConfig, WorldConfig
from bitextor_spark.functions.images import (
    decode_image,
    encode_image,
    make_image_row,
    phash64,
    png_decode,
    png_encode,
    psnr_db,
    reference_caption,
    reference_pixels,
)
from bitextor_spark.frontier.engine import FrontierEngine
from bitextor_spark.frontier.world import small_world, world_to_dfs


def test_png_roundtrip_exact():
    px = reference_pixels("img_x", 37, 23)
    assert np.array_equal(decode_image(png_encode(px)), px)


def test_lossy_roundtrip_psnr_above_gate():
    px = reference_pixels("img_y", 64, 48)
    decoded = decode_image(encode_image(px, "jpeg"))
    assert not np.array_equal(decoded, px)  # it IS lossy
    assert psnr_db(decoded, px) >= 40.0


def test_phash_stable_and_discriminative():
    a = phash64(reference_pixels("img_a", 32, 32))
    assert a == phash64(reference_pixels("img_a", 32, 32))
    b = phash64(reference_pixels("img_b", 32, 32))
    assert a != b


def test_make_image_row_deterministic():
    r1, r2 = make_image_row("img_42"), make_image_row("img_42")
    assert r1 == r2
    assert r1["caption"] == reference_caption("img_42")


def test_engine_payload_verification(spark):
    """Full wave with verification on: clean payloads pass; a corrupted blob
    and a wrong caption are flagged on exactly their URLs."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    root = tempfile.mkdtemp(prefix="imgverify_")
    try:
        world = small_world(WorldConfig(n_hosts=4, n_pages=60, image_frac=0.9))
        dfs = world_to_dfs(spark, world, with_images=True)
        # corrupt one image's bytes and another's caption
        images = dfs["images"]
        first_two = [r.image_id for r in images.orderBy("image_id").limit(2).collect()]
        bad_bytes, bad_cap = first_two
        images = images.withColumn(
            "bytes",
            F.when(F.col("image_id") == bad_bytes,
                   F.lit(b"\x89PNG\r\n\x1a\nGARBAGE")).otherwise(F.col("bytes")),
        ).withColumn(
            "caption",
            F.when(F.col("image_id") == bad_cap, F.lit("tampered")).otherwise(
                F.col("caption")
            ),
        )
        cfg = CrawlConfig(max_epochs=3, max_retries=1, num_host_shards=4)
        eng = FrontierEngine(
            spark, cfg, root, dfs["pages"], dfs["robots"], dfs["seeds"],
            images=images,
        )
        eng.run(max_epochs=3)
        log = eng.fetch_log().collect()
        id_of = {p.url_canon: p.image_id for p in world.pages.values()}
        checked = [r for r in log if r.bytes_ok is not None]
        assert checked, "no payloads verified"
        for r in checked:
            iid = id_of[r.url_canon]
            assert r.bytes_ok == (iid != bad_bytes), (iid, r.bytes_ok)
            assert r.caption_ok == (iid != bad_cap), (iid, r.caption_ok)
        # the results ride the fetch log: no side table
        assert "fetch_verify" not in eng.catalog.load_manifest()["tables"]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        shutil.rmtree(root, ignore_errors=True)
