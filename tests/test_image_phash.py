"""Perceptual-hash image near-dup (r10, VERDICT r9 item 7):

* RE-ENCODED COPY property: the same pixels decoded from a BMP and
  from a PNG produce IDENTICAL aHash and dHash bits — the hash sees
  the decoded luma plane, never container bytes;
* image_near_dup_pairs finds exact copies (hamming 0) and light
  perturbations (small hamming), not unrelated images;
* dHash is invariant to a global brightness shift (gradient signs
  unchanged), aHash to a constant image's re-encode;
* validations fail loud.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("image-phash")
    return _spark


def _mk_bmp(w, h, gray_pixels):
    stride = (w * 3 + 3) // 4 * 4
    data = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            g = gray_pixels[y * w + x]
            row += bytes([g, g, g])
        row += b"\x00" * (stride - len(row))
        data += row
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0
    )
    off = 14 + len(info)
    return (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + info + bytes(data)
    )


def _mk_png_gray(w, h, gray_pixels):
    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    sl = b"".join(
        b"\x00" + bytes(gray_pixels[y * w:(y + 1) * w]) for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(sl))
        + chunk(b"IEND", b"")
    )


def _gradient(w, h, seed=0, bump=()):
    px = [((x * 7 + y * 13 + seed) % 200 + 20) for y in range(h)
          for x in range(w)]
    for i in bump:
        px[i] = 255
    return px


def test_reencoded_copy_hashes_identically():
    """The brief's property test: decode the SAME pixels from a BMP and
    a PNG; aHash and dHash bits must be identical (gray BMP luma of
    (g,g,g) is g — identical planes by construction)."""
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    spark = _get_spark()
    w, h = 16, 16
    px = _gradient(w, h, seed=3, bump=(5, 40, 200))
    df = spark.createDataFrame(
        [(1, bytearray(_mk_bmp(w, h, px))),],
        "doc_id long, payload binary",
    )
    bmp = mm.decode_image(df, codec="bmp")
    png_df = spark.createDataFrame(
        [(1, bytearray(_mk_png_gray(w, h, px)))],
        "doc_id long, payload binary",
    )
    png = mm.decode_image(png_df, codec="png")

    def hashes(dec):
        r = dec.select(
            mm.ahash_bits("pixels", "width", "height").alias("a"),
            mm.dhash_bits("pixels", "width", "height").alias("d"),
        ).collect()[0]
        return list(r["a"]), list(r["d"])

    a_bmp, d_bmp = hashes(bmp)
    a_png, d_png = hashes(png)
    assert a_bmp == a_png and d_bmp == d_png
    assert len(a_bmp) == 64 and set(a_bmp) <= {0, 1}
    assert sum(a_bmp) > 0 and sum(a_bmp) < 64  # non-degenerate


def test_dhash_brightness_invariant():
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    spark = _get_spark()
    w = h = 16
    base = _gradient(w, h, seed=1)
    brighter = [min(255, p + 30) for p in base]
    df = spark.createDataFrame(
        [(1, w, h, base), (2, w, h, brighter)],
        "doc_id long, width int, height int, pixels array<int>",
    )
    rows = {r["doc_id"]: list(r["d"]) for r in df.select(
        "doc_id", mm.dhash_bits("pixels", "width", "height").alias("d")
    ).collect()}
    assert rows[1] == rows[2]


def test_image_near_dup_pairs_end_to_end():
    """Exact copy -> hamming 0; light perturbation -> small hamming;
    unrelated image absent. Both methods."""
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    spark = _get_spark()
    w = h = 16
    base = _gradient(w, h, seed=5)
    near = list(base)
    near[17] = 255  # one hot pixel: flips at most a few sample bits
    other = [((x * 31 + y * 3) % 251) for y in range(h) for x in range(w)]
    rows = [
        (1, w, h, base),
        (2, w, h, list(base)),   # exact copy
        (3, w, h, near),
        (4, w, h, other),
    ]
    decoded = spark.createDataFrame(
        rows, "doc_id long, width int, height int, pixels array<int>"
    )
    for method in ("ahash", "dhash"):
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in mm.image_near_dup_pairs(decoded, method=method).collect()
        }
        assert got.get((1, 2)) == 0, (method, got)
        assert (1, 3) in got and got[(1, 3)] <= 6, (method, got)
        assert not any(4 in p for p in got), (method, got)


def test_image_near_dup_validations():
    import pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    spark = _get_spark()
    decoded = spark.createDataFrame(
        [(1, 2, 2, [1, 2, 3, 4])],
        "doc_id long, width int, height int, pixels array<int>",
    )
    with pytest.raises(ValueError, match="method"):
        mm.image_near_dup_pairs(decoded, method="phash")
    with pytest.raises(ValueError, match="bands"):
        mm.image_near_dup_pairs(decoded, bands=5)
    with pytest.raises(ValueError, match="oversize"):
        mm.image_near_dup_pairs(decoded, oversize="sample")
    with pytest.raises(ValueError, match="max_bucket_size"):
        from pyspark.sql import Observation

        mm.image_near_dup_pairs(
            decoded, observation=Observation("x"), max_bucket_size=None
        )


def test_image_near_dup_star_mode_telemetry():
    """The shared bucket core carries the star/cap telemetry through the
    image path too: a boilerplate clique above the cap stars instead of
    dropping, counted under lsh_starred_rows."""
    import warnings

    from pyspark.sql import Observation

    from gene_level_metadata_pipeline_spark.operators import dedup
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    spark = _get_spark()
    w = h = 8
    flat = _gradient(w, h, seed=9)
    rows = [(i, w, h, list(flat)) for i in range(1, 9)]  # 8 identical
    rows += [(100, w, h, _gradient(w, h, seed=77))]
    decoded = spark.createDataFrame(
        rows, "doc_id long, width int, height int, pixels array<int>"
    )
    obs = Observation("img_star")
    out = mm.image_near_dup_pairs(
        decoded, max_bucket_size=4, observation=obs, oversize="star"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    # hub star: 1 paired with each of 2..8, all hamming 0
    assert pairs == {(1, i) for i in range(2, 9)}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = dedup.warn_capped_buckets(obs)
    assert n == 8 * 4 and "starred" in str(caught[0].message)


def test_staged_ahash_path_equals_one_expression_form():
    """image_near_dup_pairs' staged ahash (sample+total materialized
    behind a checkpoint so the bit comparison reads attributes — the
    r10 interpreted-HOF hot-spot fix) must be BIT-IDENTICAL to the
    public one-expression ahash_bits on random frames, including
    non-divisible sample strides."""
    import hashlib

    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        _ahash_sample,
        ahash_bits,
    )

    spark = _get_spark()
    rows = []
    for did in range(40):
        w, h = (16, 8) if did % 2 == 0 else (13, 9)  # odd strides too
        px = [
            int(hashlib.md5(f"{did}:{i}".encode()).hexdigest()[:2], 16)
            for i in range(w * h)
        ]
        rows.append((did, w, h, px))
    df = spark.createDataFrame(
        rows, "doc_id bigint, width int, height int, pixels array<int>"
    )
    one = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", ahash_bits("pixels", "width", "height").alias("b")
        ).collect()
    }
    smpt = df.select(
        "doc_id",
        _ahash_sample(F.col("pixels"), F.col("width"), F.col("height")).alias(
            "__smp"
        ),
    ).select(
        "doc_id",
        "__smp",
        F.aggregate(
            F.col("__smp"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint"),
        ).alias("__tot"),
    ).localCheckpoint(eager=False)
    staged = {
        r["doc_id"]: r["b"]
        for r in smpt.select(
            "doc_id",
            F.transform(
                F.col("__smp"),
                lambda x: F.when(
                    x.cast("bigint") * 64 > F.col("__tot"), F.lit(1)
                ).otherwise(F.lit(0)),
            ).alias("b"),
        ).collect()
    }
    assert one == staged
