"""Multimodal image operator plumbing: stats, resize, frame sampling."""

import numpy as np
import pandas as pd
import pytest

from segment_rtree_spark.imageio import decode_image
from segment_rtree_spark.operators.images import (
    resize_images,
    sample_video_frames,
    with_pixel_stats,
)
from segment_rtree_spark.synth import images_df, synth_image


def test_pixel_stats_and_phash_verify(spark):
    imgs = images_df(spark, 60)
    out = with_pixel_stats(imgs).toPandas()
    assert len(out) == 60
    assert out["phash_ok"].all()  # stored phash == recomputed from pixels
    assert out["mean_r"].between(100, 155).all()  # uniform random pixels
    assert (out["luma_std"] > 0).all()


def test_resize_roundtrip(spark):
    imgs = images_df(spark, 12)
    out = resize_images(imgs, 8, 8).toPandas()
    assert (out["w"] == 8).all() and (out["h"] == 8).all()
    # resized pixels equal a local nearest-neighbor resample
    row = out[out["image_id"] == "img000000000000"].iloc[0]
    got = decode_image(bytes(row["bytes"]), "raw", 8, 8)
    w, h, fmt, px, ph, buf = synth_image(0)
    yi = (np.arange(8) * h // 8).astype(int)
    xi = (np.arange(8) * w // 8).astype(int)
    assert np.array_equal(got, px[yi[:, None], xi[None, :]])


def test_video_frame_sampling_fake_codec(spark):
    w = h = 4
    frame = lambda v: bytes([v]) * (w * h * 3)
    pdf = pd.DataFrame(
        {
            "video_id": ["v0"],
            "bytes": [b"".join(frame(i) for i in range(10))],
            "w": np.int32(w),
            "h": np.int32(h),
            "fmt": "fakevid",
        }
    )
    vids = spark.createDataFrame(pdf)
    out = sample_video_frames(vids, every_n=3).toPandas()
    assert out["frame_idx"].tolist() == [0, 3, 6, 9]
    assert bytes(out["bytes"].iloc[1])[0] == 3


def test_video_unknown_codec_raises(spark):
    pdf = pd.DataFrame(
        {"video_id": ["v0"], "bytes": [b"xx"], "w": np.int32(2), "h": np.int32(2), "fmt": "mp4"}
    )
    vids = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        sample_video_frames(vids).collect()


def test_psnr_refine_identical_and_distinct(spark):
    """sse=0 / psnr_ok for a self-pair; cross-engine integer verdict
    logic for a distinct pair (checked against a local recompute)."""
    import numpy as np
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.images import psnr_refine_pairs
    from segment_rtree_spark.synth import images_df_arith, arith_pixels

    imgs = images_df_arith(spark, 4)
    pairs = spark.createDataFrame(
        [("img000000000001", "img000000000001"),
         ("img000000000001", "img000000000002")],
        "id_a string, id_b string",
    )
    rows = {(r["id_a"], r["id_b"]): r for r in psnr_refine_pairs(pairs, imgs).collect()}

    self_pair = rows[("img000000000001", "img000000000001")]
    assert self_pair["sse"] == 0 and self_pair["psnr_ok"]

    px = arith_pixels(np.arange(4)).astype(np.int64)
    want = int(((px[1] - px[2]) ** 2).sum())
    cross = rows[("img000000000001", "img000000000002")]
    assert cross["sse"] == want and cross["n_vals"] == 192
    assert cross["psnr_ok"] == (want * 10000.0 <= 65025.0 * 192)


def test_phash_components_vs_pair_union_find(spark):
    """Cluster labels == union-find over the verified near-dup pair
    list computed on the FULL image set (not just distinct hashes)."""
    from segment_rtree_spark.operators.dedup import (
        phash_components,
        phash_neardup_pairs,
    )
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 300)
    ids = [r["image_id"] for r in imgs.select("image_id").collect()]
    pairs = [
        (r["id_a"], r["id_b"])
        for r in phash_neardup_pairs(imgs, max_hamming=8).collect()
    ]
    parent = {n: n for n in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in ids}

    got = {r["image_id"]: r["component"] for r in phash_components(imgs).collect()}
    assert got == expected


def test_phash_band_count_invariance(spark):
    """When max_hamming < n_bands, pigeonhole guarantees recall for any
    band split — 2x32-bit and 4x16-bit banding must emit the SAME
    verified pair set (the wide-band split is the at-scale choice)."""
    from segment_rtree_spark.operators.dedup import phash_neardup_pairs
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 300)
    p2 = sorted(map(tuple, phash_neardup_pairs(imgs, max_hamming=1, n_bands=2).collect()))
    p4 = sorted(map(tuple, phash_neardup_pairs(imgs, max_hamming=1, n_bands=4).collect()))
    assert p2 == p4
    assert p2, "fixture must produce at least one near-dup pair"


def test_validate_images_error_taxonomy(spark):
    """Clean tables validate ok (incl. phash recompute); each corruption
    class maps to its specific error code — errors are DATA, one bad
    row never kills the job."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.images import validate_images
    from segment_rtree_spark.synth import images_df

    imgs = images_df(spark, 40)
    clean = validate_images(imgs, check_phash=True).collect()
    assert all(r["ok"] and r["err_code"] is None for r in clean)

    base = imgs.limit(6).collect()
    rows = []
    # 0: truncated raw payload
    r = base[0]
    rows.append(("t0", r["bytes"][: len(r["bytes"]) // 2], "raw", r["w"], r["h"], r["phash"]))
    # 1: unknown format (tiff/bmp/gif graduated to real codecs)
    r = base[1]
    rows.append(("t1", r["bytes"], "heic", r["w"], r["h"], r["phash"]))
    # 2: codec-unavailable format (webp graduated to a real codec in r6)
    r = base[2]
    rows.append(("t2", r["bytes"], "mp4", r["w"], r["h"], r["phash"]))
    # 3: png with broken signature
    png = next(x for x in base if x["fmt"] == "png")
    rows.append(("t3", b"\x00" * 8 + png["bytes"][8:], "png", png["w"], png["h"], png["phash"]))
    # 4: png with corrupted IDAT stream
    buf = bytearray(png["bytes"])
    buf[40:48] = b"\x00" * 8
    rows.append(("t4", bytes(buf), "png", png["w"], png["h"], png["phash"]))
    # 5: wrong stored phash
    r = next(x for x in base if x["fmt"] == "raw")
    rows.append(("t5", r["bytes"], "raw", r["w"], r["h"], r["phash"] ^ 1))

    bad = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, phash long"
    )
    got = {r["image_id"]: r for r in validate_images(bad, check_phash=True).collect()}
    assert got["t0"]["err_code"] == "TruncatedPayload"
    assert got["t1"]["err_code"] == "UnknownFormat"
    assert got["t2"]["err_code"] == "CodecUnavailable"
    assert got["t3"]["err_code"] == "BadSignature"
    assert got["t4"]["err_code"] == "CorruptStream"
    assert got["t5"]["err_code"] == "PhashMismatch"
    assert not any(r["ok"] for r in got.values())

    # NULLs are data too: a NULL payload or NULL metadata must emit an
    # error row, never kill the task
    nulls = spark.createDataFrame(
        [("n0", None, "raw", 8, 8, 1), ("n1", b"xx", None, 8, 8, 1)],
        "image_id string, bytes binary, fmt string, w int, h int, phash long",
    )
    gn = {r["image_id"]: r for r in validate_images(nulls, check_phash=True).collect()}
    assert gn["n0"]["err_code"] == "NullPayload"
    assert gn["n1"]["err_code"] == "NullMetadata"


def _stored_phash_cases(spark, imgs):
    """Three rows of `imgs` in one partition: "same" keeps its stored
    phash, "null" has none, "off" stores its hash ^ 1, a hash beyond
    2^53 so float64 could not tell the two apart."""
    base = imgs.orderBy("image_id").limit(8).collect()
    wide = next(r for r in base if abs(r["phash"]) > 2**54)
    same, null = [r for r in base if r is not wide][:2]
    rows = [("same", same, same["phash"]), ("null", null, None),
            ("off", wide, wide["phash"] ^ 1)]
    return spark.createDataFrame(
        [(i, r["bytes"], r["fmt"], r["w"], r["h"], ph) for i, r, ph in rows],
        "image_id string, bytes binary, fmt string, w int, h int, phash long",
    ).coalesce(1)


def test_null_and_wide_stored_phash(spark):
    """A NULL stored phash is no verdict (phash_ok NULL, validation ok),
    never a failed task, and a stored hash beyond 2^53 beside it in one
    Arrow batch is still compared exactly."""
    from segment_rtree_spark.operators.images import (
        validate_images,
        with_pixel_stats_exact,
    )
    from segment_rtree_spark.synth import images_df_arith

    want = {"same": True, "null": None, "off": False}
    df = _stored_phash_cases(spark, images_df(spark, 8))
    got = {r["image_id"]: r["phash_ok"] for r in with_pixel_stats(df).collect()}
    assert got == want
    arith = _stored_phash_cases(spark, images_df_arith(spark, 8))
    got = {r["image_id"]: r["phash_ok"] for r in with_pixel_stats_exact(arith).collect()}
    assert got == want
    got = {r["image_id"]: r["err_code"]
           for r in validate_images(df, check_phash=True).collect()}
    assert got == {"same": None, "null": None, "off": "PhashMismatch"}


def test_validate_nonpositive_dims_both_tiers(spark):
    """w=-1,h=-1 with 3 payload bytes satisfies length==w*h*3 but can
    never reshape to (h,w,3): the Catalyst fast path and the kernel
    path must agree on DimensionMismatch (ADVICE r3)."""
    from segment_rtree_spark.operators.images import (
        IMG_ERR_DIMENSION_MISMATCH,
        validate_images,
    )

    rows = [
        ("neg", bytearray(b"abc"), "raw", -1, -1, 7),
        ("zero", bytearray(b""), "raw", 0, 5, 7),
        ("good", bytearray(b"abc"), "raw", 1, 1, 7),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, phash long"
    )
    for check_phash in (False, True):
        got = {
            r["image_id"]: (r["ok"], r["err_code"])
            for r in validate_images(df, check_phash=check_phash).collect()
        }
        assert got["neg"] == (False, IMG_ERR_DIMENSION_MISMATCH)
        assert got["zero"] == (False, IMG_ERR_DIMENSION_MISMATCH)
        assert got["good"][0] is (not check_phash) or got["good"][0]
    # clean raw row stays valid on the pure-Catalyst tier
    clean = validate_images(df.filter("image_id = 'good'")).collect()[0]
    assert clean["ok"] and clean["err_code"] is None


def test_png_interop_with_jvm_encoder(spark):
    """An externally-encoded PNG (javax.imageio writer: its own chunk
    layout, compression level, and filter schedule) must decode
    BIT-EXACTLY here — PNG is lossless, so external-encoder ingest has
    no error tolerance to hide behind. (This JVM's writer happens to
    emit filter 0; filters 1-4 are covered exhaustively by the
    hand-filtered fixtures in test_png_defilter_all_types.)"""
    jvm = spark.sparkContext._jvm
    rng = np.random.default_rng(9)
    h, w = 24, 33
    # smooth gradient + noise: drives adaptive filter pickers to mix types
    grad = (np.add.outer(np.arange(h) * 3, np.arange(w) * 2) % 256)
    px = np.stack(
        [grad, (grad * 2) % 256, rng.integers(0, 256, size=(h, w))], axis=-1
    ).astype(np.uint8)
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    for y in range(h):
        for x in range(w):
            bi.setRGB(x, y, int((int(px[y, x, 0]) << 16)
                                | (int(px[y, x, 1]) << 8) | int(px[y, x, 2])))
    bos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "png", bos)
    buf = bytes(bos.toByteArray())
    got = decode_image(buf, "png", w, h)
    assert (got == px).all()


def test_validate_spec_invalid_png_is_corrupt_stream(spark):
    """A spec-INVALID PNG (depth/type combination the RFC forbids,
    e.g. 16-bit palette) classifies CorruptStream — with full color
    type/depth/interlace coverage in the decoder, the only PNGs left
    undecodable are broken ones."""
    import struct
    import zlib

    from segment_rtree_spark.operators.images import validate_images

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    h = w = 4
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 3, 0, 0, 0)  # 16-bit palette
    raw = bytes(h * (1 + w * 2))
    buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    pdf = pd.DataFrame(
        {"image_id": ["bad16p"], "bytes": [buf],
         "w": np.int32(w), "h": np.int32(h), "fmt": "png"}
    )
    row = validate_images(spark.createDataFrame(pdf)).collect()[0]
    assert not row["ok"]
    assert row["err_code"] == "CorruptStream"
    assert "16/3" in row["err_detail"]


def test_png_external_encoder_variants(spark):
    """javax.imageio-encoded PNGs in the shapes a crawl actually
    yields — grayscale (color type 0), RGBA (type 6), and
    PROGRESSIVE/Adam7 truecolor — all decode bit-exactly under the
    documented conversion (gray replicated, alpha stripped). PNG is
    lossless: no tolerance."""
    jvm = spark.sparkContext._jvm
    h, w = 20, 15
    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)

    # progressive (Adam7) truecolor via ImageWriteParam
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    for y in range(h):
        for x in range(w):
            bi.setRGB(x, y, int((int(px[y, x, 0]) << 16)
                                | (int(px[y, x, 1]) << 8) | int(px[y, x, 2])))
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    param = wr.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.flush()
    buf = bytes(bos.toByteArray())
    i = buf.find(b"IHDR")
    assert buf[i + 4 + 12] == 1, "writer must emit an interlaced stream"
    assert (decode_image(buf, "png", w, h) == px).all()

    # grayscale (TYPE_BYTE_GRAY, raster samples = exact gray values)
    g = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    bg = jvm.java.awt.image.BufferedImage(w, h, 10)
    ras = bg.getRaster()
    for y in range(h):
        for x in range(w):
            ras.setSample(x, y, 0, int(g[y, x]))
    bos2 = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bg, "png", bos2)
    buf2 = bytes(bos2.toByteArray())
    i = buf2.find(b"IHDR")
    assert buf2[i + 4 + 9] == 0, "writer must emit color type 0"
    got = decode_image(buf2, "png", w, h)
    assert (got[:, :, 0] == g).all() and (got[:, :, 0] == got[:, :, 2]).all()

    # RGBA (TYPE_INT_ARGB with non-opaque alpha): alpha stripped
    ba = jvm.java.awt.image.BufferedImage(w, h, 2)
    for y in range(h):
        for x in range(w):
            v = ((200 << 24) | (int(px[y, x, 0]) << 16)
                 | (int(px[y, x, 1]) << 8) | int(px[y, x, 2]))
            ba.setRGB(x, y, v - (1 << 32) if v >= (1 << 31) else v)
    bos3 = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(ba, "png", bos3)
    buf3 = bytes(bos3.toByteArray())
    i = buf3.find(b"IHDR")
    assert buf3[i + 4 + 9] == 6, "writer must emit color type 6"
    assert (decode_image(buf3, "png", w, h) == px).all()


def test_bmp_gif_external_encoder_interop(spark):
    """javax.imageio-encoded BMP (its own header/stride choices) and
    GIF (its own REAL LZW compressor + quantized palette) decode
    bit-exactly for palette-sized color sets."""
    jvm = spark.sparkContext._jvm
    h, w = 18, 23
    rng = np.random.default_rng(6)
    colors = rng.integers(0, 256, size=(12, 3)).astype(np.uint8)
    px = colors[rng.integers(0, 12, size=(h, w))]
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)
    for y in range(h):
        for x in range(w):
            bi.setRGB(x, y, int((int(px[y, x, 0]) << 16)
                                | (int(px[y, x, 1]) << 8) | int(px[y, x, 2])))
    bos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "bmp", bos)
    assert (decode_image(bytes(bos.toByteArray()), "bmp", w, h) == px).all()
    bos2 = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "gif", bos2)
    assert (decode_image(bytes(bos2.toByteArray()), "gif", w, h) == px).all()


def test_validate_images_bmp_gif_taxonomy(spark):
    """bmp/gif are first-class validate formats: good payloads pass,
    bad signatures / corrupt streams / unsupported variants map to
    their taxonomy classes in the kernel tier, and sig checks also
    live in the Catalyst prefilter."""
    import struct

    from segment_rtree_spark.operators.images import validate_images

    rng = np.random.default_rng(13)
    h, w = 6, 5
    nb, stride = 3, (5 * 3 + 3) & ~3
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    hdr = b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    rows = bytearray()
    for y in range(h):
        line = px[::-1][y, :, ::-1].tobytes()
        rows += line + b"\x00" * (stride - len(line))
    bmp_ok = hdr + bytes(rows)

    from tests.test_imageio_synth import _build_gif

    gct = rng.integers(0, 256, size=(4, 3)).astype(np.uint8)
    idx = rng.integers(0, 4, size=(h, w)).astype(np.uint8)
    gif_ok = _build_gif(w, h, gct, [(0, 0, w, h, idx)])

    rle = bytearray(bmp_ok)
    struct.pack_into("<I", rle, 30, 1)

    rows_tbl = [
        ("b_ok", bmp_ok, "bmp", w, h),
        ("b_sig", b"XX" + bmp_ok[2:], "bmp", w, h),
        ("b_rle", bytes(rle), "bmp", w, h),
        ("b_tr", bmp_ok[:-10], "bmp", w, h),
        ("g_ok", gif_ok, "gif", w, h),
        ("g_sig", b"NOTGIF" + gif_ok[6:], "gif", w, h),
        ("g_tr", gif_ok[:15], "gif", w, h),
    ]
    df = spark.createDataFrame(
        rows_tbl, "image_id string, bytes binary, fmt string, w int, h int"
    )
    got = {r["image_id"]: r for r in validate_images(df).collect()}
    assert got["b_ok"]["ok"] and got["g_ok"]["ok"]
    assert got["b_sig"]["err_code"] == "BadSignature"
    assert got["b_rle"]["err_code"] == "CodecUnavailable"
    assert got["b_tr"]["err_code"] == "CorruptStream"
    assert got["g_sig"]["err_code"] == "BadSignature"
    assert got["g_tr"]["err_code"] == "CorruptStream"


def test_gif_video_frame_sampling(spark):
    """fmt='gif' video rows: animated GIFs frame-sample through the
    same operator as fakevid/mjpeg, emitting full-canvas raw
    snapshots."""
    from segment_rtree_spark.imageio import _gif_canvas_frames
    from tests.test_imageio_synth import _build_gif

    rng = np.random.default_rng(21)
    W, H, n_frames = 9, 6, 7
    gct = rng.integers(0, 256, size=(8, 3)).astype(np.uint8)
    frames = [
        (0, 0, W, H, rng.integers(0, 8, size=(H, W)).astype(np.uint8))
        for _ in range(n_frames)
    ]
    buf = _build_gif(W, H, gct, frames)
    pdf = pd.DataFrame(
        {"video_id": ["g0"], "bytes": [buf], "w": np.int32(W),
         "h": np.int32(H), "fmt": "gif"}
    )
    out = sample_video_frames(spark.createDataFrame(pdf), every_n=3).toPandas()
    assert out["frame_idx"].tolist() == [0, 3, 6]
    assert (out["fmt"] == "raw").all()
    _, _, want = _gif_canvas_frames(buf)
    for _, r in out.iterrows():
        got = np.frombuffer(bytes(r["bytes"]), np.uint8).reshape(H, W, 3)
        assert (got == want[int(r["frame_idx"])]).all()


def test_java_reads_our_bmp_gif(spark):
    """Interop the other direction: javax.imageio parses the engine's
    BMP and GIF output and sees identical pixels — the files are
    spec-compliant, not merely self-consistent."""
    from segment_rtree_spark.imageio import encode_bmp, encode_gif

    jvm = spark.sparkContext._jvm
    h, w = 9, 14
    rng = np.random.default_rng(23)
    cols = rng.integers(0, 256, size=(30, 3)).astype(np.uint8)
    px = cols[rng.integers(0, 30, size=(h, w))]
    for enc in (encode_bmp, encode_gif):
        img = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(enc(px)))
        )
        assert img is not None
        arr = np.array(
            list(img.getRGB(0, 0, w, h, None, 0, w)), np.int64
        ).reshape(h, w)
        dec = np.stack(
            [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=-1
        ).astype(np.uint8)
        assert (dec == px).all()


def test_tiff_external_encoder_interop(spark):
    """javax.imageio's TIFF writer (big-endian, its own IFD layout)
    decodes bit-exactly; validate_images treats tiff as a first-class
    format in both tiers."""
    from segment_rtree_spark.operators.images import validate_images

    jvm = spark.sparkContext._jvm
    h, w = 10, 13
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)
    for y in range(h):
        for x in range(w):
            bi.setRGB(x, y, int((int(px[y, x, 0]) << 16)
                                | (int(px[y, x, 1]) << 8) | int(px[y, x, 2])))
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), None)
    ios.flush()
    buf = bytes(bos.toByteArray())
    assert buf[:4] == b"MM\x00\x2a"  # big-endian writer
    assert (decode_image(buf, "tiff", w, h) == px).all()

    rows = [
        ("t_ok", buf, "tiff", w, h),
        ("t_sig", b"XXXX" + buf[4:], "tiff", w, h),
        ("t_tr", buf[:-20], "tiff", w, h),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int"
    )
    got = {r["image_id"]: r for r in validate_images(df).collect()}
    assert got["t_ok"]["ok"]
    assert got["t_sig"]["err_code"] == "BadSignature"
    assert got["t_tr"]["err_code"] == "CorruptStream"


def test_resize_output_formats(spark):
    """resize_images re-encodes into any engine writer: lossless
    formats round-trip the resampled pixels exactly, jpeg survives at
    PSNR>=40dB, and gif (which would silently quantize) is refused."""
    from segment_rtree_spark.imageio import psnr
    from segment_rtree_spark.synth import images_df

    imgs = images_df(spark, 4)
    ref = resize_images(imgs, 8, 8).toPandas().set_index("image_id")
    for fmt in ("png", "bmp", "tiff", "jpeg"):
        out = resize_images(imgs, 8, 8, fmt=fmt).toPandas().set_index("image_id")
        assert (out["fmt"] == fmt).all()
        for iid, row in out.iterrows():
            want = decode_image(bytes(ref.loc[iid]["bytes"]), "raw", 8, 8)
            got = decode_image(bytes(row["bytes"]), fmt, 8, 8)
            if fmt == "jpeg":
                # random-noise 8x8 is jpeg's worst case; this asserts
                # the plumbing, the codec's PSNR>=40dB gate lives in
                # test_jpegio on smooth content
                assert psnr(want, got) >= 25.0
            else:
                assert (got == want).all()
    with pytest.raises(ValueError, match="resize fmt"):
        resize_images(imgs, 8, 8, fmt="gif")

def test_webp_video_frame_sampling(spark):
    """fmt='webp' video rows (round 7): animated VP8L webps
    frame-sample through the same operator as gif, emitting
    full-canvas raw snapshots; canvas dims are guarded against the
    table metadata BEFORE allocation."""
    from segment_rtree_spark.webp import webp_canvas_frames
    from tests.test_webp import build_anim_webp

    rng = np.random.default_rng(29)
    W, H = 12, 8
    frames_spec = [
        (0, 0, rng.integers(0, 256, size=(H, W, 3)).astype(np.uint8),
         True, False)
    ] + [
        (2 * (k % 4), 2 * (k % 3),
         rng.integers(0, 256, size=(4, 6, 3)).astype(np.uint8), False, False)
        for k in range(6)
    ]
    buf = build_anim_webp((W, H), frames_spec)
    pdf = pd.DataFrame(
        {"video_id": ["w0"], "bytes": [buf], "w": np.int32(W),
         "h": np.int32(H), "fmt": "webp"}
    )
    out = sample_video_frames(spark.createDataFrame(pdf), every_n=3).toPandas()
    assert out["frame_idx"].tolist() == [0, 3, 6]
    assert (out["fmt"] == "raw").all()
    _, _, want = webp_canvas_frames(buf)
    assert len(want) == 7
    for _, r in out.iterrows():
        got = np.frombuffer(bytes(r["bytes"]), np.uint8).reshape(H, W, 3)
        assert (got == want[int(r["frame_idx"])]).all()
    # metadata dim lie -> DimensionMismatchError from the kernel
    from segment_rtree_spark.codec_errors import DimensionMismatchError

    bad = pdf.assign(w=np.int32(W + 2))
    with pytest.raises(Exception) as ei:
        sample_video_frames(spark.createDataFrame(bad), every_n=3).collect()
    assert "DimensionMismatch" in str(ei.value) or isinstance(
        ei.value, DimensionMismatchError)


def test_validate_images_conserves_rows_across_all_formats(spark):
    """Row conservation: validate_images emits EXACTLY one verdict per
    input row for every admitted format, clean or broken. The
    two-tier plan splits rows between a Catalyst verdict and the
    decode kernel; a format admitted by the UnknownFormat prefilter
    but missing from the needs_kernel route is silently DROPPED — a
    clean VP8L webp row vanished exactly this way between rounds 6
    and 7 (webp graduated to a real codec after the route list was
    written). This pins every format's clean row to an OK verdict."""
    import numpy as np

    from segment_rtree_spark.imageio import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_raw,
        encode_tiff,
        encode_webp,
    )
    from segment_rtree_spark.jpegio import encode_jpeg
    from segment_rtree_spark.operators.images import validate_images

    h, w = 9, 11
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack(
        [yy * 255 // (h - 1), xx * 255 // (w - 1), (yy + xx) * 9],
        axis=-1,
    ).astype(np.uint8)
    gx = (px >> 6) << 6  # gif: palette-sized
    rows = [
        ("raw", encode_raw(px)), ("png", encode_png(px)),
        ("jpeg", encode_jpeg(px, 90)), ("bmp", encode_bmp(px)),
        ("gif", encode_gif(gx)), ("tiff", encode_tiff(px)),
        ("webp", encode_webp(px)),
    ]
    data = [(f"c_{f}", bytearray(b), w, h, f) for f, b in rows]
    # plus one row per error class so both tiers stay row-conserving
    data += [
        ("e_null", None, w, h, "png"),
        ("e_fmt", bytearray(b"xx"), w, h, "flif"),
        ("e_trunc", bytearray(b"\x00" * 5), w, h, "raw"),
        ("e_sig", bytearray(b"\x00" * 50), w, h, "webp"),
        ("e_corrupt", bytearray(encode_png(px)[:40]), w, h, "png"),
    ]
    df = spark.createDataFrame(
        data, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in validate_images(df).collect()}
    assert sorted(got) == sorted(d[0] for d in data)  # no row dropped
    for f, _ in rows:
        assert got[f"c_{f}"]["ok"], (f, got[f"c_{f}"])
    assert not any(got[k]["ok"] for k in got if k.startswith("e_"))
