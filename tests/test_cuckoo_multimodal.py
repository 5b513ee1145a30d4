"""Multimodal decode plumbing (stubbed decode, validity gate, frame
sampling)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pixcrawler_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    validity_filter,
)


# -- multimodal ----------------------------------------------------------------
@pytest.fixture(scope="module")
def media(spark):
    from pixcrawler_spark.operators.multimodal import png_encode

    px = np.tile(
        np.arange(11, dtype=np.uint8)[None, :, None] * 20, (12, 1, 3)
    )
    rows = [
        (1, "image", png_encode(px), {"src": "a"}, None),  # REAL 11x12 png
        (2, "image", b"\xff\xd8\xff" + b"y" * 50, {}, None),
        (3, "image", b"zz", {}, None),          # too short / unknown → invalid
        (4, "audio", b"RIFF" + b"w" * 64, {}, None),
        (5, "video", b"RIFF" + b"v" * 640, {}, None),
        (6, "image", None, {}, None),            # null payload
        (7, "image", b"\x89PNG" + b"x" * 100, {}, None),  # junk "png" → corrupt
    ]
    from pixcrawler_spark.schemas import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_stub_raises_without_fake(media):
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_media(media, deterministic_fake=False).collect()


def test_decode_fake_plumbing(media):
    out = decode_media(media, deterministic_fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    # real PNG decode: true dimensions, not hash-derived fakes
    assert rows[1]["format"] == "png" and rows[1]["is_valid"]
    assert (rows[1]["width"], rows[1]["height"]) == (11, 12)
    assert rows[1]["ahash"] is not None
    assert rows[2]["format"] == "jpeg"
    assert not rows[3]["is_valid"]
    assert rows[4]["duration_s"] is not None and rows[4]["width"] is None
    assert not rows[6]["is_valid"] and rows[6]["n_bytes"] == 0
    # bytes claiming to be PNG but failing the real parse → corrupt
    assert rows[7]["format"] == "png" and not rows[7]["is_valid"]
    # deterministic: same bytes → same metadata
    again = {r["media_id"]: r for r in decode_media(media, deterministic_fake=True).collect()}
    assert rows == again


def test_validity_and_frame_sampling(media):
    decoded = decode_media(media, deterministic_fake=True)
    ok = validity_filter(decoded, min_w=1, min_h=1)
    assert {r["media_id"] for r in ok.collect()} <= {1, 2, 4, 5}
    frames = frame_sample_plan(decoded, every_s=1.0)
    fr = frames.where(F.col("media_id") == 5).collect()
    assert len(fr) >= 1
    assert all(abs(r["frame_ts_s"] - i * 1.0) < 1e-9 for i, r in enumerate(fr))


# -- real BMP decode + perceptual aHash ---------------------------------------
def _naive_ahash(pixels) -> str:
    """Independent straight-line oracle for the average hash
    (reference algorithm validator/integrity.py:172-215): grayscale,
    8×8 area mean via explicit loops, >= mean threshold, binary
    string → hex zfill(16)."""
    h = len(pixels)
    w = len(pixels[0])
    gray = [
        [
            0.299 * px[0] + 0.587 * px[1] + 0.114 * px[2]
            for px in row
        ]
        for row in pixels
    ]
    blocks = []
    for bi in range(8):
        for bj in range(8):
            y0, y1 = bi * h // 8, (bi + 1) * h // 8
            x0, x1 = bj * w // 8, (bj + 1) * w // 8
            vals = [gray[y][x] for y in range(y0, y1) for x in range(x0, x1)]
            blocks.append(sum(vals) / len(vals))
    avg = sum(blocks) / 64
    binary = "".join("1" if b >= avg else "0" for b in blocks)
    return hex(int(binary, 2))[2:].zfill(16)


def test_bmp_roundtrip_and_ahash_vs_naive_oracle():
    from pixcrawler_spark.operators.multimodal import (
        _decode_bmp,
        ahash8,
        bmp_encode,
    )

    rng = np.random.default_rng(7)
    for h, w in [(64, 64), (40, 56), (9, 33), (8, 8)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = bmp_encode(px)
        dec = _decode_bmp(blob)
        assert dec is not None
        gw, gh, gray = dec
        assert (gw, gh) == (w, h)
        expect_gray = (
            px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
        )
        assert np.allclose(gray, expect_gray)
        assert ahash8(gray) == _naive_ahash(px.tolist())


def _png_with_filters(pixels, ftypes):
    """Reference PNG encoder that exercises row filters 0-4 (the repo
    encoder only emits filter 0); straight-line per-pixel code."""
    import struct
    import zlib

    h, w, _ = pixels.shape
    stride = w * 3
    prev = np.zeros(stride, dtype=np.int32)
    out = bytearray()
    for y in range(h):
        cur = pixels[y].reshape(stride).astype(np.int32)
        ft = ftypes[y % len(ftypes)]
        row = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = int(prev[x - 3]) if x >= 3 else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[x] = (cur[x] - pred) & 0xFF
        out += bytes([ft]) + row.astype(np.uint8).tobytes()
        prev = cur

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_matches_bmp_and_naive_oracle():
    """The stdlib PNG path is pixel-exact: same pixels through PNG and
    BMP produce identical grayscale, identical aHash, and match the
    straight-line naive oracle."""
    from pixcrawler_spark.operators.multimodal import (
        _decode_bmp,
        _decode_png,
        ahash8,
        bmp_encode,
        png_encode,
    )

    rng = np.random.default_rng(11)
    for h, w in [(64, 64), (40, 56), (9, 33), (8, 8)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        dec = _decode_png(png_encode(px))
        assert dec is not None
        gw, gh, gray = dec
        assert (gw, gh) == (w, h)
        _, _, gray_bmp = _decode_bmp(bmp_encode(px))
        assert np.allclose(gray, gray_bmp)
        assert ahash8(gray) == _naive_ahash(px.tolist())


def test_png_unfilter_all_filter_types():
    """Decoding a PNG whose rows cycle through filters 0-4 (Sub, Up,
    Average, Paeth) reproduces the exact pixels — the part of the spec
    real-world encoders actually use."""
    from pixcrawler_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
    blob = _png_with_filters(px, [0, 1, 2, 3, 4])
    dec = _decode_png(blob)
    assert dec is not None
    _, _, gray = dec
    expect = px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
    assert np.allclose(gray, expect)


def test_png_corruption_predicate():
    """Truncated IDAT, flipped CRC bytes, short pixel streams and
    declared-unsupported encodings (16-bit, interlaced) are all
    detected — the validator's integrity gate for PNGs."""
    import struct
    import zlib

    from pixcrawler_spark.operators.multimodal import _decode_png, png_encode

    px = np.full((16, 16, 3), 128, dtype=np.uint8)
    good = png_encode(px)
    assert _decode_png(good) is not None
    assert _decode_png(good[: len(good) // 2]) is None  # truncated IDAT
    bad_crc = bytearray(good)
    bad_crc[-9] ^= 0xFF  # inside IEND/IDAT crc tail
    assert _decode_png(bytes(bad_crc)) is None
    assert _decode_png(b"\x89PNG\r\n\x1a\n" + b"junk") is None
    assert _decode_png(b"\x89PNG" + b"x" * 100) is None  # bad signature tail

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 16-bit depth and Adam7 interlacing: declared unsupported → None
    for depth, interlace in [(16, 0), (8, 1)]:
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, 2, 0, 0, interlace)
        raw = zlib.compress(bytes(4 * (1 + 12)))
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", raw)
            + chunk(b"IEND", b"")
        )
        assert _decode_png(blob) is None


def test_bmp_corruption_predicate():
    from pixcrawler_spark.operators.multimodal import _decode_bmp, bmp_encode

    px = np.full((16, 16, 3), 128, dtype=np.uint8)
    good = bmp_encode(px)
    assert _decode_bmp(good) is not None
    assert _decode_bmp(good[: len(good) // 2]) is None  # truncated pixels
    assert _decode_bmp(b"BM" + b"\x00" * 20) is None  # truncated header
    assert _decode_bmp(b"not a bmp at all") is None


def test_pattern_bmp_hash_matches_md5_prefix():
    """The oracle-by-construction identity behind dedup_perceptual_ahash:
    aHash(pattern_bmp(g)) == md5(str(g))[:16], for every group the
    driver query can produce — also proves no md5 prefix is degenerate
    (all-same bits) for K=300."""
    import hashlib

    from pixcrawler_spark.operators.multimodal import _decode_bmp, ahash8
    from pixcrawler_spark.queries.media import N_GROUPS, pattern_bmp

    for g in range(N_GROUPS):
        expect = hashlib.md5(str(g).encode()).hexdigest()[:16]
        bits = bin(int(expect, 16))[2:]
        assert "0" in bits.zfill(64) and "1" in bits, g  # non-degenerate
        w, h, gray = _decode_bmp(pattern_bmp(g))
        assert (w, h) == (64, 64)
        assert ahash8(gray) == expect, g


def test_pattern_bmp_variants_distinct_bytes_same_ahash():
    """The media_dup_decision oracle's construction: every variant is
    byte-distinct (distinct sha256 → exact groups split by variant) but
    aHash-identical (perceptual groups ignore the variant) — for ALL
    (group, variant) pairs the driver query can produce."""
    import hashlib

    from pixcrawler_spark.operators.multimodal import _decode_bmp, ahash8
    from pixcrawler_spark.queries.media import (
        N_GROUPS,
        N_VARIANTS,
        pattern_bmp_variant,
    )

    for g in range(N_GROUPS):
        expect = hashlib.md5(str(g).encode()).hexdigest()[:16]
        payloads = [pattern_bmp_variant(g, v) for v in range(N_VARIANTS)]
        assert len({hashlib.sha256(p).hexdigest() for p in payloads}) == N_VARIANTS
        for p in payloads:
            _, _, gray = _decode_bmp(p)
            assert ahash8(gray) == expect, g


def test_bmp_decodes_without_fake_flag(spark):
    """BMP is the REAL decode path — no deterministic_fake needed."""
    from pixcrawler_spark.operators.multimodal import bmp_encode
    from pixcrawler_spark.schemas import MEDIA_SCHEMA

    px = np.zeros((60, 80, 3), dtype=np.uint8)
    px[:, :, 1] = 200
    rows = [(1, "image", bmp_encode(px), {}, None)]
    out = decode_media(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()[0]
    assert out["format"] == "bmp" and out["is_valid"]
    assert (out["width"], out["height"]) == (80, 60)
    assert out["ahash"] is not None and len(out["ahash"]) == 16


def test_media_dup_exact_beats_perceptual(spark):
    """Reference merge semantics (validator/integrity.py:389-426):
    exact duplicates removed first; perceptual groups formed over the
    exact-keepers only."""
    from pixcrawler_spark.operators.multimodal import (
        bmp_encode,
        media_dup_decision,
    )
    from pixcrawler_spark.schemas import MEDIA_SCHEMA

    rng = np.random.default_rng(3)
    base = rng.integers(0, 2, size=(8, 8), dtype=np.uint8) * 160 + 40
    big = np.repeat(np.repeat(base, 8, 0), 8, 1)
    img_a = np.stack([big] * 3, axis=-1).astype(np.uint8)
    # same block pattern, tiny per-pixel noise → same aHash, new bytes
    noise = rng.integers(-5, 6, size=big.shape)
    img_c = np.clip(big.astype(int) + noise, 0, 255).astype(np.uint8)
    img_c = np.stack([img_c] * 3, axis=-1)
    other = np.repeat(np.repeat(255 - base, 8, 0), 8, 1)
    img_d = np.stack([other] * 3, axis=-1).astype(np.uint8)

    rows = [
        (1, "image", bmp_encode(img_a), {}, None),  # keep (canonical)
        (2, "image", bmp_encode(img_a), {}, None),  # exact dup of 1
        (3, "image", bmp_encode(img_c), {}, None),  # perceptual dup of 1
        (4, "image", bmp_encode(img_d), {}, None),  # unique
        (5, "image", b"BM broken", {}, None),       # invalid → keep
    ]
    decoded = decode_media(spark.createDataFrame(rows, MEDIA_SCHEMA))
    got = {
        r["media_id"]: r["dup_decision"]
        for r in media_dup_decision(decoded).collect()
    }
    assert got == {
        1: "keep",
        2: "duplicate_exact",
        3: "duplicate_perceptual",
        4: "keep",
        5: "keep",
    }


def test_media_dup_window_excludes_null_key_rows(spark):
    """Dup-heavy corpus guard: exact-duplicate and invalid rows must
    never reach the perceptual window (they'd all share one NULL
    partition key — a single-task sort at 30-50% duplication). The
    operator filters to non-null-ahash exact-keepers BEFORE the window
    and unions the rest back."""
    from pixcrawler_spark.operators.multimodal import (
        bmp_encode,
        media_dup_decision,
    )
    from pixcrawler_spark.schemas import MEDIA_SCHEMA

    rng = np.random.default_rng(7)
    base = rng.integers(0, 2, size=(8, 8), dtype=np.uint8) * 160 + 40
    big = np.repeat(np.repeat(base, 8, 0), 8, 1)
    img = bmp_encode(np.stack([big] * 3, axis=-1).astype(np.uint8))
    # 90 exact copies of one image + 10 invalid: 99 of 100 rows would
    # have carried a NULL perceptual key under the old single-window plan
    rows = [(i, "image", img, {}, None) for i in range(90)]
    rows += [
        (100 + i, "image", b"BM broken" + bytes([i]), {}, None) for i in range(10)
    ]
    out = media_dup_decision(decode_media(spark.createDataFrame(rows, MEDIA_SCHEMA)))

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # every Window subtree is guarded by the non-null-ahash keeper filter
    assert "isnotnull(ahash" in plan and "Union" in plan

    got = [r["dup_decision"] for r in out.collect()]
    assert got.count("duplicate_exact") == 89
    assert got.count("keep") == 11  # 1 canonical + 10 unjudgeable invalids
    assert got.count("duplicate_perceptual") == 0


def test_resize_plan(spark):
    from pixcrawler_spark.operators.multimodal import resize_plan

    decoded = spark.createDataFrame(
        [(1, "image", 1024, 512, True), (2, "image", 100, 50, True),
         (3, "audio", None, None, True)],
        "media_id long, kind string, width int, height int, is_valid boolean",
    )
    got = {r["media_id"]: r.asDict() for r in resize_plan(decoded, max_side=512).collect()}
    assert set(got) == {1, 2}
    assert got[1]["needs_resize"] and got[1]["target_width"] == 512 and got[1]["target_height"] == 256
    assert not got[2]["needs_resize"] and got[2]["target_width"] == 100


def test_feature_extract_real_for_bmp(spark):
    """BMP payloads get a REAL 64-dim grayscale block-mean feature
    (no fake flag needed); visually-identical images map to nearly
    identical vectors, different images do not."""
    import numpy as np

    from pixcrawler_spark.operators.multimodal import bmp_encode, feature_extract

    base = np.full((64, 64), 100, dtype=np.uint8)
    img1 = np.stack([base] * 3, axis=-1)
    img2 = np.stack([np.clip(base + 2, 0, 255)] * 3, axis=-1)  # near-identical
    img3 = np.stack([255 - base] * 3, axis=-1)  # very different
    media = spark.createDataFrame(
        [(1, bytearray(bmp_encode(img1))), (2, bytearray(bmp_encode(img2))),
         (3, bytearray(bmp_encode(img3)))],
        "media_id long, payload binary",
    )
    feats = {r["media_id"]: np.array(r["feature"]) for r in
             feature_extract(media, dim=64).collect()}
    assert all(len(v) == 64 for v in feats.values())
    assert np.allclose(feats[1], 100 / 255.0, atol=1e-6)
    assert np.abs(feats[1] - feats[2]).max() < 0.01
    assert np.abs(feats[1] - feats[3]).max() > 0.2


def test_feature_extract_plumbing(spark):
    from pixcrawler_spark.operators.multimodal import feature_extract

    media = spark.createDataFrame(
        [(1, bytearray(b"\x89PNGxxxxxxxxxxxxxxx")), (2, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: list(r["feature"]) for r in
            feature_extract(media, dim=8, deterministic_fake=True).collect()}
    assert len(rows[1]) == 8 and all(-1.0 <= x <= 1.0 for x in rows[1])
    assert rows[2] == [0.0] * 8
    # deterministic across runs
    rows2 = {r["media_id"]: list(r["feature"]) for r in
             feature_extract(media, dim=8, deterministic_fake=True).collect()}
    assert rows == rows2


def test_resize_reencode_roundtrip(spark):
    """Real pixel re-encode: downsampled flat/block images re-decode to
    exact area means; within-bounds images pass through byte-identical;
    corrupt payloads yield null output."""
    from pixcrawler_spark.operators.multimodal import (
        _decode_bmp,
        _decode_png,
        bmp_encode,
        png_encode,
        resize_reencode,
    )

    flat = np.zeros((60, 100, 3), np.uint8)
    flat[:] = (10, 200, 30)  # color: the RGB planes must survive
    small = np.full((20, 30, 3), 77, np.uint8)
    big_bmp = bmp_encode(flat)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(big_bmp)),
            (2, "image", bytearray(png_encode(flat))),
            (3, "image", bytearray(bmp_encode(small))),  # within bounds
            (4, "image", bytearray(big_bmp[:40])),  # truncated header
            (5, "image", None),
        ],
        "media_id long, kind string, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in resize_reencode(media, max_side=50).collect()
    }
    # 100x60 -> 50x30, format preserved, color preserved exactly
    for mid, dec in ((1, _decode_bmp), (2, _decode_png)):
        r = out[mid]
        assert (r["out_width"], r["out_height"]) == (50, 30) and r["resized"]
        w, h, _g, rgb = dec(bytes(r["payload_out"]), want_rgb=True)
        assert (w, h) == (50, 30)
        assert (rgb == np.array([10, 200, 30], np.uint8)).all()
    assert out[1]["out_format"] == "bmp" and out[2]["out_format"] == "png"
    # within bounds: byte-identical passthrough
    assert bytes(out[3]["payload_out"]) == bmp_encode(small)
    assert not out[3]["resized"]
    # corrupt / null payloads: null output, corruption predicate intact
    for mid in (4, 5):
        assert out[mid]["payload_out"] is None
        assert not out[mid]["resized"] and out[mid]["out_width"] is None


def test_area_resample_exact_block_means(spark):
    from pixcrawler_spark.operators.multimodal import _area_resample

    blocks = (np.arange(16, dtype=np.uint8).reshape(4, 4)) * 16
    img = np.repeat(np.repeat(blocks, 4, 0), 4, 1)
    rgb = np.stack([img] * 3, -1)
    small = _area_resample(rgb, 8, 8)
    want = np.repeat(np.repeat(blocks, 2, 0), 2, 1)
    assert (small[:, :, 0] == want).all()
    # rectangular target + grayscale 2-D input path
    g = _area_resample(img.astype(np.uint8), 4, 8)
    assert g.shape == (4, 8)


def test_png_decompression_bomb_rejected_bounded():
    """A hostile IDAT claiming tiny IHDR dims but inflating to huge
    output must be rejected WITHOUT allocating the inflated stream
    (bounded decompressobj, not zlib.decompress) — untrusted crawl
    bytes hit this path on every validation pass."""
    import struct
    import tracemalloc
    import zlib

    from pixcrawler_spark.operators.multimodal import _PNG_SIG, _decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)  # claims 4x4 gray
    bomb_raw = b"\x00" * (200 * 1024 * 1024)  # inflates to 200 MB
    bomb = (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bomb_raw, 9)) + chunk(b"IEND", b"")
    )
    tracemalloc.start()
    try:
        assert _decode_png(bomb) is None
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 5 * 1024 * 1024, f"inflated {peak} bytes for a bomb"

    # trailing junk after a valid zlib stream is still corrupt
    ihdr2 = struct.pack(">IIBBBBB", 4, 1, 8, 0, 0, 0, 0)
    payload = zlib.compress(b"\x00" + b"\x10\x20\x30\x40") + b"JUNK"
    p = (
        _PNG_SIG + chunk(b"IHDR", ihdr2)
        + chunk(b"IDAT", payload) + chunk(b"IEND", b"")
    )
    assert _decode_png(p) is None
