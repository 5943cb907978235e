"""Multimodal plumbing contracts: schema, cardinality, determinism of the
mapInPandas media operators (codec work is stubbed by design — the Spark
side is what's under test)."""

from __future__ import annotations

import pyspark.sql.functions as F

from batch_processing_iac_aws_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    FRAME_SCHEMA,
    MEDIA_SCHEMA,
    extract_features,
    resize_media,
    sample_frames,
    text_as_media,
)


def _media(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "quick brown fox"), (3, "")],
        "doc_id long, text string",
    )
    return text_as_media(docs)


def test_text_as_media_matches_schema(spark):
    m = _media(spark)
    assert m.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    meta = {r["media_id"]: r["meta"] for r in m.collect()}
    assert meta[1]["n_bytes"] == len(b"hello world")
    assert meta[1]["mime"] == "text/plain"


def test_extract_features_deterministic(spark):
    m = _media(spark)
    out = extract_features(m)
    assert out.schema.simpleString() == FEATURE_SCHEMA.simpleString()
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, extract_features(_media(spark)).collect()))
    assert a == b
    assert all(len(r["features"]) == 8 for r in out.collect())


def test_resize_media_rewrites_meta_and_payload(spark):
    out = resize_media(_media(spark), width=64, height=48)
    assert out.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    for r in out.collect():
        assert r["meta"]["width"] == 64
        assert r["meta"]["height"] == 48
        assert len(r["payload"]) == min(64 * 48, 4096)
        assert r["meta"]["n_bytes"] == len(r["payload"])


def test_sample_frames_cardinality_and_grid(spark):
    out = sample_frames(_media(spark), n_frames=3, frame_ms=500)
    assert out.schema.simpleString() == FRAME_SCHEMA.simpleString()
    rows = out.collect()
    assert len(rows) == 3 * 3  # 3 media rows x 3 frames
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for grp in by_media.values():
        grp.sort(key=lambda r: r["frame_idx"])
        assert [g["frame_idx"] for g in grp] == [0, 1, 2]
        assert [g["pts_ms"] for g in grp] == [0, 500, 1000]
        # distinct frames from one payload (idx is salted into the digest)
        assert len({bytes(g["frame"]) for g in grp}) == 3


def test_auto_decoder_falls_back_without_pil():
    """In this codec-free container the auto decoder must select the
    deterministic fake, and the real path must raise NotImplementedError."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _fake_features,
        auto_image_decoder,
        decode_image_real,
    )

    fn = auto_image_decoder(feature_dim=8)
    assert fn(b"payload") == _fake_features(b"payload", 8)
    with pytest.raises(NotImplementedError):
        decode_image_real(b"payload")


def test_auto_decoder_uses_real_pil_when_importable(monkeypatch):
    """Monkeypatch a minimal fake PIL into sys.modules: the auto decoder
    must route through the REAL decode path (Image.open -> convert ->
    resize -> getdata), proving the off-sandbox wiring without shipping an
    image library."""
    import sys
    import types

    calls = {}

    class _FakeImg:
        def convert(self, mode):
            calls["convert"] = mode
            return self

        def resize(self, wh):
            calls["resize"] = wh
            return self

        def getdata(self):
            return [0, 51, 102, 153, 204, 255, 0, 51]

    fake_image_mod = types.SimpleNamespace(
        open=lambda buf: calls.setdefault("opened", True) and _FakeImg()
        or _FakeImg()
    )
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(
        sys.modules, "PIL.Image", types.ModuleType("PIL.Image")
    )
    sys.modules["PIL.Image"].open = fake_image_mod.open

    from batch_processing_iac_aws_spark.operators.multimodal import (
        auto_image_decoder,
    )

    fn = auto_image_decoder(feature_dim=8)
    out = fn(b"\x89PNG-ish")
    assert calls == {"opened": True, "convert": "L", "resize": (8, 1)}
    assert out == [v / 255.0 for v in [0, 51, 102, 153, 204, 255, 0, 51]]


def _py_ahash(feats: list[float], dim: int) -> int:
    s = sum(feats)
    return sum((1 << j) for j, f in enumerate(feats) if f * dim > s)


def test_ahash_pack_matches_python_including_ties(spark):
    """ahash_pack = brighter-than-mean bits packed little-endian, with the
    integer cross-multiplied comparison (dim * f > sum) and ties rounding
    DOWN — checked bit-for-bit against a pure-Python fold, including an
    all-equal vector (every comparison a tie -> phash 0)."""
    from batch_processing_iac_aws_spark.operators.multimodal import ahash_pack

    rows = [
        (1, [float(b) for b in range(8)]),
        (2, [3.0] * 8),                      # all ties -> 0
        (3, [0.0, 255.0] * 4),
        (4, [7.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "media_id long, features array<double>")
    got = {
        r["media_id"]: r["phash"]
        for r in ahash_pack(df, dim=8).collect()
    }
    for mid, feats in rows:
        assert got[mid] == _py_ahash(feats, 8), mid
    assert got[2] == 0


def test_media_phash_pairs_pigeonhole_recall_vs_bruteforce(spark):
    """hamming_band_pairs' 4-chunk pigeonhole through the media path:
    feature vectors CRAFTED so their aHashes sit at exact hamming
    distances 0/1/2/3/4 from a base — pairs at <= max_hamming are all
    found (structural recall, no sampling), the hamming-3 pair appears at
    max_hamming=3 but not 2, and hamming-4 never (beyond the pigeonhole
    contract). Verified against an exhaustive numpy scan of the packed
    hashes."""
    from itertools import combinations

    from batch_processing_iac_aws_spark.operators.multimodal import (
        ahash_pack,
        media_phash_pairs,
    )

    dim = 32
    base = [10.0] * 16 + [200.0] * 16  # bits 16..31 set
    def flip(v, *bits):  # flipping bit j: cross mean at position j
        out = list(v)
        for j in bits:
            out[j] = 200.0 if out[j] == 10.0 else 10.0
        return out

    rows = [
        (0, base),
        (1, flip(base, 0)),          # hamming 1 from base
        (2, flip(base, 1, 2)),       # hamming 2
        (3, flip(base, 3, 4, 5)),    # hamming 3
        (4, flip(base, 6, 7, 8, 9)), # hamming 4
    ]
    df = spark.createDataFrame(rows, "media_id long, features array<double>")
    hashes = {
        r["media_id"]: r["phash"]
        for r in ahash_pack(df, dim=dim).collect()
    }
    # the crafted flips must land where intended (mean stays between the
    # two levels since exactly half the values sit at each level +- flips)
    exact = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a, b in combinations(sorted(hashes), 2)
    }
    assert exact[(0, 1)] == 1 and exact[(0, 2)] == 2
    assert exact[(0, 3)] == 3 and exact[(0, 4)] == 4
    for mh in (2, 3):
        got = {
            (r["media_id_a"], r["media_id_b"]): r["hamming"]
            for r in media_phash_pairs(df, dim=dim, max_hamming=mh).collect()
        }
        want = {p: h for p, h in exact.items() if h <= mh}
        assert got == want, (mh, got, want)


def test_media_phash_pairs_through_decode_seam(spark):
    """The SAME pack+band plan over the real decode seam (extract_features'
    stub decoder -> 8-dim features): byte-identical payloads collide at
    hamming 0, and the result matches an exhaustive scan of the packed
    hashes — the engine-side proof the registered portable query's
    machinery carries over to decoder features verbatim."""
    from itertools import combinations

    from batch_processing_iac_aws_spark.operators.multimodal import (
        ahash_pack,
        extract_features,
        media_phash_pairs,
        text_as_media,
    )

    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(20)]
        + [(100 + i, f"document body {i}") for i in range(5)],
        "doc_id long, text string",
    )
    feats = extract_features(text_as_media(docs)).select(
        "media_id", F.col("features").cast("array<double>").alias("features")
    )
    hashes = {
        r["media_id"]: r["phash"]
        for r in ahash_pack(feats, dim=8).collect()
    }
    want = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a, b in combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 1
    }
    got = {
        (r["media_id_a"], r["media_id_b"]): r["hamming"]
        for r in media_phash_pairs(feats, dim=8, max_hamming=1).collect()
    }
    assert got == want
    for i in range(5):
        assert got.get((i, 100 + i)) == 0


def test_registered_relational_ahash_equals_ahash_pack(spark):
    """The registered query's exploded relational aHash (posexplode ->
    window sum -> conditional bit agg — used because its md5
    expression-family features would be re-inlined by projection
    collapse) is bit-for-bit the same hash as ahash_pack over the same
    features, for every document."""
    from pyspark.sql import Window as W

    from batch_processing_iac_aws_spark.operators.multimodal import (
        ahash_pack,
        text_as_media,
    )
    from batch_processing_iac_aws_spark.plans.llm import _md5_lower60

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(100)
    media = text_as_media(docs)
    ps = F.col("payload").cast("string")
    feats = F.array(
        *[
            (_md5_lower60(F.concat(ps, F.lit(f":{j}"))) % 256).cast("double")
            for j in range(32)
        ]
    )
    packed = {
        r["media_id"]: r["phash"]
        for r in ahash_pack(
            media.select("media_id", feats.alias("features")), dim=32
        ).collect()
    }
    f = media.select("media_id", F.posexplode(feats).alias("j", "v"))
    relational = {
        r["media_id"]: r["phash"]
        for r in f.withColumn(
            "s", F.sum("v").over(W.partitionBy("media_id"))
        )
        .groupBy("media_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v") * 32 > F.col("s"),
                    F.pow(F.lit(2.0), F.col("j")).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("phash")
        )
        .collect()
    }
    assert packed == relational and len(packed) == 100


# ---------------------------------------------------------------------------
# Real-codec branch on true image bits (round 9): PNG decodes with stdlib
# zlib + unfiltering, so the REAL seam executes even in this PIL-free
# container — closing the "real-codec branch never ran" gap with actual
# decoding, not a surrogate.
# ---------------------------------------------------------------------------


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _png_encode(pixels, width, height, color=0, filters=None):
    """Minimal PNG writer (test scaffolding): 8-bit gray/RGB/RGBA, one
    IDAT, per-row filter types as requested — lets the tests prove the
    decoder's unfiltering against independently-constructed bytes."""
    import binascii
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = bytes(pixels[y * stride : (y + 1) * stride])
        f = filters[y]
        raw.append(f)
        if f == 0:
            enc = line
        elif f == 1:
            enc = bytes(
                (line[i] - (line[i - channels] if i >= channels else 0))
                & 0xFF
                for i in range(stride)
            )
        elif f == 2:
            enc = bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:
            enc = bytes(
                (
                    line[i]
                    - (
                        (
                            (line[i - channels] if i >= channels else 0)
                            + prev[i]
                        )
                        >> 1
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        elif f == 4:
            enc = bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        raw.extend(enc)
        prev = line

    def chunk(t, body):
        return (
            struct.pack(">I", len(body))
            + t
            + body
            + struct.pack(">I", binascii.crc32(t + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_stdlib_gray_exact_roundtrip():
    """8x4 grayscale, feature_dim == pixel count: every block is one
    pixel, so the decode must return the exact written intensities."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    pixels = [(x * 7 + y * 31) % 256 for y in range(4) for x in range(8)]
    png = _png_encode(pixels, 8, 4, color=0)
    feats = decode_png_stdlib(png, feature_dim=32)
    assert feats == [p / 255.0 for p in pixels]


def test_decode_png_stdlib_all_filter_types_agree():
    """The same image encoded with filter types 0..4 (and a mixed
    sequence) must decode identically — proving Sub/Up/Average/Paeth
    unfiltering against an independent forward-filter implementation,
    for gray AND RGB."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    for color, channels in ((0, 1), (2, 3)):
        pixels = [
            (x * 13 + y * 57 + c * 11) % 256
            for y in range(5)
            for x in range(6)
            for c in range(channels)
        ]
        base = decode_png_stdlib(
            _png_encode(pixels, 6, 5, color=color), feature_dim=10
        )
        for filt in (1, 2, 3, 4):
            got = decode_png_stdlib(
                _png_encode(pixels, 6, 5, color=color, filters=[filt] * 5),
                feature_dim=10,
            )
            assert got == base, f"filter {filt} color {color}"
        mixed = decode_png_stdlib(
            _png_encode(pixels, 6, 5, color=color, filters=[0, 1, 2, 3, 4]),
            feature_dim=10,
        )
        assert mixed == base


def test_decode_png_stdlib_luma_and_alpha():
    """Color converts with the ITU-R 601-2 integer luma; RGBA ignores
    alpha (same rule PIL's convert('L') applies to the RGB channels)."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    rgb = _png_encode([255, 0, 0], 1, 1, color=2)
    assert decode_png_stdlib(rgb, feature_dim=1) == [
        (299 * 255) // 1000 / 255.0
    ]
    rgba = _png_encode([10, 20, 30, 255], 1, 1, color=6)
    expect = (299 * 10 + 587 * 20 + 114 * 30) // 1000 / 255.0
    assert decode_png_stdlib(rgba, feature_dim=1) == [expect]


def test_decode_image_real_executes_png_branch_without_pil():
    """The REAL decoder branch runs in this PIL-free container on true
    PNG bits; non-PNG payloads keep the fail-loud contract."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_image_real,
        decode_png_stdlib,
    )

    png = _png_encode(list(range(0, 256, 16)), 16, 1, color=0)
    assert decode_image_real(png, feature_dim=4) == decode_png_stdlib(
        png, feature_dim=4
    )
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\xff\xd8\xff not-a-png")


def test_decode_image_real_branch_pin():
    """The decoder pin makes mixed-environment executors fail loudly
    instead of silently switching resampling kernels per process:
    'stdlib_png' always takes the stdlib kernel (even where PIL exists),
    'pil' refuses rather than degrade when PIL is absent (this
    container), and an unknown pin is a ValueError."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_image_real,
        decode_png_stdlib,
    )

    png = _png_encode(list(range(0, 256, 16)), 16, 1, color=0)
    assert decode_image_real(
        png, feature_dim=4, decoder="stdlib_png"
    ) == decode_png_stdlib(png, feature_dim=4)
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(RuntimeError, match="pinned but not importable"):
            decode_image_real(png, feature_dim=4, decoder="pil")
    with pytest.raises(ValueError, match="unknown decoder"):
        decode_image_real(png, feature_dim=4, decoder="bicubic")


def test_media_phash_pairs_on_real_png_decode(spark):
    """End-to-end media near-dup over REAL decoded PNGs through the
    registered plan's machinery (extract_features mapInPandas on
    executors -> ahash_pack -> pigeonhole band join): a lightly-edited
    re-encode pairs with its original; an inverted image does not."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_image_real,
        extract_features,
        media_phash_pairs,
    )

    grad = [(x * 4) % 256 for x in range(64)]
    edited = list(grad)
    edited[5] = (edited[5] + 2) % 256  # one-pixel touch-up re-encode
    inverted = [255 - p for p in grad]
    rows = [
        (0, bytearray(_png_encode(grad, 64, 1, color=0))),
        (1, bytearray(_png_encode(edited, 64, 1, color=0))),
        (2, bytearray(_png_encode(inverted, 64, 1, color=0))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = extract_features(
        media,
        decode_fn=lambda p: decode_image_real(p, feature_dim=32),
        feature_dim=32,
    ).select(
        "media_id",
        F.col("features").cast("array<double>").alias("features"),
    )
    pairs = {
        (r["media_id_a"], r["media_id_b"])
        for r in media_phash_pairs(feats, dim=32, max_hamming=3).collect()
    }
    assert pairs == {(0, 1)}


# --- stdlib baseline-JPEG decoder (round 10) --------------------------


def _jpeg_encode_test(blocks_coef, w, h, quant, *, restart_interval=0):
    """Minimal baseline-JPEG ENCODER for tests: single grayscale
    component, caller-chosen QUANTIZED zigzag coefficients per 8x8 block
    (MCU order), custom canonical huffman tables — so the decoder's
    huffman / dequant / zigzag / IDCT path is exercised on bit-exact,
    independently-predictable input."""
    import struct

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _JPEG_ZZ,  # the same constant both sides must agree on anyway
    )

    assert len(_JPEG_ZZ) == 64
    # canonical tables: 12 DC category symbols at length 4; EOB/ZRL +
    # every (run 0-15, size 1-10) AC symbol at length 8 (162 of 256)
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc_counts = [0] * 16
    dc_counts[3] = len(dc_syms)
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)

    def codes(counts, syms):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[syms[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    dc_code, ac_code = codes(dc_counts, dc_syms), codes(ac_counts, ac_syms)

    bits: list[int] = []

    def put(length, value):
        for i in range(length - 1, -1, -1):
            bits.append((value >> i) & 1)

    def put_mag(v):
        """magnitude bits per ISO 10918-1 F.1.2.1 (category = caller)."""
        t = abs(v).bit_length()
        if t:
            put(t, v if v >= 0 else v + (1 << t) - 1)
        return t

    def flush_entropy():
        while len(bits) % 8:
            bits.append(1)  # pad with 1s per spec
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing
        bits.clear()
        return bytes(out)

    entropy = bytearray()
    pred = 0
    for i, coef in enumerate(blocks_coef):
        if restart_interval and i and i % restart_interval == 0:
            entropy += flush_entropy()
            entropy += bytes(
                [0xFF, 0xD0 + ((i // restart_interval - 1) % 8)]
            )
            pred = 0
        diff = coef.get(0, 0) - pred
        pred = coef.get(0, 0)
        t = abs(diff).bit_length()
        ln, cd = dc_code[t]
        put(ln, cd)
        put_mag(diff)
        run = 0
        for k in range(1, 64):
            v = coef.get(k, 0)
            if v == 0:
                run += 1
                continue
            while run >= 16:
                ln, cd = ac_code[0xF0]
                put(ln, cd)
                run -= 16
            s = abs(v).bit_length()
            ln, cd = ac_code[(run << 4) | s]
            put(ln, cd)
            put_mag(v)
            run = 0
        if run:
            ln, cd = ac_code[0x00]
            put(ln, cd)
    entropy += flush_entropy()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(quant))
    out += seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]),
    )
    out += seg(
        0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms)
    )
    out += seg(
        0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _naive_idct(coef_raster):
    """Independent direct-form 2-D IDCT (the textbook double sum) — the
    test's own reference, sharing no code with the decoder's separable
    form."""
    import math

    def c(u):
        return math.sqrt(0.5) if u == 0 else 1.0

    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        c(u) * c(v) * coef_raster[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            p = int(math.floor(s / 4 + 128.5))
            out.append(min(255, max(0, p)))
    return out


def test_decode_jpeg_stdlib_flat_and_textured_blocks_exact():
    """Hand-encoded baseline JPEG with chosen quantized coefficients:
    a flat block must decode EXACTLY (DC-only IDCT is closed-form), a
    textured block must match an independent direct-form IDCT within
    one count (float associativity at the rounding edge)."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _JPEG_ZZ,
        _jpeg_decode_luma,
    )

    quant = [16] * 64
    # flat 200: DC = 8*(200-128)/16 = 36 exactly
    flat = {0: 36}
    textured = {0: -10, 1: 7, 2: -3, 5: 2, 9: -4, 20: 1, 63: -1}
    payload = _jpeg_encode_test([flat, textured], 16, 8, quant)
    w, h, luma = _jpeg_decode_luma(payload)
    assert (w, h) == (16, 8)
    left = [luma[y * 16 + x] for y in range(8) for x in range(8)]
    right = [luma[y * 16 + 8 + x] for y in range(8) for x in range(8)]
    assert left == [200] * 64
    coef_raster = [0.0] * 64
    for k, v in textured.items():
        coef_raster[_JPEG_ZZ[k]] = v * quant[k]
    expect = _naive_idct(coef_raster)
    assert max(abs(a - b) for a, b in zip(right, expect)) <= 1


def test_decode_jpeg_stdlib_restart_intervals_and_dc_prediction():
    """DRI/RSTn handling: with restart_interval=1 the DC predictor must
    reset at each marker (blocks carry ABSOLUTE DC), and without it the
    second block's DC is a diff — both must land the same pixels."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    quant = [16] * 64
    blocks = [{0: 36}, {0: -36}]  # 200-gray then 56-gray
    plain = _jpeg_encode_test(
        [{0: 36}, {0: 0 - 36 + 36}], 16, 8, quant
    )  # diff encoding happens inside the encoder via pred
    with_rst = _jpeg_encode_test(blocks, 16, 8, quant, restart_interval=1)
    # NB: the encoder takes ABSOLUTE DC per block and handles diffs /
    # resets itself, so both payloads must decode identically modulo the
    # second block's value
    w, h, luma_rst = _jpeg_decode_luma(with_rst)
    assert (w, h) == (16, 8)
    assert luma_rst[0] == 200 and luma_rst[8] == 56
    w2, h2, luma_plain = _jpeg_decode_luma(
        _jpeg_encode_test(blocks, 16, 8, quant)
    )
    assert luma_plain == luma_rst


def test_decode_jpeg_stdlib_matches_jvm_imageio_on_wild_jpegs():
    """Differential proof on wild-caught baseline JPEGs (the Spark
    distribution's mllib test images): the stdlib decoder's luma must
    track the JVM ImageIO decode of the same bytes (mean |diff| < 1,
    max <= 8 — Y-vs-RGB-roundtrip luma plus IDCT variance; JPEG permits
    decoder variance, ISO 10918-1 Annex A accuracy bounds)."""
    import os
    import shutil
    import statistics
    import subprocess

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    samples = [
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens/DP153539.jpg",
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/chr30.4.184.jpg",
    ]
    if not all(map(os.path.exists, samples)) or not shutil.which("javac"):
        pytest.skip("wild JPEG samples or JDK not available")
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class JpegRef {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
            int rgb = img.getRGB(x, y);
            sb.append((299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
                       + 114 * (rgb & 255)) / 1000).append(' ');
        }
        System.out.print(sb);
    }
}
"""
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegRef.java", "w") as fh:
            fh.write(src)
        subprocess.run(
            ["javac", "JpegRef.java"], cwd=td, check=True,
            capture_output=True,
        )
        for sample in samples:
            ref_out = subprocess.run(
                ["java", "JpegRef", sample], cwd=td, check=True,
                capture_output=True, text=True,
            ).stdout.split()
            rw, rh = int(ref_out[0]), int(ref_out[1])
            ref = [int(v) for v in ref_out[2:]]
            w, h, mine = _jpeg_decode_luma(open(sample, "rb").read())
            assert (w, h) == (rw, rh)
            diffs = [abs(a - b) for a, b in zip(mine, ref)]
            assert statistics.mean(diffs) < 1.0, sample
            assert max(diffs) <= 8, sample


def test_decode_jpeg_stdlib_refuses_arithmetic_and_garbage():
    """Progressive (SOF2) decodes for real since round 11; the refusal
    surface is now arithmetic coding / hierarchical / lossless modes
    and non-JPEG bytes."""
    import struct

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_jpeg_stdlib,
    )

    with pytest.raises(NotImplementedError, match="not a JPEG"):
        decode_jpeg_stdlib(b"\x89PNG not a jpeg")
    # minimal stream whose frame header declares arithmetic-coded
    # progressive (SOF10/0xCA) — must refuse at the SOF, loudly
    sof10 = (
        b"\xff\xd8"
        + b"\xff\xca"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 8, 8)
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="huffman DCT only"):
        decode_jpeg_stdlib(sof10)


def test_decode_jpeg_stdlib_progressive_matches_jvm_imageio():
    """The round-11 progressive (SOF2) path on WILD bits: the Spark
    mllib grayscale.jpg (6 scans — DC first at Al=1, two spectral
    AC-first bands at Al=2, two AC refinements, one DC refinement, with
    DHT tables redefined between scans) must track the JVM ImageIO
    decode of the same bytes. Compared against the RASTER samples, not
    getRGB — on a TYPE_BYTE_GRAY image getRGB applies the gray->sRGB
    color-management gamma, which is a color-space choice, not decoding
    (measured: raster mean |diff| 0.018; getRGB mean |diff| 47)."""
    import os
    import shutil
    import statistics
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    sample = (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/grayscale.jpg"
    )
    if not os.path.exists(sample) or not shutil.which("javac"):
        pytest.skip("progressive JPEG sample or JDK not available")
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class JpegRefRaw {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
            sb.append(img.getRaster().getSample(x, y, 0)).append(' ');
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegRefRaw.java", "w") as fh:
            fh.write(src)
        subprocess.run(
            ["javac", "JpegRefRaw.java"], cwd=td, check=True,
            capture_output=True,
        )
        ref_out = subprocess.run(
            ["java", "JpegRefRaw", sample], cwd=td, check=True,
            capture_output=True, text=True,
        ).stdout.split()
    rw, rh = int(ref_out[0]), int(ref_out[1])
    ref = [int(v) for v in ref_out[2:]]
    w, h, mine = _jpeg_decode_luma(open(sample, "rb").read())
    assert (w, h) == (rw, rh)
    diffs = [abs(a - b) for a, b in zip(mine, ref)]
    assert statistics.mean(diffs) < 0.1
    assert max(diffs) <= 1


def test_decode_image_real_stdlib_pin_routes_both_codecs():
    """The 'stdlib' pin routes by magic to the matching stdlib kernel;
    JPEG payloads land in the same [0,1] luma feature space as PNG."""
    import os

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_image_real,
        decode_jpeg_stdlib,
        decode_png_stdlib,
    )

    png = _png_encode(list(range(0, 256, 16)), 16, 1, color=0)
    assert decode_image_real(
        png, feature_dim=4, decoder="stdlib"
    ) == decode_png_stdlib(png, feature_dim=4)
    jpg = _jpeg_encode_test([{0: 36}], 8, 8, [16] * 64)
    got = decode_image_real(jpg, feature_dim=4, decoder="stdlib")
    assert got == decode_jpeg_stdlib(jpg, feature_dim=4)
    assert got == [200 / 255.0] * 4
    # the auto/no-PIL branch routes JPEG too now
    assert decode_image_real(jpg, feature_dim=4) == got
    # GIF routes to its own stdlib kernel since round 11 (see
    # test_decode_image_real_stdlib_gif_pin_and_routing); a format with
    # NO stdlib kernel still refuses loudly
    with pytest.raises(NotImplementedError, match="not PNG/JPEG/GIF"):
        decode_image_real(b"BM......", decoder="stdlib")
    sample = (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "kittens/DP153539.jpg"
    )
    if os.path.exists(sample):
        feats = decode_image_real(
            open(sample, "rb").read(), feature_dim=8, decoder="stdlib_jpeg"
        )
        assert len(feats) == 8 and all(0.0 <= f <= 1.0 for f in feats)


def test_decode_jpeg_stdlib_property_random_blocks():
    """Property test over the whole coefficient space: random quantized
    zigzag coefficients (random quant table, random block count, runs of
    zeros included) round-trip through the hand encoder and the decoder
    to within one count of the independent direct-form IDCT — huffman
    tables, magnitude coding, run-length/ZRL/EOB, dequant, zigzag, and
    IDCT all exercised far beyond the fixed fixtures."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _JPEG_ZZ,
        _jpeg_decode_luma,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        blocks=st.lists(
            st.dictionaries(
                st.integers(min_value=0, max_value=63),
                st.integers(min_value=-255, max_value=255).filter(
                    lambda v: v != 0
                ),
                max_size=12,
            ),
            min_size=1,
            max_size=4,
        ),
        q=st.integers(min_value=1, max_value=32),
    )
    def check(blocks, q):
        quant = [q] * 64
        w = 8 * len(blocks)
        payload = _jpeg_encode_test(blocks, w, 8, quant)
        gw, gh, luma = _jpeg_decode_luma(payload)
        assert (gw, gh) == (w, 8)
        for i, coef in enumerate(blocks):
            got = [
                luma[y * w + 8 * i + x] for y in range(8) for x in range(8)
            ]
            raster = [0.0] * 64
            for k, v in coef.items():
                raster[_JPEG_ZZ[k]] = v * quant[k]
            expect = _naive_idct(raster)
            assert max(
                abs(a - b) for a, b in zip(got, expect)
            ) <= 1, (i, coef)

    check()


def test_decode_jpeg_stdlib_fill_bytes_and_truncation():
    """ISO 10918-1 B.1.1.2: any number of 0xFF fill bytes may pad
    before a marker id — spec-valid wild files do this, and the walker
    must skip them rather than parse a fill byte as the marker (which
    misreads a bogus segment length). And a file truncated mid-entropy
    must surface the documented fail-loud NotImplementedError, never a
    bare IndexError."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    quant = [16] * 64
    plain = _jpeg_encode_test([{0: 36, 1: 5, 8: -3}], 8, 8, quant)
    want = _jpeg_decode_luma(plain)
    # pad EVERY segment marker (DQT/SOF0/DHT/DHT/SOS) and EOI with fill
    # bytes: 0xFF <id> -> 0xFF 0xFF 0xFF <id>
    padded = bytearray(plain[:2])
    pos = 2
    for marker_id in (0xDB, 0xC0, 0xC4, 0xC4, 0xDA):
        nxt = plain.index(bytes([0xFF, marker_id]), pos)
        padded += plain[pos:nxt] + b"\xff\xff" + plain[nxt:nxt + 2]
        pos = nxt + 2
    padded += plain[pos:-2] + b"\xff\xff" + plain[-2:]
    assert _jpeg_decode_luma(bytes(padded)) == want
    # truncation mid-entropy: cut one byte into the scan's entropy data
    sos = plain.index(b"\xff\xda")
    truncated = plain[: sos + 2 + 8 + 1]
    with pytest.raises(NotImplementedError, match="truncated entropy"):
        _jpeg_decode_luma(truncated)
    # truncation mid-marker-walk (fill bytes then EOF) is loud too
    with pytest.raises(NotImplementedError, match="truncated marker"):
        _jpeg_decode_luma(plain[:sos] + b"\xff\xff\xff\xff")


def _jpeg_encode_progressive_spectral(blocks_coef, w, h, quant, bands):
    """Progressive TEST ENCODER, spectral selection only (Ah=Al=0): the
    same quantized-coefficient/table conventions as _jpeg_encode_test,
    split into one DC scan plus one AC scan per (ss, se) band — so the
    decoder's multi-scan accumulation path is exercised on input whose
    ground truth is the BASELINE encoding of the identical
    coefficients. Each block's AC band ends with a plain EOB (an EOB
    run of exactly 1), which is spec-legal and keeps the encoder
    trivially correct."""
    import struct

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc_counts = [0] * 16
    dc_counts[3] = len(dc_syms)
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)

    def codes(counts, syms):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[syms[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    dc_code, ac_code = codes(dc_counts, dc_syms), codes(ac_counts, ac_syms)

    def entropy(emit):
        bits = []

        def put(length, value):
            for i in range(length - 1, -1, -1):
                bits.append((value >> i) & 1)

        def put_mag(v):
            t = abs(v).bit_length()
            if t:
                put(t, v if v >= 0 else v + (1 << t) - 1)

        emit(put, put_mag)
        while len(bits) % 8:
            bits.append(1)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)

    def dc_scan(put, put_mag):
        pred = 0
        for coef in blocks_coef:
            diff = coef.get(0, 0) - pred
            pred = coef.get(0, 0)
            t = abs(diff).bit_length()
            ln, cd = dc_code[t]
            put(ln, cd)
            put_mag(diff)

    def ac_scan(ss, se):
        def emit(put, put_mag):
            for coef in blocks_coef:
                run = 0
                for k in range(ss, se + 1):
                    v = coef.get(k, 0)
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        ln, cd = ac_code[0xF0]
                        put(ln, cd)
                        run -= 16
                    s = abs(v).bit_length()
                    ln, cd = ac_code[(run << 4) | s]
                    put(ln, cd)
                    put_mag(v)
                    run = 0
                if run:
                    ln, cd = ac_code[0x00]
                    put(ln, cd)
        return emit

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(quant))
    out += seg(
        0xC2,
        bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
    out += entropy(dc_scan)
    for ss, se in bands:
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, 0x00]))
        out += entropy(ac_scan(ss, se))
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_progressive_spectral_equals_baseline():
    """Spectral-selection progressive of the SAME quantized coefficients
    must decode bit-identically to the baseline encoding — the
    multi-scan accumulation changes delivery order, never values."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    quant = [16] * 64
    blocks = [
        {0: 36, 1: 5, 8: -3, 20: 2},
        {0: -10, 3: 7, 50: -2},
        {0: 0},
        {0: 127, 63: 1},
    ]
    base = _jpeg_decode_luma(_jpeg_encode_test(blocks, 32, 8, quant))
    for bands in ([(1, 63)], [(1, 5), (6, 63)], [(1, 2), (3, 20), (21, 63)]):
        prog = _jpeg_decode_luma(
            _jpeg_encode_progressive_spectral(blocks, 32, 8, quant, bands)
        )
        assert prog == base, bands


def test_decode_jpeg_progressive_spectral_property_random_blocks():
    """Hypothesis sweep: ANY random quantized blocks decode identically
    through the baseline and band-split progressive encodings."""
    from hypothesis import given, settings, strategies as st

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.dictionaries(
                st.integers(min_value=0, max_value=63),
                st.integers(min_value=-255, max_value=255),
                max_size=12,
            ),
            min_size=1,
            max_size=4,
        ),
        st.integers(min_value=1, max_value=62),
    )
    def check(blocks, split):
        blocks = [
            {k: v for k, v in b.items() if v != 0} or {0: 1}
            for b in blocks
        ]
        quant = [16] * 64
        w = 8 * len(blocks)
        base = _jpeg_decode_luma(_jpeg_encode_test(blocks, w, 8, quant))
        prog = _jpeg_decode_luma(
            _jpeg_encode_progressive_spectral(
                blocks, w, 8, quant, [(1, split), (split + 1, 63)]
            )
        )
        assert prog == base

    check()


def test_decode_jpeg_progressive_successive_approximation_exact():
    """Successive approximation decoded scan-by-scan on handmade bits
    (the exact scan script of the wild grayscale.jpg: DC first at Al=1,
    AC first bands at Al=2, AC refinement passes down to Al=0, DC
    refinement): every intermediate coefficient state and the final
    reconstruction must be spec-exact (ISO 10918-1 G.1.2.1-3)."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _JPEG_ZZ,
        _JpegBits,
        _jpeg_ac_first_block,
        _jpeg_ac_refine_block,
        _jpeg_dc_scan_block,
        _jpeg_huffman,
    )

    def lut_for(symbols):
        counts = [0] * 16
        counts[7] = len(symbols)
        return (
            _jpeg_huffman(counts, symbols),
            {s: (8, i) for i, s in enumerate(symbols)},
        )

    class _BW:
        def __init__(self):
            self.bits = []

        def put(self, length, value):
            for i in range(length - 1, -1, -1):
                self.bits.append((value >> i) & 1)

        def bytes(self):
            bits = self.bits[:]
            while len(bits) % 8:
                bits.append(1)
            out = bytearray()
            for i in range(0, len(bits), 8):
                b = 0
                for j in range(8):
                    b = (b << 1) | bits[i + j]
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return builtins_bytes(out)

    builtins_bytes = bytes
    dc_lut, dc_code = lut_for(list(range(12)))
    ac_lut, ac_code = lut_for(
        [0x00, 0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    # target: DC=5; AC zigzag k=1 -> 9, k=3 -> -5, k=10 -> +1, k=50 -> -1
    block = [0] * 64
    # scan 1: DC first, Al=1 (diff of 5>>1 = 2, category 2)
    bw = _BW()
    ln, cd = dc_code[2]
    bw.put(ln, cd)
    bw.put(2, 2)
    _jpeg_dc_scan_block(
        _JpegBits(bw.bytes(), 0), block, dc_lut, 0, 1, {1: 0}, 1
    )
    assert block[0] == 4
    # scan 2: AC first 1-5, Al=2 (k=1: |9|>>2=2; k=3: |5|>>2=1 negative)
    bw = _BW()
    ln, cd = ac_code[(0 << 4) | 2]
    bw.put(ln, cd)
    bw.put(2, 2)
    ln, cd = ac_code[(1 << 4) | 1]
    bw.put(ln, cd)
    bw.put(1, 0)
    ln, cd = ac_code[0x00]
    bw.put(ln, cd)
    _jpeg_ac_first_block(
        _JpegBits(bw.bytes(), 0), block, ac_lut, 1, 5, 2, {"eobrun": 0}
    )
    assert block[_JPEG_ZZ[1]] == 8 and block[_JPEG_ZZ[3]] == -4
    # scan 3: AC first 6-63, Al=2 (nothing reaches magnitude 4: EOB)
    bw = _BW()
    ln, cd = ac_code[0x00]
    bw.put(ln, cd)
    _jpeg_ac_first_block(
        _JpegBits(bw.bytes(), 0), block, ac_lut, 6, 63, 2, {"eobrun": 0}
    )
    # scan 4: AC refine 1-63 Ah=2 Al=1: no new significants; EOB with
    # correction bits for the two nonzero-history coefs (9 bit1=0,
    # 5 bit1=0)
    bw = _BW()
    ln, cd = ac_code[0x00]
    bw.put(ln, cd)
    bw.put(1, 0)
    bw.put(1, 0)
    _jpeg_ac_refine_block(
        _JpegBits(bw.bytes(), 0), block, ac_lut, 1, 63, 1, {"eobrun": 0}
    )
    assert block[_JPEG_ZZ[1]] == 8 and block[_JPEG_ZZ[3]] == -4
    # scan 5: DC refine Al=0 (bit = 5 & 1)
    bw = _BW()
    bw.put(1, 1)
    _jpeg_dc_scan_block(
        _JpegBits(bw.bytes(), 0), block, None, 1, 0, {1: 0}, 1
    )
    assert block[0] == 5
    # scan 6: AC refine 1-63 Ah=1 Al=0: corrections 9->bit0=1, -5->bit0=1;
    # newly significant +1 at k=10 (7 zero-history run) and -1 at k=50
    # (39 zero-history run = ZRL + ZRL + 7); final EOB
    bw = _BW()
    ln, cd = ac_code[(7 << 4) | 1]
    bw.put(ln, cd)
    bw.put(1, 1)  # sign +
    bw.put(1, 1)  # correction k=1
    bw.put(1, 1)  # correction k=3
    for _ in range(2):
        ln, cd = ac_code[0xF0]
        bw.put(ln, cd)
    ln, cd = ac_code[(7 << 4) | 1]
    bw.put(ln, cd)
    bw.put(1, 0)  # sign -
    ln, cd = ac_code[0x00]
    bw.put(ln, cd)
    _jpeg_ac_refine_block(
        _JpegBits(bw.bytes(), 0), block, ac_lut, 1, 63, 0, {"eobrun": 0}
    )
    got = {k: block[_JPEG_ZZ[k]] for k in (0, 1, 3, 10, 50)}
    assert got == {0: 5, 1: 9, 3: -5, 10: 1, 50: -1}


def _jpeg_encode_test_color(
    blocks_y, blocks_cb, blocks_cr, w, h, quant, *, progressive=False
):
    """3-component 4:4:4 color TEST ENCODER (one block per component per
    MCU, interleaved Y Cb Cr), baseline or progressive. The progressive
    form emits one INTERLEAVED DC scan (ns=3) followed by one
    single-component AC scan per component — exactly the two scan
    geometries the color progressive decoder must handle. All three
    components share the one quant/huffman table set (legal and keeps
    the fixture small)."""
    import struct

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc_counts = [0] * 16
    dc_counts[3] = len(dc_syms)
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)

    def codes(counts, syms):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[syms[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    dc_code, ac_code = codes(dc_counts, dc_syms), codes(ac_counts, ac_syms)

    def entropy(emit):
        bits = []

        def put(length, value):
            for i in range(length - 1, -1, -1):
                bits.append((value >> i) & 1)

        def put_mag(v):
            t = abs(v).bit_length()
            if t:
                put(t, v if v >= 0 else v + (1 << t) - 1)

        emit(put, put_mag)
        while len(bits) % 8:
            bits.append(1)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)

    per_comp = [blocks_y, blocks_cb, blocks_cr]

    def put_dc(put, put_mag, diff):
        t = abs(diff).bit_length()
        ln, cd = dc_code[t]
        put(ln, cd)
        put_mag(diff)

    def put_ac_band(put, put_mag, coef, ss, se):
        run = 0
        for k in range(ss, se + 1):
            v = coef.get(k, 0)
            if v == 0:
                run += 1
                continue
            while run >= 16:
                ln, cd = ac_code[0xF0]
                put(ln, cd)
                run -= 16
            s = abs(v).bit_length()
            ln, cd = ac_code[(run << 4) | s]
            put(ln, cd)
            put_mag(v)
            run = 0
        if run:
            ln, cd = ac_code[0x00]
            put(ln, cd)

    def interleaved_full(put, put_mag):
        preds = [0, 0, 0]
        for m in range(len(blocks_y)):
            for ci in range(3):
                coef = per_comp[ci][m]
                diff = coef.get(0, 0) - preds[ci]
                preds[ci] = coef.get(0, 0)
                put_dc(put, put_mag, diff)
                put_ac_band(put, put_mag, coef, 1, 63)

    def interleaved_dc(put, put_mag):
        preds = [0, 0, 0]
        for m in range(len(blocks_y)):
            for ci in range(3):
                coef = per_comp[ci][m]
                diff = coef.get(0, 0) - preds[ci]
                preds[ci] = coef.get(0, 0)
                put_dc(put, put_mag, diff)

    def ac_comp(ci):
        def emit(put, put_mag):
            for coef in per_comp[ci]:
                put_ac_band(put, put_mag, coef, 1, 63)
        return emit

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(quant))
    sof = 0xC2 if progressive else 0xC0
    out += seg(
        sof,
        bytes([8]) + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    if not progressive:
        out += seg(
            0xDA,
            bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]),
        )
        out += entropy(interleaved_full)
    else:
        out += seg(
            0xDA,
            bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x00]),
        )
        out += entropy(interleaved_dc)
        for ci, cid in enumerate((1, 2, 3)):
            out += seg(0xDA, bytes([1, cid, 0x00, 1, 63, 0x00]))
            out += entropy(ac_comp(ci))
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_color_flat_blocks_exact_and_progressive_equal():
    """Chroma IDCT + JFIF conversion on a hand-built 4:4:4 color JPEG:
    flat (DC-only) blocks make every plane closed-form (pixel =
    clamp(floor(dc*q/8 + 128.5))), so the RGB output is checked against
    independently computed values; and the progressive encoding of the
    SAME coefficients (interleaved DC scan + one AC scan per component)
    must decode bit-identically to the baseline."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    quant = [16] * 64

    def plane_val(dc):
        v = int((dc * 16) / 8 + 128.5)
        return 0 if v < 0 else (255 if v > 255 else v)

    def rgb_of(yv, cbv, crv):
        def cl(x):
            return 0 if x < 0 else (255 if x > 255 else int(x + 0.5))
        return (
            cl(yv + 1.402 * (crv - 128)),
            cl(yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128)),
            cl(yv + 1.772 * (cbv - 128)),
        )

    # two MCUs: a reddish block (Cr high) then a bluish one (Cb high)
    ys, cbs, crs = [{0: 10}, {0: -20}], [{0: -30}, {0: 25}], [{0: 35}, {0: -15}]
    base = _jpeg_encode_test_color(ys, cbs, crs, 16, 8, quant)
    w, h, rgb = _jpeg_decode_luma(base, color=True)
    assert (w, h) == (16, 8)
    for m in range(2):
        want = rgb_of(
            plane_val(ys[m][0]), plane_val(cbs[m][0]), plane_val(crs[m][0])
        )
        for yy in range(8):
            for xx in range(8):
                i = 3 * (yy * 16 + m * 8 + xx)
                assert tuple(rgb[i : i + 3]) == want, (m, yy, xx)
    # luma-only decode of a color file still works (chroma skipped)
    _, _, luma = _jpeg_decode_luma(base)
    assert luma[0] == plane_val(ys[0][0]) and luma[8] == plane_val(ys[1][0])
    # progressive twin: same coefficients, identical RGB (and textured
    # blocks to push coefficients through the AC band scans)
    ys2 = [{0: 10, 1: 6, 8: -4}, {0: -20, 5: 3}]
    cbs2 = [{0: -30, 2: -5}, {0: 25}]
    crs2 = [{0: 35}, {0: -15, 10: 7}]
    b2 = _jpeg_encode_test_color(ys2, cbs2, crs2, 16, 8, quant)
    p2 = _jpeg_encode_test_color(
        ys2, cbs2, crs2, 16, 8, quant, progressive=True
    )
    assert _jpeg_decode_luma(p2, color=True) == _jpeg_decode_luma(
        b2, color=True
    )
    assert _jpeg_decode_luma(p2) == _jpeg_decode_luma(b2)


def test_decode_jpeg_color_matches_jvm_imageio_on_wild_jpegs():
    """RGB decode vs JVM ImageIO getRGB on wild-caught color JPEGs.
    Chroma upsampling is a decoder choice (we replicate; libjpeg-based
    decoders default to triangular 'fancy' upsampling), so bounds are
    looser than the luma test on chroma-edge-heavy content: mean < 3,
    max <= 32 (measured: kitten mean 0.14/max 7; microscopy image with
    saturated chroma edges mean 1.84/max 27)."""
    import os
    import shutil
    import statistics
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
    )

    samples = [
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens/DP153539.jpg",
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/chr30.4.184.jpg",
    ]
    if not all(map(os.path.exists, samples)) or not shutil.which("javac"):
        pytest.skip("wild JPEG samples or JDK not available")
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class JpegRgb {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
            int rgb = img.getRGB(x, y);
            sb.append((rgb >> 16) & 255).append(' ')
              .append((rgb >> 8) & 255).append(' ')
              .append(rgb & 255).append(' ');
        }
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegRgb.java", "w") as fh:
            fh.write(src)
        subprocess.run(
            ["javac", "JpegRgb.java"], cwd=td, check=True,
            capture_output=True,
        )
        for sample in samples:
            ref_out = subprocess.run(
                ["java", "JpegRgb", sample], cwd=td, check=True,
                capture_output=True, text=True,
            ).stdout.split()
            rw, rh = int(ref_out[0]), int(ref_out[1])
            ref = [int(v) for v in ref_out[2:]]
            w, h, mine = _jpeg_decode_luma(
                open(sample, "rb").read(), color=True
            )
            assert (w, h) == (rw, rh)
            diffs = [abs(a - b) for a, b in zip(mine, ref)]
            assert statistics.mean(diffs) < 3.0, sample
            assert max(diffs) <= 32, sample


def test_decode_jpeg_rgb_features_and_grayscale_degrade():
    """decode_jpeg_rgb_stdlib: 3*feature_dim floats in [0,1]; on a
    grayscale (single-component) frame — including the wild PROGRESSIVE
    one — R = G = B, so the color features collapse to the luma family
    exactly."""
    import os

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_jpeg_rgb_stdlib,
        decode_jpeg_stdlib,
    )

    quant = [16] * 64
    jpg = _jpeg_encode_test([{0: 36}, {0: -12}], 16, 8, quant)
    rgbf = decode_jpeg_rgb_stdlib(jpg, feature_dim=4)
    lumaf = decode_jpeg_stdlib(jpg, feature_dim=4)
    assert len(rgbf) == 12 and all(0.0 <= f <= 1.0 for f in rgbf)
    for j in range(4):
        assert rgbf[3 * j] == rgbf[3 * j + 1] == rgbf[3 * j + 2]
        assert abs(rgbf[3 * j] - lumaf[j]) < 1e-12
    progressive = (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/grayscale.jpg"
    )
    if os.path.exists(progressive):
        payload = open(progressive, "rb").read()
        rgbf = decode_jpeg_rgb_stdlib(payload, feature_dim=8)
        lumaf = decode_jpeg_stdlib(payload, feature_dim=8)
        for j in range(8):
            assert rgbf[3 * j] == rgbf[3 * j + 1] == rgbf[3 * j + 2]
            assert abs(rgbf[3 * j] - lumaf[j]) < 1e-12


def test_media_phash_pairs_color_separates_luma_twins(spark):
    """The round-11 color pin end-to-end through the registered plan's
    machinery (extract_features mapInPandas on executors -> ahash_pack
    -> pigeonhole band join), on TRUE JPEG bits: two images with
    IDENTICAL luma but opposite chroma (red-tinted vs blue-tinted) are
    indistinguishable to every luma kernel — stdlib_jpeg pairs them as
    near-dups — while the stdlib_jpeg_rgb kernel separates them AND
    still pairs a lightly-retouched re-encode with its original. The
    aHash/band machinery is feature-length-generic, so the color family
    rides the same plan unchanged."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_image_real,
        extract_features,
        media_phash_pairs,
    )

    quant = [16] * 64
    n_mcu = 16
    ys = [{0: 4 * m - 30} for m in range(n_mcu)]      # luma gradient
    ys_edit = [dict(b) for b in ys]
    ys_edit[5][0] += 1                                # one-block touch-up
    red = [{0: -40}] * n_mcu, [{0: 45}] * n_mcu       # (cb, cr)
    blue = [{0: 45}] * n_mcu, [{0: -40}] * n_mcu
    rows = [
        (0, bytearray(_jpeg_encode_test_color(
            ys, red[0], red[1], 8 * n_mcu, 8, quant))),
        (1, bytearray(_jpeg_encode_test_color(
            ys_edit, red[0], red[1], 8 * n_mcu, 8, quant))),
        (2, bytearray(_jpeg_encode_test_color(
            ys, blue[0], blue[1], 8 * n_mcu, 8, quant))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    def pairs_with(decoder, feature_dim, dim):
        feats = extract_features(
            media,
            decode_fn=lambda p: decode_image_real(
                p, feature_dim=feature_dim, decoder=decoder
            ),
            feature_dim=dim,
        ).select(
            "media_id",
            F.col("features").cast("array<double>").alias("features"),
        )
        return {
            (r["media_id_a"], r["media_id_b"])
            for r in media_phash_pairs(
                feats, dim=dim, max_hamming=3
            ).collect()
        }

    # luma kernel: all three images collapse to one near-dup family
    # (identical Y gradient) — the color-blindness being fixed
    assert pairs_with("stdlib_jpeg", 16, 16) == {(0, 1), (0, 2), (1, 2)}
    # color kernel: the retouch still pairs; the color twin separates
    assert pairs_with("stdlib_jpeg_rgb", 16, 48) == {(0, 1)}


# --- stdlib PCM WAV decoder (round 11) --------------------------------


def _wav_encode_test(samples_by_channel, rate=8000, bits=16, *, extra_chunk=None):
    """Minimal RIFF/WAVE test encoder (independent of the decoder):
    interleaves channels, 16-bit signed or 8-bit unsigned PCM, with an
    optional unknown chunk spliced before data to prove the walk skips
    it."""
    import struct

    n_ch = len(samples_by_channel)
    n = len(samples_by_channel[0])
    inter = [
        samples_by_channel[c][i] for i in range(n) for c in range(n_ch)
    ]
    if bits == 16:
        body = struct.pack(f"<{len(inter)}h", *inter)
        balign, brate = 2 * n_ch, rate * 2 * n_ch
    else:
        body = bytes((v + 128) & 0xFF for v in inter)
        balign, brate = n_ch, rate * n_ch
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, brate, balign, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk is not None:
        cbody = extra_chunk[4:]
        chunks += (
            extra_chunk[:4]
            + struct.pack("<I", len(cbody))
            + cbody
            + (b"\x00" if len(cbody) & 1 else b"")  # RIFF word alignment
        )
    chunks += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_stdlib_rms_exact_downmix_and_chunk_skip():
    """Block-RMS envelope checked against an independent numpy
    computation; stereo downmixes by mean; 8-bit unsigned decodes to
    the same envelope as its 16-bit twin (+-quantization); unknown RIFF
    chunks are skipped by size."""
    import math

    import numpy as np

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_wav_stdlib,
    )

    rate, n = 8000, 640
    left = [int(20000 * math.sin(2 * math.pi * 440 * i / rate)) for i in range(n)]
    right = [int(8000 * math.sin(2 * math.pi * 220 * i / rate)) for i in range(n)]
    wav = _wav_encode_test([left, right], rate)
    got = decode_wav_stdlib(wav, feature_dim=4)
    mono = (np.array(left) + np.array(right)) / (2 * 32768.0)
    want = [
        float(np.sqrt(np.mean(mono[j * 160 : (j + 1) * 160] ** 2)))
        for j in range(4)
    ]
    assert all(abs(g - w) < 1e-9 for g, w in zip(got, want))
    # unknown chunk (LIST) before data: identical decode
    wav_list = _wav_encode_test(
        [left, right], rate, extra_chunk=b"LISTjunk-metadata-bytes"
    )
    assert decode_wav_stdlib(wav_list, feature_dim=4) == got
    # 8-bit twin: same envelope within 8-bit quantization error
    l8 = [v // 256 for v in left]
    got8 = decode_wav_stdlib(
        _wav_encode_test([l8], rate, bits=8), feature_dim=4
    )
    m8 = np.array(l8) / 128.0
    want8 = [
        float(np.sqrt(np.mean(m8[j * 160 : (j + 1) * 160] ** 2)))
        for j in range(4)
    ]
    assert all(abs(g - w) < 1e-9 for g, w in zip(got8, want8))


def test_decode_wav_stdlib_refusals_are_loud():
    import struct

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_wav_stdlib,
    )

    with pytest.raises(NotImplementedError, match="not a RIFF"):
        decode_wav_stdlib(b"\x89PNG not audio")
    ok = _wav_encode_test([[0, 100, -100, 50]], 8000)
    # IEEE-float format code decodes since round 11 — but only at the
    # spec bit depths; a 16-bit float claim refuses loudly
    floaty = bytearray(ok)
    floaty[20:22] = struct.pack("<H", 3)
    with pytest.raises(NotImplementedError, match="16-bit IEEE float"):
        decode_wav_stdlib(bytes(floaty))
    # G.711 decodes since round 13 — but only at the spec's 8-bit
    # depth; an A-law claim over these 16-bit samples refuses loudly
    alaw = bytearray(ok)
    alaw[20:22] = struct.pack("<H", 6)
    with pytest.raises(NotImplementedError, match="16-bit A-law"):
        decode_wav_stdlib(bytes(alaw))
    # extensible still refuses, naming the format code
    ext = bytearray(ok)
    ext[20:22] = struct.pack("<H", 0xFFFE)
    with pytest.raises(NotImplementedError, match="audio format 65534"):
        decode_wav_stdlib(bytes(ext))
    # 24-bit depth
    deep = bytearray(ok)
    deep[34:36] = struct.pack("<H", 24)
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_wav_stdlib(bytes(deep))
    # truncated data chunk
    with pytest.raises(NotImplementedError, match="truncated 'data'"):
        decode_wav_stdlib(ok[:-3])


def test_media_phash_pairs_on_real_wav_decode(spark):
    """Audio near-dup through the SAME machinery the image corpora use
    (extract_features mapInPandas -> ahash_pack -> pigeonhole band
    join), on true PCM bits: a re-gained re-encode of a recording has a
    proportionally scaled RMS envelope — aHash's brighter-than-mean rule
    is gain-invariant, so the pair is found — while a different
    recording (reversed envelope) is not."""
    import math

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_wav_stdlib,
        extract_features,
        media_phash_pairs,
    )

    rate, n = 8000, 32 * 40
    # amplitude envelope rising over 32 blocks; the "other" recording
    # falls instead
    def tone(env):
        return [
            int(env(i) * math.sin(2 * math.pi * 440 * i / rate) * 28000)
            for i in range(n)
        ]

    rising = tone(lambda i: (i // 40 + 1) / 32.0)
    regain = [int(v * 0.55) for v in rising]  # re-encoded at lower gain
    falling = tone(lambda i: (32 - i // 40) / 32.0)
    rows = [
        (0, bytearray(_wav_encode_test([rising], rate))),
        (1, bytearray(_wav_encode_test([regain], rate))),
        (2, bytearray(_wav_encode_test([falling], rate))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = extract_features(
        media,
        decode_fn=lambda p: decode_wav_stdlib(p, feature_dim=32),
        feature_dim=32,
    ).select(
        "media_id",
        F.col("features").cast("array<double>").alias("features"),
    )
    pairs = {
        (r["media_id_a"], r["media_id_b"])
        for r in media_phash_pairs(feats, dim=32, max_hamming=3).collect()
    }
    assert pairs == {(0, 1)}


# --- GIF decode (round 11: fourth real-bits medium + real frame sampling)


def _gif_lzw_encode_test(min_code_size, indexes):
    """Independent GIF-LZW COMPRESSOR (test-side only, shares no code
    with the decoder): greedy longest-match table build, variable code
    width with the canonical grow rule (width++ when the just-assigned
    code reaches 1 << width), LSB-first bit packing."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    bits = []

    def emit(code, w):
        bits.append((code, w))

    emit(clear, width)
    prev = ()
    for p in indexes:
        cur = prev + (p,)
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        prev = (p,)
    if prev:
        emit(table[prev], width)
    emit(end, width)
    buf = n = 0
    out = bytearray()
    for code, w in bits:
        buf |= code << n
        n += w
        while n >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            n -= 8
    if n:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_interlace_rows(h):
    return [r for f, s in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(f, h, s)]


def _gif_encode_test(sw, sh, palette, frames, *, bg=0, magic=b"GIF89a"):
    """Hand-built GIF encoder: global color table, per-frame rects,
    GIF89a graphic-control extensions (disposal/transparency), optional
    interlace (rows written in pass order). ``frames`` entries:
    (left, top, w, h, row-major indexes, opts) with opts keys
    disposal / transparent / interlace."""
    import struct

    depth = 1
    while (2 << (depth - 1)) < len(palette):
        depth += 1
    n_colors = 2 << (depth - 1)
    out = bytearray(magic)
    out += struct.pack("<HH", sw, sh)
    out.append(0x80 | (depth - 1))  # GCT flag + size
    out.append(bg)
    out.append(0)  # aspect
    for i in range(n_colors):
        out += bytes(palette[i] if i < len(palette) else (0, 0, 0))
    for left, top, w, h, idx, opts in frames:
        disposal = opts.get("disposal", 0)
        transparent = opts.get("transparent")
        if disposal or transparent is not None:
            out += bytes([0x21, 0xF9, 4])
            out.append(
                ((disposal & 7) << 2)
                | (1 if transparent is not None else 0)
            )
            out += struct.pack("<H", 0)  # delay
            out.append(transparent if transparent is not None else 0)
            out.append(0)
        out.append(0x2C)
        out += struct.pack("<HHHH", left, top, w, h)
        out.append(0x40 if opts.get("interlace") else 0x00)
        if opts.get("interlace"):
            idx = [
                v
                for r in _gif_interlace_rows(h)
                for v in idx[r * w : (r + 1) * w]
            ]
        mcs = max(2, depth)
        out.append(mcs)
        lzw = _gif_lzw_encode_test(mcs, idx)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


_GIF_PAL4 = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
#: ITU-601 luma of _GIF_PAL4 (299r + 587g + 114b) // 1000
_GIF_PAL4_Y = [0, 255, 76, 29]


def test_decode_gif_stdlib_static_exact():
    """Single-frame GIF: LZW round-trip and palette->luma are exact."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
        decode_gif_stdlib,
    )

    idx = [0, 1, 2, 3,
           3, 2, 1, 0,
           1, 1, 2, 2]
    payload = _gif_encode_test(
        4, 3, _GIF_PAL4, [(0, 0, 4, 3, idx, {})]
    )
    frames = decode_gif_frames(payload)
    assert len(frames) == 1
    w, h, luma = frames[0]
    assert (w, h) == (4, 3)
    assert luma == [_GIF_PAL4_Y[v] for v in idx]
    feats = decode_gif_stdlib(payload, feature_dim=4)
    n = len(luma)
    want = [
        sum(luma[(j * n) // 4 : ((j + 1) * n) // 4])
        / ((((j + 1) * n) // 4 - (j * n) // 4) * 255.0)
        for j in range(4)
    ]
    assert feats == want


def test_decode_gif_animation_composition_and_disposals():
    """Composed animation semantics: frame rects paint onto the canvas,
    transparent pixels hold what is underneath, disposal 2 restores the
    frame's rect to the background color, disposal 3 restores the
    pre-frame canvas."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
    )

    base = [1] * 16  # 4x4 all white
    # frame 2: 2x2 red patch at (1,1) with one transparent pixel,
    # disposal 3 (restore previous after showing)
    patch = [2, 3,
             2, 0]
    # frame 3: full-canvas repaint to blue
    blue = [3] * 16
    payload = _gif_encode_test(
        4, 4, _GIF_PAL4,
        [
            (0, 0, 4, 4, base, {"disposal": 1}),
            (1, 1, 2, 2, patch, {"disposal": 3, "transparent": 0}),
            (0, 0, 4, 4, blue, {}),
        ],
    )
    frames = decode_gif_frames(payload)
    assert len(frames) == 3
    y = _GIF_PAL4_Y
    f1 = frames[0][2]
    assert f1 == [y[1]] * 16
    f2 = frames[1][2]
    want2 = [y[1]] * 16
    want2[5], want2[6] = y[2], y[3]   # (1,1) (2,1)
    want2[9] = y[2]                   # (1,2); (2,2) transparent -> white
    assert f2 == want2
    # disposal 3 restored the white canvas before frame 3 painted it all
    f3 = frames[2][2]
    assert f3 == [y[3]] * 16
    # max_frames stops early with identical prefixes
    assert decode_gif_frames(payload, max_frames=2)[1][2] == f2


def test_decode_gif_disposal_background_restore():
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
    )

    patch = [2, 2, 2, 2]
    # bg color 1 (white); patch shown with disposal 2 then a transparent
    # frame: the patch rect must read as BACKGROUND, not as the patch
    payload = _gif_encode_test(
        4, 4, _GIF_PAL4,
        [
            (1, 1, 2, 2, patch, {"disposal": 2}),
            (0, 0, 4, 4, [0] * 16, {"transparent": 0}),
        ],
        bg=1,
    )
    frames = decode_gif_frames(payload)
    y = _GIF_PAL4_Y
    f1 = frames[0][2]
    assert f1.count(y[2]) == 4 and f1.count(y[1]) == 12
    assert frames[1][2] == [y[1]] * 16


def test_decode_gif_interlaced_equals_progressive_order():
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
    )

    # 4x9 vertical gradient-ish pattern, enough rows for all 4 passes
    idx = [(r % 4) for r in range(9) for _ in range(4)]
    plain = _gif_encode_test(4, 9, _GIF_PAL4, [(0, 0, 4, 9, idx, {})])
    inter = _gif_encode_test(
        4, 9, _GIF_PAL4, [(0, 0, 4, 9, idx, {"interlace": True})]
    )
    assert inter != plain  # rows really were reordered on disk
    assert decode_gif_frames(inter) == decode_gif_frames(plain)


def test_decode_gif_matches_jvm_imageio_on_wild_gifs():
    """Differential proof on wild-caught GIFs (the libxslt doc images,
    GIF87a and GIF89a, 8-bit and 6-bit palettes): GIF is lossless, so
    the bar is EXACT equality with the JVM ImageIO decode — unlike the
    JPEG differential's IDCT-variance tolerance."""
    import glob
    import os
    import shutil
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
    )

    samples = sorted(glob.glob("/usr/share/doc/libxslt1-dev/html/*.gif"))
    if not samples or not shutil.which("javac"):
        pytest.skip("wild GIF samples or JDK not available")
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class GifRef {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
            int rgb = img.getRGB(x, y);
            sb.append((299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
                       + 114 * (rgb & 255)) / 1000).append(' ');
        }
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/GifRef.java", "w") as fh:
            fh.write(src)
        subprocess.run(
            ["javac", "GifRef.java"], cwd=td, check=True,
            capture_output=True,
        )
        for sample in samples:
            ref_out = subprocess.run(
                ["java", "GifRef", sample], cwd=td, check=True,
                capture_output=True, text=True,
            ).stdout.split()
            rw, rh = int(ref_out[0]), int(ref_out[1])
            ref = [int(v) for v in ref_out[2:]]
            w, h, mine = decode_gif_frames(
                open(sample, "rb").read(), max_frames=1
            )[0]
            assert (w, h) == (rw, rh), sample
            assert mine == ref, sample


def test_decode_gif_refuses_garbage_and_truncation():
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
        decode_gif_stdlib,
        gray_frame_features,
    )

    with pytest.raises(NotImplementedError, match="not a GIF"):
        decode_gif_stdlib(b"RIFFxxxxWAVE")
    idx = [0, 1, 2, 3]
    good = _gif_encode_test(4, 1, _GIF_PAL4, [(0, 0, 4, 1, idx, {})])
    with pytest.raises(NotImplementedError, match="truncated|ends before"):
        decode_gif_frames(good[:20])
    # corrupt the LZW stream length mid-image
    with pytest.raises(NotImplementedError):
        decode_gif_frames(good[:-3])
    with pytest.raises(NotImplementedError, match="not a GRY8"):
        gray_frame_features(b"nope")


def test_decode_image_real_stdlib_gif_pin_and_routing():
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_stdlib,
        decode_image_real,
    )

    idx = [0, 1, 2, 3, 3, 2, 1, 0]
    payload = _gif_encode_test(4, 2, _GIF_PAL4, [(0, 0, 4, 2, idx, {})])
    want = decode_gif_stdlib(payload, feature_dim=4)
    assert decode_image_real(
        payload, feature_dim=4, decoder="stdlib_gif"
    ) == want
    assert decode_image_real(
        payload, feature_dim=4, decoder="stdlib"
    ) == want


def test_sample_frames_real_gif_animation(spark):
    """The video seam on TRUE bits: an animated GIF through
    sample_frames(frame_fn=gif_frame_fn) yields composed GRY8 frames
    whose features change exactly where the animation changes and hold
    the last frame beyond the clip's end (the standard sampler behavior
    for short clips)."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        gif_frame_fn,
        gray_frame_features,
        sample_frames,
    )

    white = [1] * 16
    dark = [0] * 16
    payload = _gif_encode_test(
        4, 4, _GIF_PAL4,
        [(0, 0, 4, 4, white, {}), (0, 0, 4, 4, dark, {})],
    )
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    ).withColumn(
        "meta",
        F.struct(
            F.lit("image/gif").alias("mime"),
            F.lit(4).cast("long").alias("width"),
            F.lit(4).cast("long").alias("height"),
            F.lit(len(payload)).cast("long").alias("n_bytes"),
        ),
    )
    rows = (
        sample_frames(media, n_frames=3, frame_fn=gif_frame_fn)
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    feats = [
        gray_frame_features(bytes(r["frame"]), feature_dim=4)
        for r in rows
    ]
    assert feats[0] == [1.0, 1.0, 1.0, 1.0]   # all-white frame
    assert feats[1] == [0.0, 0.0, 0.0, 0.0]   # animation went dark
    assert feats[2] == feats[1]               # grid past clip: hold last


def test_decode_gif_property_random_frames():
    """Property sweep mirroring the JPEG random-block test: random
    canvas sizes, palettes, pixel indexes, and the interlace flag must
    round-trip the independent test encoder -> decoder EXACTLY (GIF is
    lossless)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        n_colors=st.integers(2, 16),
        interlace=st.booleans(),
        data=st.data(),
    )
    def run(w, h, n_colors, interlace, data):
        palette = [
            (
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
            )
            for _ in range(n_colors)
        ]
        idx = [
            data.draw(st.integers(0, n_colors - 1)) for _ in range(w * h)
        ]
        payload = _gif_encode_test(
            w, h, palette,
            [(0, 0, w, h, idx, {"interlace": interlace})],
        )
        (gw, gh, luma), = decode_gif_frames(payload)
        assert (gw, gh) == (w, h)
        y = [
            (299 * r + 587 * g + 114 * b) // 1000 for r, g, b in palette
        ]
        assert luma == [y[v] for v in idx]

    run()


# --- PNG palette support + wild-file differential (round 11) ----------


def _png_encode_palette(indexes, width, height, depth, palette, filters=None):
    """Hand-built PALETTE PNG (test-side): PLTE chunk, MSB-first
    sub-byte packing per RFC 2083 §2.3, per-row filter bytes."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    plte = b"".join(bytes(c) for c in palette)
    stride = (width * depth + 7) // 8
    raw = bytearray()
    filters = filters or [0] * height
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(stride)
        for x in range(width):
            off = x * depth
            line[off >> 3] |= indexes[y * width + x] << (
                8 - depth - (off & 7)
            )
        ftype = filters[y]
        out = bytearray(line)
        if ftype == 1:  # Sub, bpp = 1 byte
            for i in range(stride - 1, 0, -1):
                out[i] = (out[i] - out[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                out[i] = (out[i] - prev[i]) & 0xFF
        raw.append(ftype)
        raw.extend(out)
        prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_stdlib_palette_subbyte_exact():
    """Palette PNGs at sub-byte depths: MSB-first unpacking, PLTE->luma,
    and byte-level filtering (Sub/Up at bpp=1) are all exact."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    pal = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
    y = [0, 255, 76, 29]
    idx = [0, 1, 2, 3, 3, 2,
           1, 0, 1, 2, 3, 0,
           2, 2, 1, 1, 0, 3]
    for depth in (2, 4, 8):
        for filters in ([0, 0, 0], [0, 1, 2]):
            png = _png_encode_palette(idx, 6, 3, depth, pal, filters)
            feats = decode_png_stdlib(png, feature_dim=18)
            assert [round(v * 255) for v in feats] == [y[v] for v in idx], (
                depth,
                filters,
            )
    # depth 1, two-entry palette
    bw = _png_encode_palette([0, 1, 1, 0, 1, 0, 0, 1], 8, 1, 1, pal[:2])
    feats = decode_png_stdlib(bw, feature_dim=8)
    assert [round(v * 255) for v in feats] == [0, 255, 255, 0, 255, 0, 0, 255]
    # palette without PLTE refuses
    import pytest

    broken = bw.replace(b"PLTE", b"plTe")  # chunk walk no longer sees it
    with pytest.raises(NotImplementedError, match="without a valid PLTE"):
        decode_png_stdlib(broken, feature_dim=4)


def test_decode_png_stdlib_matches_jvm_imageio_on_wild_pngs():
    """Differential proof on wild-caught PNGs — the Spark mllib RGBA
    samples plus the gitweb PALETTE files (bit depths 2 and 8): PNG is
    lossless, so the bar is EXACT equality with the JVM ImageIO decode
    (same bar as the GIF differential; JPEG alone gets IDCT
    tolerance)."""
    import os
    import shutil
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    samples = [
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/BGRA.png",
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/BGRA_alpha_60.png",
        "/usr/share/gitweb/static/git-favicon.png",
        "/usr/share/gitweb/static/git-logo.png",
    ]
    samples = [s for s in samples if os.path.exists(s)]
    if len(samples) < 2 or not shutil.which("javac"):
        pytest.skip("wild PNG samples or JDK not available")
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class PngRef {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
            int rgb = img.getRGB(x, y);
            sb.append((299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
                       + 114 * (rgb & 255)) / 1000).append(' ');
        }
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/PngRef.java", "w") as fh:
            fh.write(src)
        subprocess.run(
            ["javac", "PngRef.java"], cwd=td, check=True,
            capture_output=True,
        )
        for sample in samples:
            ref_out = subprocess.run(
                ["java", "PngRef", sample], cwd=td, check=True,
                capture_output=True, text=True,
            ).stdout.split()
            rw, rh = int(ref_out[0]), int(ref_out[1])
            ref = [int(v) for v in ref_out[2:]]
            feats = decode_png_stdlib(
                open(sample, "rb").read(), feature_dim=rw * rh
            )
            mine = [round(v * 255) for v in feats]
            assert mine == ref, sample


# --- Adam7 interlaced PNG (round 11) ----------------------------------

_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_encode_adam7_gray(pixels, width, height, filters_by_pass=None):
    """Hand-built Adam7 GRAYSCALE PNG (test-side): seven sub-images,
    each with its own scanline filter bytes, gathered by the pass
    grid."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 1)
    raw = bytearray()
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
        pw = 0 if width <= x0 else (width - x0 + dx - 1) // dx
        ph = 0 if height <= y0 else (height - y0 + dy - 1) // dy
        if pw == 0 or ph == 0:
            continue
        ftype = (filters_by_pass or {}).get(p, 0)
        prev = bytearray(pw)
        for j in range(ph):
            line = bytearray(
                pixels[(y0 + j * dy) * width + x0 + i * dx]
                for i in range(pw)
            )
            out = bytearray(line)
            if ftype == 1:  # Sub
                for i in range(pw - 1, 0, -1):
                    out[i] = (out[i] - out[i - 1]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(pw):
                    out[i] = (out[i] - prev[i]) & 0xFF
            raw.append(ftype)
            raw.extend(out)
            prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_adam7_equals_sequential():
    """An Adam7 encoding of the same pixels decodes identically to the
    sequential encoding — per-pass filtering (None/Sub/Up at per-pass
    strides) and the scatter grid are exact; covers non-multiple-of-8
    dimensions where late passes dominate and early passes are tiny."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    for w, h in [(11, 7), (8, 8), (3, 2), (1, 1), (16, 5)]:
        pixels = [(x * 31 + y * 17 + x * y) % 256
                  for y in range(h) for x in range(w)]
        plain = _png_encode(pixels, w, h, color=0)
        inter = _png_encode_adam7_gray(pixels, w, h)
        assert inter != plain
        n = w * h
        assert decode_png_stdlib(inter, feature_dim=n) == decode_png_stdlib(
            plain, feature_dim=n
        ), (w, h)
        filt = _png_encode_adam7_gray(
            pixels, w, h, filters_by_pass={5: 1, 6: 2}
        )
        assert decode_png_stdlib(filt, feature_dim=n) == decode_png_stdlib(
            plain, feature_dim=n
        ), (w, h, "filtered")


def test_decode_png_adam7_matches_jvm_imageio():
    """The hand-built Adam7 file is also decoded by JVM ImageIO — the
    independent reference proves the ENCODER is real Adam7 and the
    decoder gathers it exactly (not just self-consistency)."""
    import os
    import shutil
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_png_stdlib,
    )

    if not shutil.which("javac"):
        pytest.skip("JDK not available")
    w, h = 13, 9
    pixels = [(x * 29 + y * 43) % 256 for y in range(h) for x in range(w)]
    png = _png_encode_adam7_gray(pixels, w, h, filters_by_pass={6: 1})
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class A7Ref {
    public static void main(String[] args) throws Exception {
        // RAW raster, not getRGB: gray -> sRGB gamma would lift every
        // sample (the progressive-JPEG differential hit the same trap)
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
            sb.append(img.getRaster().getSample(x, y, 0)).append(' ');
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/A7Ref.java", "w") as fh:
            fh.write(src)
        with open(f"{td}/a7.png", "wb") as fh:
            fh.write(png)
        subprocess.run(
            ["javac", "A7Ref.java"], cwd=td, check=True, capture_output=True
        )
        out = subprocess.run(
            ["java", "A7Ref", "a7.png"], cwd=td, check=True,
            capture_output=True, text=True,
        ).stdout.split()
        assert (int(out[0]), int(out[1])) == (w, h)
        ref = [int(v) for v in out[2:]]
    assert ref == pixels  # ImageIO agrees the file holds these pixels
    feats = decode_png_stdlib(png, feature_dim=w * h)
    assert [round(v * 255) for v in feats] == pixels


def test_decode_wav_stdlib_ieee_float():
    """IEEE-float WAV (format 3, 32- and 64-bit): samples pass through
    unscaled, so the envelope equals the numpy computation exactly and
    a float re-encode of an integer recording keeps its envelope."""
    import math
    import struct

    import numpy as np

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_wav_stdlib,
    )

    rate, n = 8000, 320
    mono = [0.6 * math.sin(2 * math.pi * 330 * i / rate) for i in range(n)]
    for bits, code in ((32, "f"), (64, "d")):
        body = struct.pack(f"<{n}{code}", *mono)
        fmt = struct.pack(
            "<HHIIHH", 3, 1, rate, rate * bits // 8, bits // 8, bits
        )
        wav = (
            b"RIFF"
            + struct.pack("<I", 4 + 16 + 8 + len(body) + 8)
            + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(body)) + body
        )
        got = decode_wav_stdlib(wav, feature_dim=4)
        arr = np.array(mono, dtype=np.float32 if bits == 32 else np.float64)
        want = [
            float(np.sqrt(np.mean(arr[j * 80 : (j + 1) * 80].astype(np.float64) ** 2)))
            for j in range(4)
        ]
        assert all(abs(g - w) < 1e-7 for g, w in zip(got, want)), bits


def test_decode_wav_stdlib_float_guards():
    """Only the float path can smuggle non-finite or out-of-range
    samples (integer PCM cannot): NaN/inf refuse loudly — a NaN feature
    silently poisons aHash voting downstream — and unclipped masters
    clip to full scale, keeping the [0, 1] feature contract."""
    import struct

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_wav_stdlib,
    )

    def fwav(samples):
        body = struct.pack(f"<{len(samples)}f", *samples)
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        return (
            b"RIFF" + struct.pack("<I", 4 + 24 + 8 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(body)) + body
        )

    with pytest.raises(NotImplementedError, match="non-finite"):
        decode_wav_stdlib(fwav([0.1, float("nan"), 0.2, 0.3]))
    with pytest.raises(NotImplementedError, match="non-finite"):
        decode_wav_stdlib(fwav([0.1, float("inf"), 0.2, 0.3]))
    # unclipped master: |v| > 1 clips to full scale, envelope stays <= 1
    got = decode_wav_stdlib(fwav([4.0, -4.0, 4.0, -4.0]), feature_dim=2)
    assert got == [1.0, 1.0]


# --- encode_gif: the animated-GIF sink ---------------------------------


def test_encode_gif_roundtrip_animation_and_validation():
    """The engine encoder -> engine decoder round trip on an animation
    with rects, disposal, transparency, and interlace (GIF is lossless
    on indexed pixels, so the bar is exact equality with the composed
    reference), plus the loud-refusal edges."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif,
    )

    pal = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    idx0 = [(i * 7) % 4 for i in range(64)]
    rect = [(i * 3 + 1) % 4 for i in range(16)]
    payload = encode_gif(
        8, 8, pal,
        [
            (0, 0, 8, 8, idx0, {"interlace": True}),
            (2, 2, 4, 4, rect, {"disposal": 1, "transparent": 1}),
        ],
    )
    frames = decode_gif_frames(payload)
    assert len(frames) == 2
    exp0 = [85 * v for v in idx0]
    assert frames[0] == (8, 8, exp0)
    comp = list(exp0)
    for r in range(4):
        for c in range(4):
            v = rect[r * 4 + c]
            if v != 1:  # transparent index keeps the underlying pixel
                comp[(2 + r) * 8 + (2 + c)] = 85 * v
    assert frames[1] == (8, 8, comp)
    with pytest.raises(ValueError, match="outside the screen"):
        encode_gif(8, 8, pal, [(4, 4, 8, 8, idx0, {})])
    with pytest.raises(ValueError, match="index count"):
        encode_gif(8, 8, pal, [(0, 0, 8, 8, idx0[:-1], {})])
    with pytest.raises(ValueError, match="outside the"):
        encode_gif(2, 2, pal, [(0, 0, 2, 2, [0, 1, 2, 9], {})])
    with pytest.raises(ValueError, match="at least one frame"):
        encode_gif(8, 8, pal, [])
    # index in the black-padded color-table tail (valid for LZW, not in
    # the palette) must refuse at encode time, not decode as luma 0
    with pytest.raises(ValueError, match="3-color palette"):
        encode_gif(2, 2, pal[:3], [(0, 0, 2, 2, [0, 1, 2, 3], {})])
    # bg_index and transparent follow the same validate-loudly contract
    # as pixel indexes (r12 advice): out-of-palette values must refuse
    # at encode time, not write a header pointing into the padded tail
    with pytest.raises(ValueError, match="bg_index 200"):
        encode_gif(2, 2, pal, [(0, 0, 2, 2, [0, 1, 2, 3], {})],
                   bg_index=200)
    with pytest.raises(ValueError, match="transparent index 200"):
        encode_gif(
            2, 2, pal, [(0, 0, 2, 2, [0, 1, 2, 3], {"transparent": 200})]
        )


def test_encode_gif_property_random_roundtrip():
    """Property sweep: random screen sizes, palette sizes, frame rects,
    and the interlace flag must round-trip encode_gif ->
    decode_gif_frames EXACTLY (the sink twin of the decoder's own
    random-frame property test)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif,
    )

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        sw = data.draw(st.integers(1, 12))
        sh = data.draw(st.integers(1, 12))
        n_pal = data.draw(st.integers(2, 8))
        pal = [
            (data.draw(st.integers(0, 255)),) * 3 for _ in range(n_pal)
        ]
        lumas = [r for r, _, _ in pal]
        frames = []
        for _ in range(data.draw(st.integers(1, 3))):
            w = data.draw(st.integers(1, sw))
            h = data.draw(st.integers(1, sh))
            left = data.draw(st.integers(0, sw - w))
            top = data.draw(st.integers(0, sh - h))
            idx = [
                data.draw(st.integers(0, n_pal - 1)) for _ in range(w * h)
            ]
            inter = data.draw(st.booleans())
            frames.append((left, top, w, h, idx, {"interlace": inter}))
        payload = encode_gif(sw, sh, pal, frames)
        decoded = decode_gif_frames(payload)
        assert len(decoded) == len(frames)
        canvas = [lumas[0]] * (sw * sh)
        for (left, top, w, h, idx, _), (dw, dh, got) in zip(
            frames, decoded
        ):
            for r in range(h):
                for c in range(w):
                    canvas[(top + r) * sw + (left + c)] = lumas[
                        idx[r * w + c]
                    ]
            assert (dw, dh) == (sw, sh)
            assert got == canvas

    run()


def test_encode_gif_lzw_ceiling_freezes_dictionary():
    """A frame with enough entropy to exhaust the 12-bit code space
    must still round-trip exactly — the encoder freezes its dictionary
    at code 4096 (deferred-clear style) and the decoder, which stops
    adding at 4096, stays in lockstep."""
    import random

    from batch_processing_iac_aws_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif,
    )

    rng = random.Random(12)
    pal = [(v, v, v) for v in (0, 85, 170, 255)]
    # 96x96 only grows the dictionary to ~2150 codes — 200x200 random
    # 4-symbol pixels provably drive next_code past 4096 (r12 advice)
    idx = [rng.randrange(4) for _ in range(200 * 200)]
    payload = encode_gif(200, 200, pal, [(0, 0, 200, 200, idx, {})])
    # prove the ceiling branch actually fired: a frozen dictionary means
    # some 12-bit codes repeat in the stream long after the point where
    # a still-growing encoder would have minted fresh codes; cheapest
    # faithful instrumentation is to re-run the encoder's own LZW with a
    # counter. Import the private helper and count.
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _gif_lzw_encode,
    )

    stats = {}
    _gif_lzw_encode(2, idx, _stats=stats)
    assert stats["max_next_code"] >= 4096, stats
    (w, h, luma), = decode_gif_frames(payload)
    assert (w, h) == (200, 200)
    assert luma == [85 * v for v in idx]


def test_encode_gif_matches_jvm_imageio():
    """INDEPENDENT decoder differential for the sink: javax.imageio
    must read encode_gif's bytes back to the exact composed pixels —
    proving the writer against a decoder that shares no code with this
    repo (the wild-GIF differential's strategy pointed at our own
    encoder output)."""
    import shutil
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        encode_gif,
    )

    if not shutil.which("javac"):
        pytest.skip("JDK not available")
    pal = [(v, v, v) for v in (0, 85, 170, 255)]
    idx0 = [(i * 5 + 2) % 4 for i in range(64)]
    payload = encode_gif(
        8, 8, pal, [(0, 0, 8, 8, idx0, {"interlace": True})]
    )
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class GifSinkRef {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
            int rgb = img.getRGB(x, y);
            sb.append((299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
                       + 114 * (rgb & 255)) / 1000).append(' ');
        }
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/GifSinkRef.java", "w") as fh:
            fh.write(src)
        with open(f"{td}/probe.gif", "wb") as fh:
            fh.write(payload)
        subprocess.run(
            ["javac", "GifSinkRef.java"], cwd=td, check=True,
            capture_output=True,
        )
        ref_out = subprocess.run(
            ["java", "GifSinkRef", "probe.gif"], cwd=td, check=True,
            capture_output=True, text=True,
        ).stdout.split()
        assert (int(ref_out[0]), int(ref_out[1])) == (8, 8)
        assert [int(v) for v in ref_out[2:]] == [85 * v for v in idx0]


def test_encode_wav_roundtrip_and_differential_vs_test_encoder():
    """encode_wav -> _wav_decode_samples round-trips exactly (16-bit
    stereo, 8-bit mono), refuses ragged/out-of-range input loudly, and
    decodes IDENTICALLY to the independent test-side encoder on the
    same samples."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _wav_decode_samples,
        encode_wav,
    )

    left = [(i * 1103) % 65536 - 32768 for i in range(48)]
    right = [(i * 2047) % 65536 - 32768 for i in range(48)]
    rate, mono = _wav_decode_samples(encode_wav([left, right]))
    assert rate == 8000
    assert mono == [(a + b) / 65536.0 for a, b in zip(left, right)]
    _, mono8 = _wav_decode_samples(
        encode_wav([[(i * 37) % 256 for i in range(32)]], bits=8)
    )
    assert mono8 == [((i * 37) % 256 - 128) / 128.0 for i in range(32)]
    # differential vs the independent test encoder: identical decode
    _, ref = _wav_decode_samples(_wav_encode_test([left, right]))
    assert mono == ref
    with pytest.raises(ValueError, match="equal-length"):
        encode_wav([left, right[:-1]])
    with pytest.raises(ValueError, match="outside"):
        encode_wav([[40000]])
    with pytest.raises(ValueError, match="PCM"):
        encode_wav([[0]], bits=24)


# --- encode_jpeg_gray + MJPEG-in-AVI: the video container seam ---------


def test_encode_jpeg_gray_flat_blocks_closed_form():
    """DC-only blocks decode to the closed-form flat value
    dc*quant/8 + 128 EXACTLY — the property the AVI row's oracle
    arithmetic rests on — and the encoder refuses malformed input
    loudly (bad quant, out-of-range zigzag key, wrong block count,
    oversize coefficient categories)."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
        encode_jpeg_gray,
    )

    quant = [16] * 64
    payload = encode_jpeg_gray([{0: 36}, {0: -20}], 8, 16, quant)
    w, h, luma = _jpeg_decode_luma(payload)
    assert (w, h) == (8, 16)
    assert luma[:64] == [200] * 64 and luma[64:] == [88] * 64
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_gray([{0: 1}], 8, 8, [0] * 64)
    with pytest.raises(ValueError, match="zigzag index"):
        encode_jpeg_gray([{64: 1}], 8, 8, quant)
    with pytest.raises(ValueError, match="blocks tile"):
        encode_jpeg_gray([{0: 1}], 8, 16, quant)
    with pytest.raises(ValueError, match="category 11"):
        encode_jpeg_gray([{0: 3000}], 8, 8, quant)
    with pytest.raises(ValueError, match="size 10"):
        encode_jpeg_gray([{5: 1024}], 8, 8, quant)
    with pytest.raises(ValueError, match="empty image"):
        encode_jpeg_gray([], 0, 8, quant)


def test_encode_jpeg_gray_matches_independent_test_encoder():
    """Differential against the INDEPENDENT test-side encoder
    (_jpeg_encode_test, written for the decoder rounds, sharing no
    code with the sink): random quantized coefficient blocks must
    decode to the same pixels through both encoders' bytes."""
    import random

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
        encode_jpeg_gray,
    )

    rng = random.Random(131)
    quant = [rng.randrange(1, 32) for _ in range(64)]
    blocks = []
    for _ in range(6):
        coef = {0: rng.randrange(-80, 81)}
        for _k in range(rng.randrange(0, 10)):
            coef[rng.randrange(1, 64)] = rng.choice(
                [v for v in range(-40, 41) if v]
            )
        blocks.append(coef)
    ours = encode_jpeg_gray(blocks, 16, 24, quant)
    theirs = _jpeg_encode_test(blocks, 16, 24, quant)
    assert _jpeg_decode_luma(ours) == _jpeg_decode_luma(theirs)


def test_encode_jpeg_gray_matches_jvm_imageio():
    """INDEPENDENT decoder differential for the sink (the encode_gif
    strategy): javax.imageio must read encode_jpeg_gray's bytes back to
    the exact closed-form flat pixels."""
    import shutil
    import subprocess
    import tempfile

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        encode_jpeg_gray,
    )

    if not shutil.which("javac"):
        pytest.skip("JDK not available")
    payload = encode_jpeg_gray([{0: 36}, {0: -20}], 8, 16, [16] * 64)
    src = """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class JpegSinkRef {
    public static void main(String[] args) throws Exception {
        BufferedImage img = ImageIO.read(new File(args[0]));
        int w = img.getWidth(), h = img.getHeight();
        StringBuilder sb = new StringBuilder(w + " " + h + "\\n");
        // raw raster samples: getRGB would push the gray value through
        // Java's CIEXYZ gray->sRGB conversion (gamma), not a decode bug
        for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
            sb.append(img.getRaster().getSample(x, y, 0)).append(' ');
        System.out.print(sb);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegSinkRef.java", "w") as fh:
            fh.write(src)
        with open(f"{td}/t.jpg", "wb") as fh:
            fh.write(payload)
        subprocess.run(
            ["javac", "JpegSinkRef.java"], cwd=td, check=True,
            capture_output=True,
        )
        out = subprocess.run(
            ["java", "JpegSinkRef", "t.jpg"], cwd=td, check=True,
            capture_output=True, text=True,
        ).stdout.split()
    assert out[:2] == ["8", "16"]
    got = list(map(int, out[2:]))
    assert got[:64] == [200] * 64 and got[64:] == [88] * 64


def test_avi_mjpeg_roundtrip_and_refusals():
    """encode_avi_mjpeg -> avi_frame_fn round-trip: each 00dc chunk
    decodes to exactly the frame's JPEG pixels, a grid longer than the
    clip holds the last frame, and the container walk refuses loudly:
    non-AVI bytes, non-MJPG codecs (named), truncated chunks, empty
    movi, and malformed frames at encode time."""
    import struct

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _avi_video_frames,
        avi_frame_fn,
        encode_avi_mjpeg,
        encode_jpeg_gray,
        gray_frame_features,
    )

    quant = [16] * 64
    f0 = encode_jpeg_gray([{0: 36}, {0: -20}], 8, 16, quant)
    f1 = encode_jpeg_gray([{0: -64}, {0: 63}], 8, 16, quant)
    avi = encode_avi_mjpeg(8, 16, [f0, f1], fps=10)
    w, h, jpegs = _avi_video_frames(avi)
    assert (w, h) == (8, 16) and jpegs == [f0, f1]
    feats = gray_frame_features(avi_frame_fn(avi, 0), feature_dim=4)
    assert feats == [200 / 255] * 2 + [88 / 255] * 2
    # hold-last past the clip, byte-identical to the final frame
    assert avi_frame_fn(avi, 5) == avi_frame_fn(avi, 1)
    # DC -64 -> 128 - 128 = 0; DC 63 -> 128 + 126 = 254
    assert gray_frame_features(avi_frame_fn(avi, 1), feature_dim=4) == (
        [0.0] * 2 + [254 / 255] * 2
    )
    with pytest.raises(NotImplementedError, match="not a RIFF/AVI"):
        _avi_video_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # swap the stream handler to XVID: must refuse NAMING the codec
    xvid = avi.replace(b"vidsMJPG", b"vidsXVID").replace(
        b"MJPG" + struct.pack("<I", 8 * 16 * 3), 
        b"XVID" + struct.pack("<I", 8 * 16 * 3),
    )
    with pytest.raises(NotImplementedError, match="XVID"):
        _avi_video_frames(xvid)
    # truncated mid-chunk
    with pytest.raises(NotImplementedError, match="truncated"):
        _avi_video_frames(avi[:60])
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg(8, 16, [])
    with pytest.raises(ValueError, match="not a complete JPEG"):
        encode_avi_mjpeg(8, 16, [b"\xff\xd8broken"])
    with pytest.raises(ValueError, match="fps"):
        encode_avi_mjpeg(8, 16, [f0], fps=0)


def test_avi_multi_stream_walk_is_stream_aware():
    """An off-spec-for-us but VALID AVI that interleaves an audio
    stream must still decode (r13 ADVICE item 1): the codec is read
    only from the strl whose strh fcc is 'vids' (never the audio
    WAVEFORMATEX bytes), movi chunks are filtered to the video
    stream's two-digit id (audio '00wb' chunks and a second stream's
    '00dc' chunks never interleave into the frame list), and LIST
    'rec ' interleave groups are recursed into."""
    import struct

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _avi_video_frames,
        encode_avi_mjpeg,
        encode_jpeg_gray,
    )

    def chunk(cid, body):
        return (
            cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    quant = [16] * 64
    f0 = encode_jpeg_gray([{0: 36}, {0: -20}], 8, 16, quant)
    f1 = encode_jpeg_gray([{0: -64}, {0: 63}], 8, 16, quant)
    # reuse the engine encoder's headers: lift avih/vids-strl bytes out
    # of a single-stream file, then rebuild with audio FIRST so the
    # video stream id is 01, not 00
    ref = encode_avi_mjpeg(8, 16, [f0, f1], fps=10)
    a = ref.index(b"avih")
    avih = ref[a + 8 : a + 8 + struct.unpack("<I", ref[a + 4 : a + 8])[0]]
    s = ref.index(b"strh")
    strh_v = ref[s + 8 : s + 8 + struct.unpack("<I", ref[s + 4 : s + 8])[0]]
    t = ref.index(b"strf")
    strf_v = ref[t + 8 : t + 8 + struct.unpack("<I", ref[t + 4 : t + 8])[0]]
    strh_a = b"auds" + b"\x00" * (len(strh_v) - 4)
    # WAVEFORMATEX (18 bytes) + 2 junk bytes so offset 16 holds bytes
    # the old walk misread as a codec fourcc
    strf_a = struct.pack("<HHIIHHH", 1, 1, 8000, 8000, 1, 8, 0) + b"ZZ"
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v)),
    )
    movi = lst(
        b"movi",
        chunk(b"00wb", b"\x80" * 32)      # audio: must be ignored
        + chunk(b"01dc", f0)               # video frame 0
        + lst(b"rec ", chunk(b"01dc", f1)  # interleave group: recurse
              + chunk(b"00wb", b"\x80" * 8)),
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    w, h, jpegs = _avi_video_frames(avi)
    assert (w, h) == (8, 16) and jpegs == [f0, f1]


def test_sample_frames_with_avi_frame_fn(spark):
    """The Spark-side plumbing for the video container: sample_frames
    over engine-encoded MJPEG-AVI payloads fans each media row into
    GRY8 frames whose features match the closed-form DC arithmetic —
    the AVI twin of the registered GIF row's shape, suite-held while
    multimodal_avi_frames stages for round 14."""
    import pandas as pd

    from batch_processing_iac_aws_spark.operators.multimodal import (
        avi_frame_fn,
        encode_avi_mjpeg,
        encode_jpeg_gray,
        gray_frame_features,
        sample_frames,
    )

    quant = [16] * 64

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for mid in pdf["id"]:
                fa = encode_jpeg_gray(
                    [{0: int(mid) % 50}, {0: -int(mid) % 40}], 8, 16, quant
                )
                fb = encode_jpeg_gray(
                    [{0: 10}, {0: int(mid) % 30}], 8, 16, quant
                )
                ids.append(mid)
                payloads.append(encode_avi_mjpeg(8, 16, [fa, fb]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = spark.range(6).mapInPandas(
        build, schema="media_id long, payload binary"
    )
    frames = sample_frames(
        media, n_frames=3, frame_ms=100, frame_fn=avi_frame_fn
    )
    rows = frames.collect()
    assert len(rows) == 18
    for r in rows:
        mid, fi = r["media_id"], r["frame_idx"]
        feats = gray_frame_features(bytes(r["frame"]), feature_dim=4)
        if fi == 0:
            top, bot = mid % 50, -(mid) % 40
        else:  # frame 1 and the hold-last frame 2
            top, bot = 10, mid % 30
        want = [(128 + 2 * top) / 255] * 2 + [(128 + 2 * bot) / 255] * 2
        assert feats == want, (mid, fi)
        assert r["pts_ms"] == fi * 100


def test_decode_wav_g711_matches_audioop():
    """G.711 telephony decode (WAVE formats 6/7) differentially pinned
    against the C audioop module (shares no code with this repo):
    every one of the 256 companded byte values expands to the same
    linear-16 sample for BOTH laws, and a hand-built mu-law stereo /
    A-law mono WAV decodes end-to-end to audioop's expansion (mean
    downmix, /32768 scale)."""
    import struct

    import pytest

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _g711_decode_table,
        _wav_decode_samples,
    )

    for law, fn in ((7, audioop.ulaw2lin), (6, audioop.alaw2lin)):
        table = _g711_decode_table(law)
        for b in range(256):
            want = int.from_bytes(fn(bytes([b]), 2), "little", signed=True)
            assert table[b] == want, (law, b, table[b], want)

    def wav(fmt_code, n_ch, frames):
        body = struct.pack(
            "<HHIIHH", fmt_code, n_ch, 8000, 8000 * n_ch, n_ch, 8
        )
        data = bytes(frames)
        out = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(body)) + body
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(out)) + out

    # mu-law stereo: interleaved L/R, downmix = mean of the expansions
    raw = [0x00, 0xFF, 0x7F, 0x80, 0x13, 0xE4]
    rate, mono = _wav_decode_samples(wav(7, 2, raw))
    t7 = _g711_decode_table(7)
    assert rate == 8000
    want = [
        (t7[raw[2 * i]] + t7[raw[2 * i + 1]]) / (2 * 32768.0)
        for i in range(3)
    ]
    assert mono == want
    # A-law mono
    rate, mono = _wav_decode_samples(wav(6, 1, raw))
    t6 = _g711_decode_table(6)
    assert mono == [t6[b] / 32768.0 for b in raw]


def test_encode_wav_g711_roundtrip_and_refusals():
    """encode_wav_g711 -> _wav_decode_samples round-trip: all 256
    companded byte values per law come back as exactly the segment
    table's expansion /32768 (the lossless verbatim contract — the
    sink wraps companded bytes, it never companded linear PCM), odd
    payload lengths word-align, and unknown laws / empty streams
    refuse loudly."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _g711_decode_table,
        _wav_decode_samples,
        encode_wav_g711,
    )

    allb = bytes(range(256))
    for law in (6, 7):
        table = _g711_decode_table(law)
        rate, mono = _wav_decode_samples(encode_wav_g711(allb, law=law))
        assert rate == 8000
        assert mono == [table[b] / 32768.0 for b in range(256)]
    # odd data length: the padded container still decodes every sample
    rate, mono = _wav_decode_samples(
        encode_wav_g711(b"\x00\xff\x7f", law=7, rate=16000)
    )
    t7 = _g711_decode_table(7)
    assert rate == 16000 and mono == [t7[b] / 32768.0 for b in b"\x00\xff\x7f"]
    with pytest.raises(ValueError, match="law 1"):
        encode_wav_g711(b"\x00", law=1)
    with pytest.raises(ValueError, match="empty"):
        encode_wav_g711(b"", law=6)


def test_encode_jpeg_color_roundtrip_and_refusals():
    """encode_jpeg_color -> chroma decode round-trip: DC-only 4:4:4
    planes decode to the closed form 128 + 2*dc per component and the
    JFIF conversion lands exactly int(v+0.5)-clamped RGB — the color
    sink's exactness contract (the oracle's GREATEST/LEAST/FLOOR twin
    replays this). Per-component block-count and quant validation
    refuse loudly; the shared entropy helper keeps the gray sink
    byte-identical (one-component call proven by the existing gray
    round-trip tests)."""
    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _jpeg_decode_luma,
        decode_jpeg_rgb_stdlib,
        encode_jpeg_color,
    )

    quant = [16] * 64
    p = encode_jpeg_color(
        [{0: 36}, {0: -20}], [{0: 10}, {0: -10}], [{0: -30}, {0: 30}],
        8, 16, quant,
    )
    w, h, rgb = _jpeg_decode_luma(p, color=True)
    assert (w, h) == (8, 16) and len(rgb) == 3 * 8 * 16

    def conv(y, cb, cr):
        r = y + 1.402 * (cr - 128)
        g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        b = y + 1.772 * (cb - 128)
        f = lambda v: 0 if v < 0 else (255 if v > 255 else int(v + 0.5))  # noqa: E731
        return f(r), f(g), f(b)

    top, bot = conv(200, 148, 68), conv(88, 108, 188)
    assert all(tuple(rgb[3 * i : 3 * i + 3]) == top for i in range(64))
    assert all(
        tuple(rgb[3 * (64 + i) : 3 * (64 + i) + 3]) == bot
        for i in range(64)
    )
    feats = decode_jpeg_rgb_stdlib(p, feature_dim=4)
    assert feats == (
        [c / 255 for c in top] * 2 + [c / 255 for c in bot] * 2
    )
    # saturating conversions clamp, never wrap: extreme chroma DCs
    sat = encode_jpeg_color(
        [{0: 63}, {0: -64}], [{0: 63}, {0: -64}], [{0: 63}, {0: -64}],
        8, 16, quant,
    )
    _w, _h, srgb = _jpeg_decode_luma(sat, color=True)
    assert all(0 <= v <= 255 for v in srgb)
    with pytest.raises(ValueError, match="2 Cb blocks"):
        encode_jpeg_color([{0: 1}, {0: 2}], [{0: 1}], [{0: 1}, {0: 2}],
                          8, 16, quant)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_color([{}], [{}], [{}], 8, 8, [0] * 64)
    with pytest.raises(ValueError, match="zigzag index"):
        encode_jpeg_color([{64: 1}, {}], [{}, {}], [{}, {}], 8, 16, quant)


def test_audio_onset_alignment_is_shift_invariant():
    """The shift-robust audio row's kernel, isolated: leading silence
    (any length) plus trailing padding leaves the onset-aligned block
    energies EXACTLY equal to the original's — invariance by
    construction on the 2^-16 sample lattice, the property the
    multimodal_audio_shift_near_dup query rides to hamming 0."""
    from batch_processing_iac_aws_spark.operators.multimodal import (
        _wav_decode_samples,
        encode_wav,
    )

    base = [2 * ((7919 * i) % 32768 - 16384) for i in range(64)]
    base[0] = 4242  # nonzero onset anchor

    def energies(payload):
        _r, mono = _wav_decode_samples(payload)
        onset = next((i for i, v in enumerate(mono) if v != 0.0), 0)
        core = mono[onset : onset + 64]
        return [
            sum(v * v for v in core[2 * j : 2 * j + 2]) for j in range(32)
        ]

    ref = energies(encode_wav([base]))
    for shift in (1, 16, 33, 48):
        shifted = [0] * shift + base + [0] * 12
        assert energies(encode_wav([shifted])) == ref, shift


def test_compand_g711_matches_audioop_full_range():
    """compand_g711 differentially pinned against the C audioop module
    over the ENTIRE 16-bit sample range for both laws (65536 x 2
    byte-exact comparisons — segment boundaries, clip, bias, and both
    sign folds all covered), plus the expand->compand fixpoint: every
    companded byte survives a decode/re-encode round-trip, except
    mu-law's negative zero (0x7F and 0xFF both decode to 0; re-encode
    canonicalizes to +0 = 0xFF — the codec's documented two-zeros
    property, not a bug). Unknown laws and out-of-range samples refuse
    loudly."""
    import struct

    import pytest

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _g711_decode_table,
        compand_g711,
    )

    samples = list(range(-32768, 32768))
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    assert compand_g711(samples, 7) == audioop.lin2ulaw(pcm, 2)
    assert compand_g711(samples, 6) == audioop.lin2alaw(pcm, 2)
    for law in (6, 7):
        table = _g711_decode_table(law)
        fixed = compand_g711([table[b] for b in range(256)], law)
        mism = [b for b in range(256) if fixed[b] != b]
        assert mism == ([0x7F] if law == 7 else []), mism
        if law == 7:
            assert fixed[0x7F] == 0xFF  # -0 canonicalizes to +0
    with pytest.raises(ValueError, match="law 3"):
        compand_g711([0], 3)
    with pytest.raises(ValueError, match="outside 16-bit"):
        compand_g711([40000], 7)


def test_adpcm_step_matches_audioop():
    """The IMA ADPCM decoder recurrence (_adpcm_step) differentially
    pinned against the C audioop module: a 2500-step nibble stream
    from state (0, 0) covering every nibble value plus sustained
    max-magnitude runs (index rides to 88, predictor clips both
    rails), compared sample-by-sample AND on the final carried state.
    audioop packs the FIRST nibble of each byte in the HIGH half; WAV
    packs low-first — the test packs for audioop's order, the WAV walk
    test below proves the low-first order independently."""
    import struct

    import pytest

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _adpcm_step,
    )

    nibs = (
        [(i * 7 + 3) % 16 for i in range(2000)]
        + [7] * 200 + [15] * 200 + [8] * 100
    )
    packed = bytes(
        (nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2)
    )
    out, (pred_a, idx_a) = audioop.adpcm2lin(packed, 2, None)
    expected = struct.unpack(f"<{len(nibs)}h", out)
    pred, idx = 0, 0
    mine = []
    for n in nibs:
        pred, idx = _adpcm_step(pred, idx, n)
        mine.append(pred)
    assert tuple(mine) == expected
    assert (pred, idx) == (pred_a, idx_a)


def test_wav_adpcm_decode_mono_stereo_and_refusals():
    """Format-17 WAV decode end-to-end through the RIFF walk: a mono
    block (header predictor = literal first sample, 32 coded bytes ->
    64 low-nibble-first steps) matches a hand-threaded _adpcm_step
    replay exactly; a stereo block (per-channel headers, interleaved
    4-byte nibble groups) decodes each channel independently and
    downmixes by mean. The sink refuses empty/partial streams, bad
    block geometry, and step index > 88; the decoder refuses the same
    index poison mid-payload, non-4-bit claims, and partial blocks."""
    import struct

    import pytest

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _adpcm_step,
        _wav_decode_samples,
        encode_wav_adpcm,
    )

    def thread(pred, idx, data):
        out = [pred]
        for b in data:
            for nib in (b & 0x0F, b >> 4):
                pred, idx = _adpcm_step(pred, idx, nib)
                out.append(pred)
        return out

    data = bytes((i * 37 + 11) % 256 for i in range(32))
    block = struct.pack("<hBB", -1234, 17, 0) + data
    rate, mono = _wav_decode_samples(
        encode_wav_adpcm(block, block_align=36)
    )
    assert rate == 8000 and len(mono) == 65
    assert mono == [v / 32768.0 for v in thread(-1234, 17, data)]

    d_a, d_b = bytes(range(40, 48)), bytes(range(200, 208))
    stereo = (
        struct.pack("<hBB", 1000, 5, 0)
        + struct.pack("<hBB", -2000, 40, 0)
        + d_a[:4] + d_b[:4] + d_a[4:] + d_b[4:]
    )
    _rate, mix = _wav_decode_samples(
        encode_wav_adpcm(stereo, block_align=24, channels=2)
    )
    assert mix == [
        (a + b) / (2 * 32768.0)
        for a, b in zip(thread(1000, 5, d_a), thread(-2000, 40, d_b))
    ]

    with pytest.raises(ValueError, match="whole number"):
        encode_wav_adpcm(b"", block_align=36)
    with pytest.raises(ValueError, match="whole number"):
        encode_wav_adpcm(block[:-1], block_align=36)
    with pytest.raises(ValueError, match="step index 89"):
        encode_wav_adpcm(
            struct.pack("<hBB", 0, 89, 0) + data, block_align=36
        )
    with pytest.raises(ValueError, match="block align 35"):
        encode_wav_adpcm(block, block_align=35)

    wav = bytearray(encode_wav_adpcm(block, block_align=36))
    wav[wav.index(b"data") + 8 + 2] = 90  # poison the header index
    with pytest.raises(NotImplementedError, match="step index 90"):
        _wav_decode_samples(bytes(wav))
    wav = bytearray(encode_wav_adpcm(block, block_align=36))
    wav[wav.index(b"fmt ") + 8 + 14] = 8  # claim 8-bit ADPCM codes
    with pytest.raises(NotImplementedError, match="8-bit IMA ADPCM"):
        _wav_decode_samples(bytes(wav))
    good = encode_wav_adpcm(block + block, block_align=36)
    trunc = good[: good.index(b"data") + 8 + 36 + 7]
    with pytest.raises(NotImplementedError, match="truncated"):
        _wav_decode_samples(
            trunc
        )  # declared data size now exceeds the payload


def test_compress_adpcm_matches_audioop_and_roundtrips():
    """compress_adpcm differentially pinned against the C audioop
    module (lin2adpcm) over a 4000-sample sweep mixing ramps, rails,
    sign flips, and a sine-ish lattice — byte-exact codes (repacked:
    audioop is high-nibble-first, the WAV layout low-first) and
    identical carried (predictor, index) state. Then the full encoder
    -> sink -> decoder loop: header = literal first sample + chosen
    index, compress the rest from that state, wrap with
    encode_wav_adpcm, decode with _wav_decode_samples — the decoded
    stream IS the encoder's internal prediction chain (bit-identical,
    the property that makes ADPCM streamable; no tracking-error bound
    is asserted — a single step cannot cover an arbitrary jump, and
    the audioop differential above pins the quantizer itself). Bad
    state/samples refuse loudly."""
    import struct

    import pytest

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13

    from batch_processing_iac_aws_spark.operators.multimodal import (
        _wav_decode_samples,
        compress_adpcm,
        encode_wav_adpcm,
    )

    samples = (
        list(range(0, 32000, 97))
        + list(range(32000, -32000, -153))
        + [32767, -32768, 0, -1, 1] * 20
        + [((i * i * 7919) % 65536) - 32768 for i in range(1000)]
    )
    samples = samples[: len(samples) & ~1]  # even count: audioop
    # silently DROPS a trailing buffered nibble; we pad 0 instead
    packed, pred, idx = compress_adpcm(samples)
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    a_packed, (a_pred, a_idx) = audioop.lin2adpcm(pcm, 2, None)
    repacked = bytes(
        ((b & 0x0F) << 4) | (b >> 4) for b in packed
    )  # low-first -> audioop's high-first
    assert repacked == a_packed
    assert (pred, idx) == (a_pred, a_idx)
    odd, _p, _i = compress_adpcm(samples[:7])
    assert len(odd) == 4 and odd[3] >> 4 == 0  # documented 0-nibble pad

    body = [((i * 5077) % 65536) - 32768 for i in range(65)]
    codes, _p, _i = compress_adpcm(body[1:], pred=body[0], idx=24)
    block = struct.pack("<hBB", body[0], 24, 0) + codes
    _rate, mono = _wav_decode_samples(
        encode_wav_adpcm(block, block_align=36)
    )
    decoded = [int(round(v * 32768)) for v in mono]
    # re-thread the encoder one sample at a time (state carried
    # explicitly) to recover its internal prediction chain
    preds, p, ix = [body[0]], body[0], 24
    for s in body[1:]:
        _codes, p, ix = compress_adpcm([s], pred=p, idx=ix)
        preds.append(p)
    assert decoded == preds

    with pytest.raises(ValueError, match="index 89"):
        compress_adpcm([0], idx=89)
    with pytest.raises(ValueError, match="predictor"):
        compress_adpcm([0], pred=40000)
    with pytest.raises(ValueError, match="outside 16-bit"):
        compress_adpcm([70000])
