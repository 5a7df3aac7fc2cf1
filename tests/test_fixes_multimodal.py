"""Auto-fix (F1-F4) and multimodal-plumbing tests."""

import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark import SchemaBuilder, SparkValidator
from pandera_unified_validator_spark.operators.fixes import apply_fixes, suggest_fixes
from pandera_unified_validator_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image_features,
    media_table_schema,
)


def test_fix_missing_column_and_coercion(spark):
    df = spark.createDataFrame([("1", "x")], "id string, name string")
    schema = (
        SchemaBuilder("t")
        .column("id", "int")          # dtype mismatch → coerce suggestion
        .column("name", "str")
        .column("score", "float")     # missing → add-column suggestion
        .build()
    )
    v = SparkValidator(schema)
    rep = v.validate(df).report
    sugg = suggest_fixes(rep, schema)
    kinds = {s.kind for s in sugg}
    assert kinds == {"add_missing_column", "coerce_type"}
    fixed = apply_fixes(df, sugg)
    rep2 = v.validate(fixed).report
    assert rep2.is_valid, rep2.errors
    row = fixed.collect()[0]
    assert row["id"] == 1 and row["score"] is None


def test_fix_clamp_range(spark):
    df = spark.createDataFrame([(5,), (500,), (-3,)], "x int")
    schema = SchemaBuilder("t").column("x", "int", ge=0, le=100).build()
    v = SparkValidator(schema)
    rep = v.validate(df).report
    sugg = [s for s in suggest_fixes(rep, schema) if s.kind == "clamp_range"]
    assert sugg
    fixed = apply_fixes(df, sugg[:1])
    assert v.validate(fixed).report.is_valid
    assert {r["x"] for r in fixed.collect()} == {5, 100, 0}


@pytest.fixture()
def media(spark):
    rows = [
        ("m1", "image", "image/png", 640, 480, None, b"\x89PNGfake1"),
        ("m2", "image", "image/png", 32, 32, None, b"\x89PNGfake2"),
        ("m3", "video", "video/mp4", 1920, 1080, 3500, b"mp4fake"),
        ("m4", "audio", "audio/wav", None, None, 2000, b"wavfake"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_schema_validates(spark, media):
    rep = SparkValidator(media_table_schema()).validate(media).report
    assert rep.is_valid, rep.to_console()
    # breaking the conditional: a video without duration must fail
    bad = media.withColumn(
        "duration_ms", F.when(F.col("kind") == "video", None).otherwise(F.col("duration_ms"))
    )
    rep2 = SparkValidator(media_table_schema()).validate(bad).report
    by = {c.name: c.n_failed for c in rep2.checks}
    assert by["table__video_has_duration"] == 1


def test_decode_real_path_raises_on_unparseable(spark, media):
    # non-BMP payloads without PIL must raise — never silently emit stub
    # vectors as if they were decoded features
    with pytest.raises(Exception) as ei:
        decode_image_features(media).collect()
    assert "NotImplementedError" in str(ei.value) or "BMP" in str(ei.value)


def test_clamp_fix_preserves_nulls(spark):
    """clamp_range must not invent data: Spark's greatest/least skip nulls,
    so an unguarded clamp rewrites NULL to the lower bound — the fixer keeps
    NULL (missing values belong to the not-null fix, not the range fix)."""
    from pandera_unified_validator_spark import SchemaBuilder, SparkValidator
    from pandera_unified_validator_spark.operators.fixes import (
        apply_fixes,
        suggest_fixes,
    )

    schema = SchemaBuilder("t").column("x", "float", ge=2.0, le=4.0).build()
    df = spark.createDataFrame([(0.0,), (None,), (9.0,), (3.0,)], "x double")
    res = SparkValidator(schema).validate(df)
    fixes = suggest_fixes(res.report, schema)
    assert [s.kind for s in fixes] == ["clamp_range"]
    got = [r["x"] for r in apply_fixes(df, fixes).collect()]
    assert sorted(got, key=lambda v: (v is None, v)) == [2.0, 3.0, 4.0, None]


def test_real_bmp_decode_roundtrip(spark):
    """REAL image codec (round 4): synthesized 24-bit BMPs decode through
    the Spark pipeline to the exact feature values computed locally."""
    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        _image_features,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(7)
    imgs = {
        "i1": rng.randint(0, 256, (6, 8, 3), dtype=np.uint8),
        "i2": rng.randint(0, 256, (5, 5, 3), dtype=np.uint8),
    }
    # codec round-trip is bit-exact before Spark is involved
    for a in imgs.values():
        assert (decode_bmp(encode_bmp(a)) == a).all()

    rows = [
        (k, "image", "image/bmp", a.shape[1], a.shape[0], None, encode_bmp(a))
        for k, a in imgs.items()
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["features"]
        for r in decode_image_features(media, dim=8).collect()
    }
    for k, a in imgs.items():
        exp = _image_features(a, 8)
        assert got[k] == pytest.approx(exp, abs=1e-5), k
    # mean channel values land in features[0..2]
    assert got["i1"][0] == pytest.approx(imgs["i1"][..., 0].mean() / 255, abs=1e-5)


def test_real_png_all_filters_roundtrip(spark):
    """PNG codec: the encoder writes each spec filter type (forward
    transform), the decoder un-filters (independent inverse) — round-trip
    must be bit-exact for every filter, RGB and RGBA, and the Spark decode
    path must agree with local features."""
    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        _image_features,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    rgba = rng.randint(0, 256, (4, 6, 4), dtype=np.uint8)
    for ft in range(5):
        assert (decode_png(encode_png(rgb, ft)) == rgb).all(), f"filter {ft} (rgb)"
        assert (decode_png(encode_png(rgba, ft)) == rgba).all(), f"filter {ft} (rgba)"

    rows = [("p1", "image", "image/png", 7, 9, None, encode_png(rgb, 4))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = decode_image_features(media, dim=8).collect()[0]["features"]
    assert got == pytest.approx(_image_features(rgb, 8), abs=1e-5)


def test_png_grayscale_and_tiny_edges():
    """Grayscale (color type 0) decodes via a hand-assembled PNG (our
    encoder never writes it), and 1x1 / single-row / single-column images
    survive every filter."""
    import struct
    import zlib

    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
        _to_rgb,
        decode_png,
        encode_png,
    )

    # 2x3 grayscale, filter 0 rows, assembled from the spec directly
    pix = np.array([[10, 200, 30], [40, 5, 250]], dtype=np.uint8)
    body = b"".join(b"\x00" + row.tobytes() for row in pix)
    png = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(body))
        + _png_chunk(b"IEND", b"")
    )
    got = decode_png(png)
    assert got.shape == (2, 3, 1) and (got[..., 0] == pix).all()
    rgb = _to_rgb(got)
    assert rgb.shape == (2, 3, 3) and (rgb[..., 0] == rgb[..., 2]).all()

    rng = np.random.RandomState(2)
    for shape in [(1, 1, 3), (1, 7, 3), (5, 1, 3), (2, 2, 4)]:
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        for ft in range(5):
            assert (decode_png(encode_png(a, ft)) == a).all(), (shape, ft)


def test_bmp_topdown_roundtrip_properties():
    """Pure-codec branch: a hand-built TOP-DOWN BMP (negative height —
    our encoder only writes bottom-up) decodes to the right orientation."""
    import struct

    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(13)
    a = rng.randint(0, 256, (3, 2, 3), dtype=np.uint8)
    # top-down variant: rows in natural order, height negative in the header
    row = 2 * 3
    pad = (4 - row % 4) % 4
    body = b"".join(a[y, :, ::-1].tobytes() + b"\x00" * pad for y in range(3))
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -3, 1, 24, 0, len(body), 0, 0, 0, 0)
    assert (decode_bmp(hdr + info + body) == a).all()
    # and bottom-up round trip for the same pixels agrees
    assert (decode_bmp(encode_bmp(a)) == a).all()


def test_jpeg_round_trip_and_spec_golden():
    """Baseline JPEG codec: flat blocks round-trip EXACTLY (all
    post-quantization coefficients vanish), smooth gradients come back
    within 2 levels at quality 95, odd dimensions crop correctly — and the
    entropy segment of a single-MCU flat-gray image equals the bit pattern
    hand-derived from the Annex-K tables (Y DC size-0 '00', Y EOB '1010',
    chroma DC '00' + EOB '00' twice, padded with 1s → 0x28 0x03), so the
    huffman tables and bit writer are checked against the SPEC, not just
    against our own decoder."""
    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    flat = np.full((8, 8, 3), 128, dtype=np.uint8)
    payload = encode_jpeg(flat, 90)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    sos = payload.find(b"\xff\xda")
    scan_start = sos + 2 + int.from_bytes(payload[sos + 2 : sos + 4], "big")
    assert payload[scan_start:-2] == b"\x28\x03"  # spec-derived golden bits
    assert np.array_equal(decode_jpeg(payload), flat)

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    grad = np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(grad, 95))
    assert dec.shape == grad.shape
    err = np.abs(dec.astype(int) - grad.astype(int))
    assert err.max() <= 2 and err.mean() < 1.0

    odd = np.full((13, 9, 3), 200, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(odd, 90)), odd)

    # quality ladder: lower quality never DECREASES the error of a noisy
    # image (and stays bounded)
    rng = np.random.RandomState(3)
    noise = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    errs = []
    for q in (95, 50, 10):
        d = decode_jpeg(encode_jpeg(noise, q))
        errs.append(np.abs(d.astype(int) - noise.astype(int)).mean())
    assert errs[0] <= errs[1] <= errs[2]

    import pytest

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")
    # progressive SOF2 must refuse, not mis-decode
    prog = bytearray(payload)
    c0 = bytes(prog).find(b"\xff\xc0")
    prog[c0 + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))


def test_jpeg_feeds_feature_path(spark):
    """JPEG payloads flow through the real mapInPandas decode stage
    exactly like BMP/PNG."""
    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        decode_image_features,
        encode_jpeg,
    )

    img = np.full((16, 16, 3), 0, dtype=np.uint8)
    img[:8, :, 0] = 255  # top half red
    rows = [("m1", bytearray(encode_jpeg(img, 95)))]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    feats = decode_image_features(df, dim=8).collect()[0]["features"]
    assert abs(feats[0] - 0.5) < 0.02  # mean red ≈ half


def test_jpeg_420_and_restart_markers():
    """Web-shaped JPEGs: 4:2:0 subsampling (flat colors still exact — the
    box-downsampled chroma of a constant is constant) and restart
    intervals (DRI + RSTn with byte-aligned resync and DC reset) decode to
    the SAME pixels as the plain encoding — restarts change framing, not
    reconstruction."""
    import numpy as np
    import pytest

    from pandera_unified_validator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    col = np.full((20, 36, 3), (180, 60, 220), dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(col, 90, subsampling="420")), col)

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    grad = np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    d420 = decode_jpeg(encode_jpeg(grad, 95, subsampling="420"))
    assert d420.shape == grad.shape
    assert np.abs(d420.astype(int) - grad.astype(int)).max() <= 6  # chroma repl.

    plain = decode_jpeg(encode_jpeg(grad, 95))
    with_rst = encode_jpeg(grad, 95, restart_interval=3)
    assert b"\xff\xdd" in with_rst and b"\xff\xd0" in with_rst
    assert np.array_equal(decode_jpeg(with_rst), plain)
    rst420 = encode_jpeg(grad, 95, subsampling="420", restart_interval=2)
    assert np.array_equal(decode_jpeg(rst420), d420)

    with pytest.raises(ValueError):
        encode_jpeg(grad, 95, subsampling="422")


def test_jpeg_tolerates_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    (camera firmwares pad); the header walker must skip them (and
    standalone TEM markers) instead of misreading segment lengths."""
    import numpy as np

    from pandera_unified_validator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    img = np.full((16, 16, 3), (90, 150, 30), dtype=np.uint8)
    payload = encode_jpeg(img, 90)
    baseline = decode_jpeg(payload)
    c0 = payload.find(b"\xff\xc0")
    padded = payload[:c0] + b"\xff\xff\xff" + payload[c0:]  # fill bytes
    assert np.array_equal(decode_jpeg(padded), baseline)
    tem = payload[:c0] + b"\xff\x01" + payload[c0:]  # standalone TEM
    assert np.array_equal(decode_jpeg(tem), baseline)
