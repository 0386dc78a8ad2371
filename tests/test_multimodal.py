"""Multimodal binary-column plumbing (mapInPandas contract)."""

from conftest import SF_SMALL

from adi_226_datawarehouse_project_spark.multimodal.binary_ops import (
    attach_binary_payload,
    decode_image_stub,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table


def _payload(spark, n=50):
    return attach_binary_payload(load_table(spark, SF_SMALL, "documents").limit(n))


def test_payload_schema(spark):
    df = _payload(spark)
    assert dict(df.dtypes)["payload"] == "binary"
    row = df.collect()[0]
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["payload_bytes"] == len(row["payload"])


def test_decode_stub_deterministic(spark):
    a = decode_image_stub(_payload(spark)).collect()
    b = decode_image_stub(_payload(spark)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert 1 <= r["width"] <= 640 and 1 <= r["height"] <= 480
        assert 0.0 <= r["mean_luma"] <= 1.0


def test_resize_stub_geometry(spark):
    from adi_226_datawarehouse_project_spark.multimodal.binary_ops import (
        resize_image_stub,
    )

    resized = resize_image_stub(decode_image_stub(_payload(spark)), 224, 224).collect()
    assert len(resized) > 0
    for r in resized:
        assert 1 <= r["new_width"] <= 224 and 1 <= r["new_height"] <= 224
        assert r["scale"] <= 1.0
        # aspect ratio preserved within 1px of floor rounding
        if r["scale"] < 1.0:
            assert max(r["new_width"], r["new_height"]) in (223, 224)
        else:
            assert (r["new_width"], r["new_height"]) == (r["width"], r["height"])


def test_audio_decode_stub(spark):
    from adi_226_datawarehouse_project_spark.multimodal.binary_ops import (
        decode_audio_stub,
    )

    rows = decode_audio_stub(_payload(spark)).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["sample_rate"] == 16000
        assert r["duration_s"] == r["n_samples"] / 16000.0
        assert 0.0 <= r["rms"] < 1.0
