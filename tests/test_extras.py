"""Real-package lane (pytest -m extras) + the sandbox-side gates around it.

The extras tests importorskip their package: wherever requirements-extras
is installed they exercise the REAL import-gated branches (PIL decode) so
those cannot bit-rot; in this sandbox they skip explicitly. The unmarked
tests run everywhere and pin that the codec switch is EXPLICIT — the
oracle-registered fake path must never silently change when a codec
package appears (r4: image_features/_decode_image grew `use_codec`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insights_spark.text import multimodal


def _media_df(spark, payloads):
    return spark.createDataFrame(
        [(i, "image", bytearray(p), "image/png", None, None, None)
         for i, p in enumerate(payloads)],
        schema=multimodal.MEDIA,
    )


def test_use_codec_true_without_pil_raises(spark):
    """Explicit codec request without the package must be a clear error in
    the Spark job, never a silent fall-through to the fake decode."""
    if multimodal._PIL is not None:
        pytest.skip("PIL installed — covered by the extras lane instead")
    df = multimodal.image_features(_media_df(spark, [b"abc"]), use_codec=True)
    with pytest.raises(Exception, match="requirements-extras|Pillow"):
        df.collect()


def test_use_codec_false_is_fake_even_with_pil(spark):
    """use_codec=False pins the oracle-checked payload-derived fake
    regardless of what is installed: 768 fake pixels, histogram = exact
    byte-bucket counts."""
    rows = multimodal.image_features(
        _media_df(spark, [bytes(range(64))]), use_codec=False
    ).collect()
    assert len(rows) == 1
    assert sum(rows[0]["hist"]) == 768


def test_multimodal_features_query_pins_fake_decode(spark, monkeypatch, tmp_path):
    """The oracle-registered multimodal_features builder passes
    use_codec=False, so its result cannot change when Pillow is installed
    (the default auto-detects the codec). Checked with a driver-side spy:
    the decode itself runs in Python workers, where a patched _PIL would
    not reach."""
    import __spark_entry__ as entry

    calls, real = [], multimodal.image_features

    def spy(media, *args, **kwargs):
        calls.append((args, kwargs))
        return real(media, *args, **kwargs)

    monkeypatch.setattr(multimodal, "image_features", spy)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    entry.queries()["multimodal_features"](spark, str(tmp_path))
    assert calls == [((), {"use_codec": False})]


@pytest.mark.extras
def test_real_pil_decode_through_image_features(spark):
    """With Pillow installed, the real-decode branch must run end-to-end
    through the Spark kernel: a synthetic 4×4 PNG decodes to 48 pixel
    values, the histogram sums to them, and the feature normalizes."""
    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.frombytes("RGB", (4, 4), bytes(range(48))).save(buf, format="PNG")
    rows = multimodal.image_features(
        _media_df(spark, [buf.getvalue()]), use_codec=True
    ).collect()
    assert len(rows) == 1
    assert sum(rows[0]["hist"]) == 4 * 4 * 3
    assert abs(sum(rows[0]["feature"]) - 1.0) < 1e-6
