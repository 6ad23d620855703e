"""Quarantine-mode media decode (round 10, VERDICT r9 missing #1):
decode error -> NULL features + error column, row survives; strict
mode re-raises. Complements the corruption fuzz axis
(tests/test_corruption_fuzz.py) with Spark-side semantics — error
isolation within an Arrow batch, nullable dtypes crossing the Arrow
boundary intact, and the q166 asset-corruption rule."""

import numpy as np
import pytest

from sklearn_raster_spark.operators.multimodal import extract_image_features_safe
from sklearn_raster_spark.sources.image import encode_png


def _payload_df(spark, rows):
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("content", BinaryType())]
    )
    return spark.createDataFrame(rows, schema)


def _assets():
    rng = np.random.default_rng(42)
    good = encode_png(rng.integers(1, 256, (6, 8)).astype(np.uint8))
    return [
        (1, bytearray(good)),
        (2, bytearray(good[: len(good) // 2])),       # truncated
        (3, bytearray(b"\xff" * 8 + good[8:])),       # magic smashed
        (4, bytearray(good)),
    ]


def _wav_assets():
    from sklearn_raster_spark.sources.audio import encode_wav

    good = encode_wav(np.array([3, -4, 5, 0, -2], np.int16), 8000)
    return [
        (1, bytearray(good)),
        (2, bytearray(good[: len(good) // 2])),     # truncated: fmt/data lost
        (3, bytearray(b"\x00" * 12 + good[12:])),   # magic smashed
    ]


def _assert_null_payload_and_all_corrupt_batch(spark, kernel, assets, features):
    """A NULL payload and a batch where every decode fails both come
    back as NULL in every int/bigint feature (not 0, not INT64_MIN),
    with the schema of a valid batch. A NULL payload is no decode, so
    its decode_error is NULL too; corrupt rows carry their error."""
    from pyspark.sql.types import DataType

    expected = DataType.fromDDL(f"doc_id bigint, {features}, decode_error string")
    assert kernel(_payload_df(spark, assets[:1]), on_error="quarantine").schema == expected
    corrupt = [a for a in assets if a[0] in (2, 3)]
    for rows in ([(9, None)], corrupt, corrupt + [(9, None)]):
        out = kernel(_payload_df(spark, rows).coalesce(1), on_error="quarantine")
        assert out.schema == expected
        got = {r["doc_id"]: r for r in out.collect()}
        assert sorted(got) == sorted(doc_id for doc_id, _ in rows)
        for doc_id, payload in rows:
            r = got[doc_id]
            assert all(r[f.name] is None for f in expected.fields[1:-1]), r
            if payload is None:
                assert r["decode_error"] is None
            else:
                assert r["decode_error"].startswith(("ValueError", "NotImplementedError"))


def test_quarantine_mode_isolates_errors(spark):
    out = {
        r["doc_id"]: r
        for r in extract_image_features_safe(
            _payload_df(spark, _assets()), on_error="quarantine"
        ).collect()
    }
    assert len(out) == 4  # every row survives
    for ok_id in (1, 4):
        r = out[ok_id]
        assert r["decode_error"] is None
        assert r["img_h"] == 6 and r["img_w"] == 8
        assert r["px_sum"] > 0 and r["px_max"] <= 255
    for bad_id in (2, 3):
        r = out[bad_id]
        assert r["decode_error"] is not None
        assert r["decode_error"].startswith("ValueError")
        assert r["img_h"] is None and r["px_sum"] is None
    # valid neighbors in the SAME batch are byte-identical to a
    # quarantine-free run
    clean = {
        r["doc_id"]: r
        for r in extract_image_features_safe(
            _payload_df(spark, [a for a in _assets() if a[0] in (1, 4)]),
            on_error="quarantine",
        ).collect()
    }
    for ok_id in (1, 4):
        assert tuple(out[ok_id]) == tuple(clean[ok_id])
    _assert_null_payload_and_all_corrupt_batch(
        spark, extract_image_features_safe, _assets(),
        "img_h int, img_w int, px_sum bigint, px_max int",
    )


def test_strict_mode_raises(spark):
    from sklearn_raster_spark.operators.multimodal import extract_audio_features_safe

    for kernel, assets in (
        (extract_image_features_safe, _assets()),
        (extract_audio_features_safe, _wav_assets()),
    ):
        with pytest.raises(Exception, match="ValueError|malformed|truncated|PNG|WAV"):
            kernel(_payload_df(spark, assets), on_error="raise").collect()
        with pytest.raises(ValueError, match="on_error"):
            kernel(_payload_df(spark, assets), on_error="x")
        # a NULL payload is no decode failure: NULL features, no raise
        strict = kernel(_payload_df(spark, [(9, None)]), on_error="raise").collect()
        assert [tuple(r) for r in strict] == [(9, None, None, None, None, None)]


def test_q166_corruption_rule_is_deterministic():
    """The asset writer's corruption classes must be exactly the
    oracle's doc_id arithmetic and GUARANTEED to fail decode."""
    from sklearn_raster_spark.operators.multimodal import MEDIA_MOD
    from sklearn_raster_spark.sources.image import decode_image

    rng = np.random.default_rng(7)
    for doc_id in range(0, 20 * MEDIA_MOD, MEDIA_MOD):
        png = encode_png(
            rng.integers(1, 256, (rng.integers(1, 9), 32)).astype(np.uint8)
        )
        k = (doc_id // MEDIA_MOD) % 3
        blob = (
            png if k == 0
            else png[: len(png) // 2] if k == 1
            else b"\xff" * 8 + png[8:]
        )
        if k == 0:
            decode_image(blob)  # must succeed
        else:
            with pytest.raises(ValueError):
                decode_image(blob)


def test_audio_quarantine_twin(spark):
    from sklearn_raster_spark.operators.multimodal import extract_audio_features_safe

    pcm = np.array([3, -4, 5, 0, -2], np.int16)
    out = {
        r["doc_id"]: r
        for r in extract_audio_features_safe(
            _payload_df(spark, _wav_assets()), on_error="quarantine"
        ).collect()
    }
    ok = out[1]
    assert ok["decode_error"] is None
    assert ok["sample_rate"] == 8000 and ok["n_samples"] == 5
    assert ok["energy"] == int((pcm.astype(np.int64) ** 2).sum())
    for bad_id in (2, 3):
        r = out[bad_id]
        assert r["decode_error"] is not None
        assert r["energy"] is None and r["sample_rate"] is None
    _assert_null_payload_and_all_corrupt_batch(
        spark, extract_audio_features_safe, _wav_assets(),
        "sample_rate int, n_samples int, energy bigint, peak int",
    )
