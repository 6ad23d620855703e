"""Tests for multi-input ufunc alignment (O11/O12), collision counting
(O8), the synthetic dataset generator (S4/S5), and parquet sinks (S6)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sklearn_raster_spark.datasets import generate_fractal_noise, synthesize_feature_frame
from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.sources import write_table
from sklearn_raster_spark.ufunc import (
    FeaturewiseUfunc,
    Output,
    align_feature_frames,
    count_output_collisions,
)


def test_multi_input_alignment_propagates_nodata(spark):
    """A sample masked in ANY input is masked in the joined frame
    (reference ufunc/_base.py:101-113)."""
    a = pd.DataFrame({"y": [0, 0, 1, 1], "x": [0, 1, 0, 1], "f1": [1.0, 2.0, -9.0, 4.0]})
    b = pd.DataFrame({"y": [0, 0, 1, 1], "x": [0, 1, 0, 1], "f2": [5.0, np.nan, 7.0, 8.0]})
    ffa = FeatureFrame.from_dataframe(spark.createDataFrame(a), ["f1"], nodata_input={"f1": -9.0})
    ffb = FeatureFrame.from_dataframe(spark.createDataFrame(b), ["f2"])
    joined = align_feature_frames([ffa, ffb], on=["y", "x"])
    assert set(joined.features) == {"f1", "f2"}
    assert joined.df.count() == 4
    assert joined.invalid().count() == 2  # (1,0) sentinel + (0,1) NaN

    def add(X):
        return X[:, 0] + X[:, 1]

    uf = FeaturewiseUfunc(add, [Output(("total",), "double")])
    out = uf(joined).df.orderBy("y", "x").toPandas()
    assert np.isnan(out.loc[1, "total"]) and np.isnan(out.loc[2, "total"])
    np.testing.assert_allclose(out.loc[[0, 3], "total"], [6.0, 12.0])


def test_duplicate_features_rejected(spark):
    a = pd.DataFrame({"y": [0], "x": [0], "f1": [1.0]})
    ffa = FeatureFrame.from_dataframe(spark.createDataFrame(a), ["f1"])
    with pytest.raises(ValueError, match="duplicate feature"):
        align_feature_frames([ffa, ffa], on=["y", "x"])


def test_collision_count(spark):
    pdf = pd.DataFrame({"id": range(4), "v": [1.0, -9999.0, 3.0, -9999.0]})
    ff = FeatureFrame.from_dataframe(spark.createDataFrame(pdf), ["v"])
    assert count_output_collisions(ff, -9999.0) == 2
    assert count_output_collisions(ff, 12345.0) == 0


def test_fractal_noise_properties():
    noise = generate_fractal_noise((32, 48), 2, seed=42)
    assert noise.shape == (2, 32, 48)
    np.testing.assert_allclose(noise.mean(axis=(1, 2)), 0.0, atol=1e-9)
    np.testing.assert_allclose(noise.std(axis=(1, 2)), 1.0, atol=1e-9)
    again = generate_fractal_noise((32, 48), 2, seed=42)
    np.testing.assert_array_equal(noise, again)  # deterministic

    masked = generate_fractal_noise((32, 48), 2, seed=42, nodata_percentile=25.0)
    frac = np.isnan(masked[0]).mean()
    assert 0.2 < frac < 0.3  # ~25% masked, spatially coherent


def test_synthesize_feature_frame(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=(100, 4))
    samples = pd.DataFrame(base @ np.diag([1, 2, 3, 4]) + [10, 20, 30, 40],
                           columns=["a", "b", "c", "d"])
    ff = synthesize_feature_frame(spark, samples, shape=(16, 16), seed=7)
    assert set(ff.features) == {"a", "b", "c", "d"}
    pdf = ff.df.toPandas()
    assert len(pdf) == 256
    assert {"y", "x"} <= set(pdf.columns)
    # synthesized features live in a plausible range of the sample space
    for col, mean in zip(["a", "b", "c", "d"], [10, 20, 30, 40]):
        assert abs(pdf[col].mean() - mean) < 15


def test_synthesize_with_nodata_mask(spark):
    samples = pd.DataFrame(np.random.default_rng(1).normal(size=(50, 2)), columns=["u", "v"])
    ff = synthesize_feature_frame(spark, samples, shape=(16, 16), seed=7, nodata_percentile=30.0)
    pdf = ff.df.toPandas()
    # masked pixels carry NaN/NULL in every output feature
    n_missing = pdf["u"].isna().sum()
    assert n_missing > 0.2 * len(pdf)
    assert (pdf["u"].isna() == pdf["v"].isna()).all()


def test_parquet_sink_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"part": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "sink")
    write_table(df, path, partition_by=["part"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert {r.part for r in back.select("part").distinct().collect()} == {"a", "b"}
    # partition pruning: filtering on the partition col scans one dir
    pruned = back.filter(F.col("part") == "a")
    assert pruned.count() == 2


def test_featureframe_metadata_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"id": [1, 2], "f1": [1.0, -9.0], "f2": [3.0, 4.0]})
    ff = FeatureFrame.from_dataframe(
        spark.createDataFrame(pdf), ["f1", "f2"], nodata_input={"f1": -9.0},
        metadata={"long_name": "test frame"},
    )
    ff._append_history("created")
    path = str(tmp_path / "ffmeta")
    ff.write_parquet(path)
    back = FeatureFrame.read_parquet(spark, path)
    assert set(back.features) == {"f1", "f2"}
    assert back.nodata_input == {"f1": -9.0}
    assert back.metadata["long_name"] == "test frame"
    assert any("created" in h for h in back.metadata["history"])
    assert back.invalid().count() == 1  # sentinel still recognized


def test_mllib_queries_run(spark, sf_dir):
    from sklearn_raster_spark.operators.mllib_inference import (
        q45_mllib_linear_regression,
        q46_mllib_kmeans,
        q47_mllib_logistic_proba,
    )

    pred = q45_mllib_linear_regression(spark, sf_dir)
    assert pred.count() > 0 and "pred_price" in pred.columns
    from sklearn_raster_spark.sources import read_table

    clusters = q46_mllib_kmeans(spark, sf_dir).collect()
    n_emb = read_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in clusters) == n_emb
    proba = q47_mllib_logistic_proba(spark, sf_dir).limit(20).collect()
    for r in proba:
        assert abs(r.proba_odd + r.proba_even - 1.0) < 1e-5


def test_raster_cf_metadata_roundtrip(spark, sf_dir, tmp_path):
    """Reference S1/S2 + O15 chain: per-band CF attrs (long_name ->
    feature names, _FillValue -> NoData registry, units -> frame
    metadata) flow from the band sidecar through the distributed decode
    into a FeatureFrame, and survive a parquet sink round-trip via
    StructField metadata (reference features.py:257-260 semantics)."""
    from sklearn_raster_spark.features import FeatureFrame
    from sklearn_raster_spark.sources.raster import (
        N_BANDS,
        read_raster_stack_to_featureframe,
    )

    ff = read_raster_stack_to_featureframe(spark, sf_dir)
    assert list(ff.features) == [f"band_{b}" for b in range(N_BANDS)]
    assert all(ff.nodata_input[f] == -9999.0 for f in ff.features)
    assert ff.metadata["units"]["band_0"] == "1"
    assert any("load_raster_stack" in h for h in ff.metadata["history"])

    out = str(tmp_path / "raster_ff")
    ff.write_parquet(out)
    back = FeatureFrame.read_parquet(spark, out)
    assert set(back.features) == set(ff.features)
    assert all(back.nodata_input[f] == -9999.0 for f in back.features)
    assert back.metadata["units"]["band_3"] == "1"
    # grid content is intact through decode -> pivot -> sink -> scan
    assert back.df.count() == ff.df.count() > 0


def test_geotiff_band_decode_and_tags(spark, tmp_path):
    """Mirror of test_raster_cf_metadata_roundtrip for real GeoTIFF
    band files: tags (long_name/units/nodata) feed the CF chain exactly
    like the bands.json sidecar (reference datasets/_base.py:71-104).
    Runs EVERYWHERE via the builtin baseline-TIFF codec
    (sources/tiff.py); when the environment also has rasterio, the
    fixture is written with it instead, so the builtin reader is
    cross-checked against GDAL's own output."""
    import importlib.util

    import numpy as np

    from sklearn_raster_spark.sources.raster import (
        read_band_tags,
        read_raster_stack,
    )
    from sklearn_raster_spark.sources.tiff import write_gtiff

    have_rasterio = importlib.util.find_spec("rasterio") is not None
    files = []
    for b in range(2):
        path = str(tmp_path / f"band_{b}.tif")
        grid = np.arange(12, dtype=np.float64).reshape(3, 4) + 100 * b
        if have_rasterio:
            import rasterio

            with rasterio.open(
                path,
                "w",
                driver="GTiff",
                height=3,
                width=4,
                count=1,
                dtype="float64",
                nodata=-9999.0,
            ) as dst:
                dst.write(grid, 1)
                dst.update_tags(1, long_name=f"tif_band_{b}", units="m")
        else:
            write_gtiff(
                path,
                grid,
                nodata=-9999.0,
                tags={"long_name": f"tif_band_{b}", "units": "m"},
            )
        files.append((b, path))

    tags = read_band_tags(files[0][1])
    assert tags == {"long_name": "tif_band_0", "units": "m", "_FillValue": -9999.0}

    long_df = read_raster_stack(spark, files)
    rows = long_df.filter("band = 1 AND y = 2 AND x = 3").collect()
    assert len(rows) == 1 and rows[0].value == 111.0
    assert long_df.count() == 2 * 12


def test_geotiff_full_cf_chain_via_builtin_codec(spark, tmp_path):
    """End-to-end S1/S2+O15 over REAL .tif band files with zero
    optional deps: builtin-written GeoTIFFs -> distributed executor
    decode -> wide merge -> FeatureFrame whose names/NoData/units come
    from the TIFF tags (not the sidecar) — the exact reference chain
    (datasets/_base.py:71-104 + features.py:257-260)."""
    import numpy as np

    from sklearn_raster_spark.features import FeatureFrame
    from sklearn_raster_spark.sources.raster import (
        raster_stack_to_wide,
        read_band_tags,
        read_raster_stack,
    )
    from sklearn_raster_spark.sources.tiff import write_gtiff

    rng = np.random.default_rng(7)
    files = []
    for b in range(3):
        path = str(tmp_path / f"cf_band_{b}.tif")
        write_gtiff(
            path,
            rng.normal(size=(6, 5)),
            nodata=-1.0,
            tags={"long_name": f"elev_{b}", "units": "dm"},
        )
        files.append((b, path))

    band_meta = {str(b): read_band_tags(p) for b, p in files}
    wide = raster_stack_to_wide(read_raster_stack(spark, files), n_bands=3)
    for b, _ in files:
        wide = wide.withColumnRenamed(str(b), band_meta[str(b)]["long_name"])
    feats = [band_meta[str(b)]["long_name"] for b, _ in files]
    ff = FeatureFrame.from_dataframe(
        wide,
        features=feats,
        nodata_input={f: band_meta[str(b)]["_FillValue"] for (b, _), f in zip(files, feats)},
    )
    assert list(ff.features) == ["elev_0", "elev_1", "elev_2"]
    assert all(ff.nodata_input[f] == -1.0 for f in ff.features)
    assert ff.df.count() == 30
    # decoded values are bit-exact against the grids we wrote
    got = {
        (r.y, r.x): r.elev_1
        for r in ff.df.select("y", "x", "elev_1").collect()
    }
    want = read_raster_stack(spark, [files[1]]).collect()
    assert all(got[(r.y, r.x)] == r.value for r in want)


def test_geotiff_compressed_band_through_raster_source(spark, tmp_path):
    """Round-9 codec extensions through the DISTRIBUTED scan: a
    deflate-compressed band file and a tiled+LZW+predictor band file
    decode on executors exactly like baseline strips — the layouts
    real GDAL-written GeoTIFFs use. (Unit-level coverage is in
    test_tiff_codec; this pins the raster-source integration.)"""
    import numpy as np

    from sklearn_raster_spark.sources.raster import read_raster_stack
    from sklearn_raster_spark.sources.tiff import write_gtiff

    grid0 = np.arange(30, dtype=np.float32).reshape(5, 6)
    p0 = str(tmp_path / "band_0.tif")
    write_gtiff(p0, grid0, compress="deflate")

    # tiled + LZW + predictor 2, assembled with the committed fixture
    # helper from the codec tests
    from tests.test_tiff_codec import _assemble_tiled, _lzw_encode  # noqa: F401

    grid1 = np.cumsum(
        np.random.default_rng(31).integers(-2, 3, size=(5, 6)), axis=1
    ).astype(np.float32)
    p1 = str(tmp_path / "band_1.tif")
    import pathlib

    pathlib.Path(p1).write_bytes(_assemble_tiled(grid1, tw=4, tl=2, deflate=True))

    long_df = read_raster_stack(spark, [(0, p0), (1, p1)])
    assert long_df.count() == 60
    got0 = (
        long_df.filter("band = 0").orderBy("y", "x").toPandas()["value"].to_numpy()
    )
    got1 = (
        long_df.filter("band = 1").orderBy("y", "x").toPandas()["value"].to_numpy()
    )
    assert np.array_equal(got0.reshape(5, 6), grid0)
    assert np.array_equal(got1.reshape(5, 6), grid1)


def _npy_band(tmp_path, name, grid):
    path = str(tmp_path / name)
    np.save(path, np.asarray(grid, dtype=np.float64))
    return path


def _stack_ragged(tmp_path):
    rng = np.random.default_rng(3)
    shapes = [(4, 5), (6, 3), (2, 7)]
    return [(b, _npy_band(tmp_path, f"r{b}.npy", rng.normal(size=s))) for b, s in enumerate(shapes)], 3


def _stack_nonfinite(tmp_path):
    g0 = np.array([[1.0, np.nan, np.inf], [-np.inf, 0.0, np.nan]])
    g1 = np.array([[np.nan, np.nan, 2.0], [3.0, -np.inf, 4.0]])
    return [(0, _npy_band(tmp_path, "n0.npy", g0)), (1, _npy_band(tmp_path, "n1.npy", g1))], 2


def _stack_missing_bands(tmp_path):
    # n_bands above the file count: bands 1 and 3 have no file
    return [
        (0, _npy_band(tmp_path, "m0.npy", np.arange(12.0).reshape(3, 4))),
        (2, _npy_band(tmp_path, "m2.npy", -np.arange(6.0).reshape(2, 3))),
    ], 4


def _stack_band_beyond_n(tmp_path):
    # band 5 >= n_bands: its larger grid adds cells but no column
    return [
        (0, _npy_band(tmp_path, "o0.npy", np.ones((2, 3)))),
        (1, _npy_band(tmp_path, "o1.npy", np.full((3, 2), 2.0))),
        (5, _npy_band(tmp_path, "o5.npy", np.full((5, 6), 9.0))),
    ], 2


def _stack_tif(tmp_path):
    from sklearn_raster_spark.sources.tiff import write_gtiff

    rng = np.random.default_rng(5)
    files = []
    for b, shape in enumerate([(5, 4), (3, 6)]):
        path = str(tmp_path / f"t{b}.tif")
        write_gtiff(path, rng.normal(size=shape).astype(np.float32))
        files.append((b, path))
    return files, 2


@pytest.mark.parametrize("tiles", ["one", "many"])
@pytest.mark.parametrize(
    "stack",
    [_stack_ragged, _stack_nonfinite, _stack_missing_bands, _stack_band_beyond_n, _stack_tif],
    ids=["ragged", "nonfinite", "missing_bands", "band_beyond_n", "tif"],
)
def test_raster_wide_read_equals_pivot(spark, tmp_path, stack, tiles):
    """The direct wide read of read_raster_stack's output equals the
    long->wide pivot (reached through a .select("*") copy) cell for cell
    and field for field, in one tile and in many tiny ones."""
    from sklearn_raster_spark.sources.raster import (
        _decode_grid,
        raster_stack_to_wide,
        read_raster_stack,
    )

    files, n_bands = stack(tmp_path)
    split = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(split)
    try:
        if tiles == "many":
            spark.conf.set(split, "256")
        long_df = read_raster_stack(spark, files)
        fast = raster_stack_to_wide(long_df, n_bands)
        ref = raster_stack_to_wide(long_df.select("*"), n_bands)
        assert (fast.rdd.getNumPartitions() > 1) == (tiles == "many")
        assert fast.schema == ref.schema
        got = sorted(fast.collect(), key=lambda r: (r.y, r.x))
        want = sorted(ref.collect(), key=lambda r: (r.y, r.x))
    finally:
        spark.conf.set(split, saved)
    assert len(got) == len(want) > 0
    assert got == want
    # the long form holds each band's own grid cells only
    assert long_df.count() == sum(_decode_grid(p).size for _, p in files)


def test_raster_wide_read_is_one_job_without_exchange(spark, tmp_path):
    """read -> wide is a single shuffle-free scan: one job, no Exchange."""
    import uuid

    from sklearn_raster_spark.sources.raster import raster_stack_to_wide, read_raster_stack

    files = [(b, _npy_band(tmp_path, f"j{b}.npy", np.full((8, 6), float(b)))) for b in range(3)]
    wide = raster_stack_to_wide(read_raster_stack(spark, files), 3)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    sc = spark.sparkContext
    group = f"raster-wide-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "raster wide read")
    try:
        rows = wide.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 48
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_raster_readers_ship_the_package(spark, tmp_path, monkeypatch):
    """Both readers ship the package to the workers themselves, so a
    driver importing it from outside the repo needs no extra call."""
    import sklearn_raster_spark.session as session
    from sklearn_raster_spark.sources.raster import raster_stack_to_wide, read_raster_stack

    calls = []
    real = session.ensure_workers_can_import
    monkeypatch.setattr(
        session, "ensure_workers_can_import", lambda s: (calls.append(s), real(s))
    )
    long_df = read_raster_stack(spark, [(0, _npy_band(tmp_path, "s0.npy", np.ones((2, 2))))])
    assert calls == [spark]
    raster_stack_to_wide(long_df, 1)
    assert calls == [spark, spark]


@pytest.mark.parametrize("bands", [[0, 0], [0, 1, 1]], ids=["pair", "among_three"])
def test_raster_stack_rejects_duplicate_band_ids(spark, tmp_path, bands):
    """Two files for one band would double its long-form cells and make
    the pivot's first() pick a file per cell at random: refused."""
    from sklearn_raster_spark.sources.raster import read_raster_stack

    files = [(b, _npy_band(tmp_path, f"d{i}.npy", np.ones((2, 2)))) for i, b in enumerate(bands)]
    with pytest.raises(ValueError, match="more than one file"):
        read_raster_stack(spark, files)
