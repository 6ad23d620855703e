"""Round-2 additions: gemm k-NN memory fix, reference-semantics gaps
(ensure_min_samples global check, collision warning), compiled PCA,
LSH kneighbors backend, CSV/JSON sources, reshape duals, stateful
streaming, and the advisor's asof/topk/salted_join fixes.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Row, functions as F

from sklearn_raster_spark.estimator import (
    SparkEstimator,
    warn_if_output_collisions,
)
from sklearn_raster_spark.estimators import (
    KNeighborsRegressorNP,
    PCANP,
    StandardScalerNP,
)
from sklearn_raster_spark.features import FeatureFrame


# -- gemm k-NN kernel ---------------------------------------------------


def _naive_kneighbors(X, fit_X, k):
    d2 = ((X[:, None, :] - fit_X[None, :, :]) ** 2).sum(axis=2)
    idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
    return np.sqrt(np.take_along_axis(d2, idx, axis=1)), idx


def test_gemm_kneighbors_matches_naive():
    rng = np.random.default_rng(7)
    fit_X = rng.normal(size=(200, 16))
    X = rng.normal(size=(50, 16))
    m = KNeighborsRegressorNP(n_neighbors=4).fit(fit_X, rng.normal(size=200))
    dist, idx = m.kneighbors(X)
    ndist, nidx = _naive_kneighbors(X, fit_X, 4)
    assert (idx == nidx).all()
    np.testing.assert_allclose(dist, ndist, rtol=1e-9, atol=1e-9)


def test_gemm_kneighbors_large_fit_set_bounded_memory():
    # 5_000-row fit set x 2_000-row batch x 64 dims: the broadcast-diff
    # formulation would materialize a (2000, 5000, 64) float64 = 5.1 GB
    # temporary; the gemm identity needs only the (2000, 5000) = 80 MB
    # distance matrix. This completing quickly (and at all) is the test.
    rng = np.random.default_rng(11)
    fit_X = rng.normal(size=(5_000, 64))
    m = KNeighborsRegressorNP(n_neighbors=3).fit(fit_X, rng.normal(size=5_000))
    X = rng.normal(size=(2_000, 64))
    dist, idx = m.kneighbors(X)
    assert dist.shape == (2_000, 3) and idx.shape == (2_000, 3)
    # spot-check a few rows against the naive kernel
    sd, si = _naive_kneighbors(X[:5], fit_X, 3)
    assert (idx[:5] == si).all()
    np.testing.assert_allclose(dist[:5], sd, rtol=1e-9, atol=1e-9)


# -- reference-semantics gaps (O6 global check, O8 auto-warn) -----------


def _fitted_linear(spark):
    from sklearn_raster_spark.estimators import FixedLinearModel

    est = SparkEstimator(FixedLinearModel(weights=[1.0], intercept=0.0))
    est.fit(pd.DataFrame(np.zeros((2, 1)), columns=["x"]))
    est.target_names_in_ = ("y",)
    return est


def test_ensure_min_samples_exceeding_total_raises(spark):
    df = spark.createDataFrame([Row(x=1.0), Row(x=2.0), Row(x=3.0)])
    ff = FeatureFrame.from_dataframe(df, features=["x"])
    est = _fitted_linear(spark)
    with pytest.raises(ValueError, match="only 3 rows"):
        est.predict(
            ff, compile_expressions=False, ensure_min_samples=10
        ).df.collect()


def test_predict_collision_warning(spark):
    # nodata_output=2.0 collides with the valid prediction for x=2.0
    df = spark.createDataFrame([Row(x=1.0), Row(x=2.0), Row(x=None)])
    ff = FeatureFrame.from_dataframe(df, features=["x"])
    est = _fitted_linear(spark)
    out = est.predict(ff, nodata_output=2.0, compile_expressions=False)
    out.df.collect()  # accumulators populate with job execution
    with pytest.warns(UserWarning, match="equal the nodata_output"):
        n = warn_if_output_collisions(out)
    assert n == 1


def test_predict_no_collision_no_warning(spark):
    df = spark.createDataFrame([Row(x=1.0), Row(x=2.0)])
    ff = FeatureFrame.from_dataframe(df, features=["x"])
    est = _fitted_linear(spark)
    out = est.predict(ff, nodata_output=-9999.0, compile_expressions=False)
    out.df.collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert warn_if_output_collisions(out) == 0


# -- compiled PCA transform / inverse_transform -------------------------


def test_pca_compiled_matches_numpy(spark):
    rng = np.random.default_rng(3)
    X = rng.normal(size=(300, 6))
    cols = [f"f{i}" for i in range(6)]
    est = SparkEstimator(PCANP(n_components=3))
    est.fit(pd.DataFrame(X, columns=cols))

    pdf = pd.DataFrame(X[:50], columns=cols)
    pdf.insert(0, "rid", range(50))
    df = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(df, features=cols)

    compiled = est.transform(ff).df.orderBy("rid").collect()
    expected = est.estimator.transform(X[:50])
    got = np.array([[r[f"pc{j}"] for j in range(3)] for r in compiled])
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-12)

    # inverse leg: compiled inverse matches the numpy round-trip (the
    # projection onto the component subspace — lossy by design when
    # n_components < n_features)
    inv = est.inverse_transform(est.transform(ff)).df.orderBy("rid").collect()
    got_inv = np.array([[r[c] for c in cols] for r in inv])
    want_inv = est.estimator.inverse_transform(est.estimator.transform(X[:50]))
    np.testing.assert_allclose(got_inv, want_inv, rtol=1e-9, atol=1e-12)


def test_compiled_paths_record_their_method(spark):
    """Each expression-compiled path names its own method in the frame
    history: the inverse leg records inverse_transform, not transform."""
    cols = ["f0", "f1", "f2"]
    X = np.random.default_rng(5).normal(size=(40, 3))
    est = SparkEstimator(PCANP(n_components=2))
    est.fit(pd.DataFrame(X, columns=cols))
    ff = FeatureFrame.from_dataframe(spark.createDataFrame(pd.DataFrame(X, columns=cols)), cols)

    fwd = est.transform(ff)
    inv = est.inverse_transform(fwd)
    assert fwd.metadata["history"][-1].split(" ", 1)[1] == "transform:compiled"
    assert inv.metadata["history"][-1].split(" ", 1)[1] == "inverse_transform:compiled"


@pytest.mark.parametrize("compiled", [True, False], ids=["compiled", "arrow"])
def test_inverse_transform_plain_dataframe_reads_transformed_columns(spark, compiled):
    """A plain DataFrame without ``features=`` feeds the inverse from
    the transformed columns (get_feature_names_out), on both paths."""
    cols = ["f0", "f1", "f2"]
    X = np.random.default_rng(6).normal(size=(30, 3))
    est = SparkEstimator(PCANP(n_components=2))
    est.fit(pd.DataFrame(X, columns=cols))
    pdf = pd.DataFrame(X, columns=cols).assign(rid=np.arange(len(X)))
    fwd = est.transform(spark.createDataFrame(pdf), compile_expressions=compiled).df

    inv = est.inverse_transform(fwd, compile_expressions=compiled)
    assert list(inv.features) == cols
    got = np.array(inv.df.orderBy("rid").select(*cols).collect(), dtype=float)
    want = est.estimator.inverse_transform(est.estimator.transform(X))
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


# -- LSH kneighbors backend ---------------------------------------------


def test_kneighbors_lsh_recall(spark, sf_dir):
    from sklearn_raster_spark.operators.inference import (
        EMB_DIM,
        _collect_embeddings,
        _embedding_frame,
    )

    X, y = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=3))
    est.fit(
        pd.DataFrame(X[:100], columns=[f"e{i}" for i in range(EMB_DIM)]),
        pd.Series(y[:100].astype(float), name="label"),
    )
    ff = _embedding_frame(spark, sf_dir)
    exact = {
        r["vec_id"]: {r["idx_1"], r["idx_2"], r["idx_3"]}
        for r in est.kneighbors(ff, n_neighbors=3, method="exact").df.collect()
    }
    approx = {
        r["vec_id"]: {r["idx_1"], r["idx_2"], r["idx_3"]}
        for r in est.kneighbors(ff, n_neighbors=3, method="lsh").df.collect()
    }
    assert set(approx) == set(exact)
    hits = sum(len(exact[v] & approx[v]) for v in exact)
    total = sum(len(exact[v]) for v in exact)
    assert hits / total >= 0.9, f"LSH recall {hits / total:.3f} < 0.9"


def test_kneighbors_lsh_accepts_exact_path_kwargs(spark):
    """Exact-path parity (round-7 ADVICE): a call that works under
    method='exact' must not TypeError when a fit-set growth flips
    method='auto' to the LSH path — including nan_fill, keep_features
    and collision_counter. keep_features carries the inputs through;
    nan_fill/collision_counter are accepted no-ops (NaN cells are
    row-level NoData under skip-compaction and never reach the
    distance math; LSH outputs cannot collide with their encodings) —
    and the NaN row must carry the SAME nodata encodings both paths
    produce."""
    rng = np.random.default_rng(11)
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=2))
    est.fit(
        pd.DataFrame(rng.normal(size=(30, 3)), columns=["a", "b", "c"]),
        pd.Series(rng.normal(size=30)),
    )
    pdf = pd.DataFrame(rng.normal(size=(12, 3)), columns=["a", "b", "c"])
    pdf.loc[3, "b"] = np.nan  # un-registered NaN: nan_fill's job
    df = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(df, features=["a", "b", "c"])
    acc = spark.sparkContext.accumulator(0)
    out = est.kneighbors(
        ff,
        n_neighbors=2,
        method="lsh",
        nan_fill=0.0,
        keep_features=True,
        collision_counter=acc,
        inner_thread_limit=1,
        ensure_min_samples=1,
    )
    rows = out.df.collect()
    assert len(rows) == 12
    # keep_features: the input feature columns survive into the output
    assert {"a", "b", "c"} <= set(out.df.columns)
    # the NaN-carrying row is row-level NoData (reference semantics:
    # any masked feature masks the sample) -> nodata encodings
    nan_row = [r for r in rows if pd.isna(r["b"])]
    assert len(nan_row) == 1
    assert np.isnan(nan_row[0]["dist_1"]) and nan_row[0]["idx_1"] == -(2**31)
    # and the exact path with the same kwargs agrees: same columns,
    # same nodata treatment of the NaN row
    out_exact = est.kneighbors(
        ff, n_neighbors=2, method="exact", nan_fill=0.0, keep_features=True
    )
    assert {"a", "b", "c"} <= set(out_exact.df.columns)
    nan_exact = [r for r in out_exact.df.collect() if pd.isna(r["b"])]
    assert len(nan_exact) == 1
    assert np.isnan(nan_exact[0]["dist_1"]) and nan_exact[0]["idx_1"] == -(2**31)


def test_kneighbors_auto_selects_exact_for_small_fit(spark):
    rng = np.random.default_rng(5)
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=2))
    est.fit(
        pd.DataFrame(rng.normal(size=(20, 3)), columns=["a", "b", "c"]),
        pd.Series(rng.normal(size=20)),
    )
    pdf = pd.DataFrame(rng.normal(size=(10, 3)), columns=["a", "b", "c"])
    df = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(df, features=["a", "b", "c"])
    out = est.kneighbors(ff, n_neighbors=2)  # method="auto" -> exact
    assert "kneighbors" in out.metadata["history"][-1]


# -- CSV / JSON source formats ------------------------------------------


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_non_parquet_source_roundtrip(spark, sf_dir, fmt):
    from sklearn_raster_spark.sources import read_table

    pq = read_table(spark, sf_dir, "nation")
    alt = read_table(spark, sf_dir, "nation", fmt=fmt)
    assert alt.schema == pq.schema
    a = sorted(map(tuple, pq.collect()))
    b = sorted(map(tuple, alt.collect()))
    assert a == b


def test_unknown_format_rejected(spark, sf_dir):
    from sklearn_raster_spark.sources import read_table

    with pytest.raises(KeyError, match="unknown format"):
        read_table(spark, sf_dir, "nation", fmt="xml")


# -- reshape duals -------------------------------------------------------


def test_wide_long_roundtrip(spark, sf_dir):
    from sklearn_raster_spark.operators.reshape import long_to_wide, wide_to_long
    from sklearn_raster_spark.sources import read_table

    feats = ["l_quantity", "l_discount", "l_tax"]
    wide = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", *feats)
        .filter(F.col("l_orderkey") < 500)  # deterministic subset
        # the synthetic lineitem does NOT have unique (orderkey,
        # linenumber); pivot round-trips need a unique id key
        .dropDuplicates(["l_orderkey", "l_linenumber"])
    )
    wide = wide.select(
        "l_orderkey", "l_linenumber", *[F.col(c).cast("double").alias(c) for c in feats]
    )
    n_wide = wide.count()
    long = wide_to_long(wide, ["l_orderkey", "l_linenumber"], feats)
    assert long.count() == n_wide * 3
    back = long_to_wide(
        long, ["l_orderkey", "l_linenumber"], "feature", "value", feats
    )
    a = sorted(map(tuple, wide.collect()))
    b = sorted(map(tuple, back.select(*wide.columns).collect()))
    assert a == b


# -- stateful streaming: cross-batch state continuity -------------------


def test_stateful_running_agg_across_microbatches(spark, tmp_path):
    """Split a small events table into two time-ordered files, stream
    them as separate micro-batches (maxFilesPerTrigger=1), and check
    the per-event running stats equal the single-batch window result:
    GroupState must carry (n, max) across the batch boundary."""
    import os
    import time

    from sklearn_raster_spark.operators.stateful import running_user_stats_stream
    from sklearn_raster_spark.streaming import run_append_stream_to_memory

    pdf = pd.DataFrame(
        {
            "event_id": range(40),
            "user_id": [i % 4 for i in range(40)],
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(40), "min"),
            "value": [float((i * 37) % 100) for i in range(40)],
        }
    )
    src = tmp_path / "events_stream"
    src.mkdir()
    spark.createDataFrame(pdf[pdf.event_id < 20]).coalesce(1).write.parquet(
        str(src / "batch0")
    )
    time.sleep(1.1)  # file-source orders batches by modification time
    spark.createDataFrame(pdf[pdf.event_id >= 20]).coalesce(1).write.parquet(
        str(src / "batch1")
    )

    schema = spark.read.parquet(str(src / "batch0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = running_user_stats_stream(stream)
    run_append_stream_to_memory(out, "t_stateful_mb")
    got = {
        (r.event_id, r.user_id): (r.running_n, r.running_max)
        for r in spark.table("t_stateful_mb").collect()
    }
    # batch oracle: window running count / max
    pdf_sorted = pdf.sort_values(["user_id", "ts", "event_id"])
    want = {}
    for uid, grp in pdf_sorted.groupby("user_id"):
        vmax, n = None, 0
        for r in grp.itertuples():
            n += 1
            vmax = r.value if vmax is None or r.value > vmax else vmax
            want[(r.event_id, uid)] = (n, vmax)
    assert got == want


# -- advisor fixes -------------------------------------------------------


def test_asof_null_in_latest_right_row_propagates(spark):
    """The latest prior right row has v1=NULL: v1 must come back NULL
    (same-row semantics), NOT backfilled from the older row."""
    from sklearn_raster_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k="a", t=10, lid=1)])
    right = spark.createDataFrame(
        [
            Row(k="a", t=1, v1=100, v2=11),
            Row(k="a", t=5, v1=None, v2=22),
        ]
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t", right_values=["v1", "v2"]
    ).collect()
    assert len(out) == 1
    assert out[0]["v2"] == 22  # from the t=5 row
    assert out[0]["v1"] is None  # NOT 100 from the t=1 row


def test_topk_descending_on_string_column(spark):
    from sklearn_raster_spark.operators.topk import topk_per_key

    df = spark.createDataFrame(
        [Row(g=1, name=n, pay=i) for i, n in enumerate(["apple", "pear", "zebra", "mango"])]
    )
    got = topk_per_key(df, ["g"], "name", 2, ascending=False, tiebreak_col="pay")
    rows = got.orderBy("rn").collect()
    assert [r["name"] for r in rows] == ["zebra", "pear"]


def test_topk_descending_nan_first_like_window(spark):
    from pyspark.sql.window import Window

    from sklearn_raster_spark.operators.topk import topk_per_key

    df = spark.createDataFrame(
        [Row(g=1, x=float("nan"), rid=0), Row(g=1, x=5.0, rid=1), Row(g=1, x=7.0, rid=2)]
    )
    got = topk_per_key(df, ["g"], "x", 2, ascending=False, tiebreak_col="rid")
    w = Window.partitionBy("g").orderBy(F.col("x").desc(), "rid")
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("g", "x", "rid", "rn")
    )
    a = sorted(map(repr, got.select("g", "x", "rid", "rn").collect()))
    b = sorted(map(repr, want.collect()))
    assert a == b


def test_salted_join_rejects_outer(spark):
    from sklearn_raster_spark.operators.skew import salted_join

    df = spark.createDataFrame([Row(k=1, v=1)])
    with pytest.raises(ValueError, match="inner"):
        salted_join(df, df, "k", "k", how="full")


def test_encode_nodata_registers_sentinel(spark):
    df = spark.createDataFrame([Row(x=1.0), Row(x=None)])
    ff = FeatureFrame.from_dataframe(df, features=["x"])
    enc = ff.encode_nodata(-9999.0)
    # the encoded sentinel must be recognized as NoData by the result
    assert enc.nodata_input["x"] == -9999.0
    masked = enc.df.filter(enc.feature_mask("x")).collect()
    assert len(masked) == 1 and masked[0]["x"] == -9999.0


def test_asof_time_bucket_matches_plain_on_skewed_key(spark):
    """Two-phase bucketed carry == plain single-window carry on a
    95%-one-user fixture (verdict #9: window sorts don't get AQE skew
    splitting, so the hot key must be split by time bucket)."""
    import datetime as dt

    from sklearn_raster_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(3)
    rows = []
    for i in range(2_000):
        uid = 1 if rng.random() < 0.95 else int(rng.integers(2, 20))
        rows.append(
            Row(
                event_id=i,
                user_id=uid,
                ts=base + dt.timedelta(seconds=int(rng.integers(0, 86_400))),
                kind="l" if rng.random() < 0.5 else "r",
                value=float(i) if rng.random() < 0.9 else None,
            )
        )
    df = spark.createDataFrame(rows)
    left = df.filter(F.col("kind") == "l").select("event_id", "user_id", "ts")
    right = df.filter(F.col("kind") == "r").select(
        "user_id", "ts", F.col("event_id").alias("rid"), "value"
    )
    kw = dict(on="user_id", left_time="ts", right_time="ts", right_values=["rid", "value"])
    plain = asof_join(left, right, **kw)
    bucketed = asof_join(left, right, time_bucket="1 hour", **kw)
    a = sorted(map(repr, plain.collect()))
    b = sorted(map(repr, bucketed.collect()))
    assert a == b
    # the hot key's phase-1 sort is partitioned by (key, bucket): the
    # widest partition the plan can sort is one bucket of one key
    plan = bucketed._sc._jvm.PythonSQLUtils.explainString(
        bucketed._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Window") >= 2  # phase-1 + tiny carry-in window


def test_asof_time_bucket_exclusive(spark):
    import datetime as dt

    from sklearn_raster_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    left = spark.createDataFrame([Row(k="a", t=t0, lid=1)])
    right = spark.createDataFrame(
        [Row(k="a", t=t0, v=99), Row(k="a", t=t0 - dt.timedelta(hours=3), v=7)]
    )
    kw = dict(on="k", left_time="t", right_time="t", right_values=["v"])
    # inclusive: the same-instant right row attaches; exclusive: the older one
    for inclusive, want in ((True, 99), (False, 7)):
        got = asof_join(
            left, right, inclusive=inclusive, time_bucket="1 hour", **kw
        ).collect()
        assert len(got) == 1 and got[0]["v"] == want, (inclusive, got)


def test_ivf_recall_vs_exact(spark, sf_dir):
    from sklearn_raster_spark.operators.similarity import ivf_topk
    from sklearn_raster_spark.plans.registry import load_all_queries

    exact = {
        (r.qid, r.nid)
        for r in load_all_queries()["q55_knn_cosine_bruteforce"].fn(spark, sf_dir).collect()
    }
    from sklearn_raster_spark.sources import read_table

    ivf = {(r.qid, r.nid) for r in ivf_topk(read_table(spark, sf_dir, "embeddings")).collect()}
    assert len(exact & ivf) / len(exact) >= 0.75


def test_raster_stack_reader_layout(spark, sf_dir):
    """Executor-side .npy decode reproduces the exact (y, x) layout of
    the vec_id-ordered embedding matrix."""
    from sklearn_raster_spark.sources.raster import (
        GRID_WIDTH,
        materialize_raster_stack,
        raster_stack_to_wide,
        read_raster_stack,
    )
    from sklearn_raster_spark.sources import read_table

    files = materialize_raster_stack(spark, sf_dir)
    long_df = read_raster_stack(spark, files)
    wide = raster_stack_to_wide(long_df)
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()
    )
    mat = np.array([np.asarray(e, dtype=np.float64) for e in emb["embedding"]])
    cell = wide.filter((F.col("y") == 1) & (F.col("x") == 2)).collect()[0]
    rn = 1 * GRID_WIDTH + 2
    for b in range(8):
        assert cell[str(b)] == mat[rn, b]
    n_rows = (mat.shape[0] // GRID_WIDTH) * GRID_WIDTH
    assert wide.count() == n_rows
