"""Distributed estimator inference as declared queries.

These exercise the reference's core capability (estimator.py E3-E7:
batch inference with NoData skip/scatter-back) through the driver's
correctness gate. q40 has an EXACT DuckDB oracle because the model has
fixed weights and the kernel evaluates the same IEEE expression order
as the SQL; the fitted-model queries (q41-q43) are rows-only (model
state is not SQL-expressible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.estimator import SparkEstimator
from sklearn_raster_spark.estimators import (
    FixedLinearModel,
    GaussianNBNP,
    PCANP,
)
from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.vectors import finite_embedding

EMB_DIM = 64


@query(
    "q40_linear_inference_nodata",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        CASE WHEN l_quantity = 50.0
             THEN -9999.0
             ELSE 10.0 + l_quantity * 0.5 + l_discount * (-100.0) + l_tax * 200.0
        END AS score
    FROM lineitem
    """,
    doc="Distributed mapInArrow inference with reference NoData "
        "semantics: l_quantity=50 is an encoded NoData sentinel "
        "(nullified at ingestion, O2), masked rows skip the model (O4) "
        "and scatter back nodata_output=-9999 (O5). Fixed weights give "
        "an exact SQL oracle.",
)
def q40_linear_inference_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    )
    ff = FeatureFrame.from_dataframe(
        li,
        features=["l_quantity", "l_discount", "l_tax"],
        nodata_input={"l_quantity": 50.0},
    ).nullify_nodata()

    model = FixedLinearModel(weights=[0.5, -100.0, 200.0], intercept=10.0)
    est = SparkEstimator(model)
    est.fit(pd.DataFrame(np.zeros((2, 3)), columns=["l_quantity", "l_discount", "l_tax"]))
    est.target_names_in_ = ("score",)
    # deliberately the Arrow/mapInArrow path — q48 is the compiled dual
    out = est.predict(ff, nodata_output=-9999.0, compile_expressions=False)
    return out.df.select("l_orderkey", "l_linenumber", "score")


@query(
    "q48_compiled_linear_inference",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        CASE WHEN l_quantity = 50.0
             THEN -9999.0
             ELSE 10.0 + l_quantity * 0.5 + l_discount * (-100.0) + l_tax * 200.0
        END AS score
    FROM lineitem
    """,
    doc="Expression-COMPILED inference: the same model and NoData "
        "semantics as q40, but predict compiles to Catalyst column "
        "expressions (when(mask, nodata).otherwise(w·x+b)) — zero "
        "Python boundary, whole-stage codegen end to end. The bench "
        "delta vs q40 is the cost of the Arrow/pandas path.",
)
def q48_compiled_linear_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    )
    ff = FeatureFrame.from_dataframe(
        li,
        features=["l_quantity", "l_discount", "l_tax"],
        nodata_input={"l_quantity": 50.0},
    ).nullify_nodata()
    model = FixedLinearModel(weights=[0.5, -100.0, 200.0], intercept=10.0)
    est = SparkEstimator(model)
    est.fit(pd.DataFrame(np.zeros((2, 3)), columns=["l_quantity", "l_discount", "l_tax"]))
    est.target_names_in_ = ("score",)
    out = est.predict(ff, nodata_output=-9999.0)  # compiled by default
    return out.df.select("l_orderkey", "l_linenumber", "score")


def _embedding_frame(spark: SparkSession, sf_dir: str) -> FeatureFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # selectExpr strings, not 64 Column objects: each py4j Column call
    # costs ~1ms of driver time, and this projection is on the build
    # path of six queries
    df = emb.selectExpr(
        "vec_id",
        "label",
        *[f"CAST(embedding[{i}] AS DOUBLE) AS e{i}" for i in range(EMB_DIM)],
    )
    return FeatureFrame.from_dataframe(df, features=[f"e{i}" for i in range(EMB_DIM)])


FIT_SAMPLE_CAP = 10_000

# fit-sample memo: six queries fit on the same deterministic sample
# table; the collect is pure in (sf_dir, cap), so one Arrow transfer
# serves the whole sweep instead of one per query
_FIT_CACHE: dict = {}


def _collect_embeddings(spark: SparkSession, sf_dir: str, cap: int = FIT_SAMPLE_CAP):
    """Deterministic driver-side training set: the first ``cap``
    embeddings by vec_id. The cap bounds driver memory at any scale
    factor — fit runs on a sample table, matching the reference's
    fit-on-plot-tables contract (estimator.py:81-115), never on the
    full distributed table. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-N, then a merge of N-row
    partials), so no executor or the driver ever holds the full table."""
    key = (sf_dir, cap)
    if key not in _FIT_CACHE:
        pdf = (
            read_table(spark, sf_dir, "embeddings")
            # a usable training row needs both a vector and a label; a
            # NULL embedding breaks the dense matrix build below, and a
            # non-finite element would silently absorb into every
            # learned statistic (random-instance fuzz findings r8/r9;
            # utils/vectors.py contract)
            .filter(finite_embedding() & F.col("label").isNotNull())
            .orderBy("vec_id")
            .limit(cap)
            .toPandas()  # Arrow batch transfer, not row pickling
        )
        X = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        y = pdf["label"].to_numpy()
        _FIT_CACHE[key] = (X, y)
    X, y = _FIT_CACHE[key]
    return X.copy(), y.copy()


@query(
    "q41_nb_classify_embeddings",
    doc="Fit Gaussian NB driver-side on the embeddings table (the "
        "reference fits on small plot tables, estimator.py:81-115), "
        "classify distributed via broadcast model + mapInArrow. "
        "Rows-only check (fitted model state is not SQL).",
)
def q41_nb_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    X, y = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(GaussianNBNP())
    est.fit(pd.DataFrame(X, columns=[f"e{i}" for i in range(EMB_DIM)]), pd.Series(y, name="label"))
    est.target_names_in_ = ("pred_label",)
    ff = _embedding_frame(spark, sf_dir)
    out = est.predict(ff)
    return out.df.select("vec_id", F.col("label").alias("true_label"), "pred_label")


@query(
    "q42_nb_proba_embeddings",
    doc="predict_proba surface: one column per class (reference "
        "estimator.py:230-343). Rows-only check.",
)
def q42_nb_proba_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    X, y = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(GaussianNBNP())
    est.fit(pd.DataFrame(X, columns=[f"e{i}" for i in range(EMB_DIM)]), pd.Series(y, name="label"))
    ff = _embedding_frame(spark, sf_dir)
    out = est.predict_proba(ff)
    proba_cols = [c for c in out.df.columns if c.startswith("proba_")]
    return out.df.select("vec_id", *proba_cols)


@query(
    "q44_kneighbors_embeddings",
    doc="kneighbors surface (reference estimator.py:345-518): exact "
        "brute-force k-NN of every embedding against a 100-vector "
        "broadcast fit set; per-output nodata (nan / int32 min). "
        "Rows-only (fit-set state is not SQL).",
)
def q44_kneighbors_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.estimators import KNeighborsRegressorNP

    X, y = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=3))
    est.fit(
        pd.DataFrame(X[:100], columns=[f"e{i}" for i in range(EMB_DIM)]),
        pd.Series(y[:100].astype(float), name="label"),
    )
    ff = _embedding_frame(spark, sf_dir)
    out = est.kneighbors(ff, n_neighbors=3)
    return out.df.select("vec_id", "dist_1", "dist_2", "dist_3", "idx_1", "idx_2", "idx_3")


@query(
    "q67_inverse_transform_roundtrip",
    oracle="SELECT vec_id, TRUE AS ok FROM embeddings WHERE embedding IS NOT NULL "
           "AND LEN(LIST_FILTER(embedding, x -> NOT ISFINITE(x))) = 0",
    doc="transform -> inverse_transform round-trip (reference E6/E7, "
        "estimator.py:520-737), both legs through the COMPILED affine "
        "path (pure Catalyst expressions, zero Python). The query "
        "asserts the round-trip property IN the result: ok = max "
        "reconstruction error < 1e-9 per row, which the oracle pins "
        "to TRUE for every vec_id — a non-SQL computation reduced to "
        "an exact SQL-checkable invariant.",
)
def q67_inverse_transform_roundtrip(spark: SparkSession, sf_dir: str, dims: int = 16) -> DataFrame:
    from sklearn_raster_spark.estimators import StandardScalerNP

    feats = [f"e{i}" for i in range(dims)]
    X, _ = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(StandardScalerNP())
    est.fit(pd.DataFrame(X[:, :dims], columns=feats))

    # NULL or non-finite vectors have no round-trip to check (the
    # oracle applies the same filter): the reconstruction-error
    # invariant is only defined on real inputs, and a NaN element
    # makes |x - x| NaN, flagging ok=false on an untestable row
    # (utils/vectors.py contract)
    emb = read_table(spark, sf_dir, "embeddings").filter(finite_embedding())
    # the original rides along as the single `embedding` array column
    # (passthrough), not one exploded copy per dim; the query checks a
    # 16-dim slice — Catalyst ANALYSIS of the chained compiled selects
    # is quadratic in plan width and dominated execution at 64 dims
    # (tests/test_round2.py round-trips the full width at small scale)
    df = emb.select(
        "vec_id",
        "embedding",
        *[F.col("embedding")[i].cast("double").alias(f"e{i}") for i in range(dims)],
    )
    ff = FeatureFrame.from_dataframe(df, features=feats)
    scaled = est.transform(ff)          # compiled: (x - m) / s
    restored = est.inverse_transform(scaled)  # compiled: x * s + m
    err = F.greatest(
        *[
            F.abs(F.col(f"e{i}") - F.col("embedding")[i].cast("double"))
            for i in range(dims)
        ]
    )
    return restored.df.select("vec_id", (err < F.lit(1e-9)).alias("ok"))


@query(
    "q43_pca_transform_embeddings",
    doc="transform surface (reference estimator.py:520-629): PCA fitted "
        "driver-side, applied distributed; output names from "
        "get_feature_names_out. Rows-only check.",
)
def q43_pca_transform_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    X, _ = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(PCANP(n_components=4))
    est.fit(pd.DataFrame(X, columns=[f"e{i}" for i in range(EMB_DIM)]))
    ff = _embedding_frame(spark, sf_dir)
    out = est.transform(ff)
    return out.df.select("vec_id", "pc0", "pc1", "pc2", "pc3")


# ---------------------------------------------------------------------------
# Portable twins for the fitted-state queries (VERDICT r10 next #2):
# q41/q42/q43 run fitted models (SVD components, class statistics) whose
# parameters are not SQL-expressible, so they are rows-only. q171/q172/
# q173 drive the SAME distributed execution paths (broadcast model +
# Arrow mapInArrow kernel through SparkEstimator E3/E4/E6) with FIXED
# literal parameters, giving each path a hash-exact DuckDB oracle —
# exactly how q48 twins q40's linear inference, and the Spark analog of
# the reference's bare-estimator differential oracle
# (/root/reference/tests/test_estimator.py:300-318).
#
# All literals are dyadic rationals (exactly representable doubles that
# parse identically in Spark, numpy and DuckDB); kernels accumulate in
# the same left-to-right elementwise IEEE order the SQL expressions use,
# so predict/transform are bit-identical. Only q172's softmax calls a
# non-correctly-rounded transcendental (exp); both sides round to 6
# decimals, putting the <=1-ulp (~2e-16 relative) engine disagreement
# ~10 orders of magnitude inside the rounding grid.
# ---------------------------------------------------------------------------

_TWIN_DIMS = 4
_NB_MU = (
    (0.25, -0.5, 1.0, 0.0),
    (-0.25, 0.5, -1.0, 0.5),
    (0.0, 0.0, 0.25, -0.25),
)
_NB_IV = (  # 1 / (2 * var), folded to literals
    (2.0, 1.0, 0.5, 4.0),
    (1.0, 2.0, 4.0, 0.5),
    (0.5, 4.0, 1.0, 2.0),
)
_NB_CONST = (-1.25, -1.5, -1.0)  # log prior - 0.5*sum(log 2*pi*var), folded
_PCA_MEAN = (0.125, -0.25, 0.5, 0.0)
_PCA_W = (
    (0.5, -0.25, 0.125, 1.0),
    (-1.0, 0.5, 0.25, -0.125),
)

_FINITE_SQL = (
    "embedding IS NOT NULL "
    "AND LEN(LIST_FILTER(embedding, x -> NOT ISFINITE(x))) = 0"
)


def _nb_score_sql(k: int) -> str:
    """The class-k joint log-likelihood as a left-to-right SQL chain,
    term-for-term identical to FixedGaussianNB._scores."""
    terms = [repr(_NB_CONST[k])]
    for d in range(_TWIN_DIMS):
        x = f"CAST(embedding[{d + 1}] AS DOUBLE)"
        mu, iv = repr(_NB_MU[k][d]), repr(_NB_IV[k][d])
        terms.append(f"- ({x} - {mu}) * ({x} - {mu}) * {iv}")
    return " ".join(terms)


def _twin_frame(spark: SparkSession, sf_dir: str) -> FeatureFrame:
    emb = read_table(spark, sf_dir, "embeddings").filter(finite_embedding())
    df = emb.selectExpr(
        "vec_id",
        *[f"CAST(embedding[{i}] AS DOUBLE) AS e{i}" for i in range(_TWIN_DIMS)],
    )
    return FeatureFrame.from_dataframe(
        df, features=[f"e{i}" for i in range(_TWIN_DIMS)]
    )


def _fixed_nb_estimator() -> SparkEstimator:
    from sklearn_raster_spark.estimators import FixedGaussianNB

    est = SparkEstimator(FixedGaussianNB(_NB_MU, _NB_IV, _NB_CONST))
    est.fit(
        pd.DataFrame(
            np.zeros((2, _TWIN_DIMS)),
            columns=[f"e{i}" for i in range(_TWIN_DIMS)],
        ),
        pd.Series([0, 1], name="label"),
    )
    return est


@query(
    "q171_nb_classify_portable",
    oracle=f"""
    WITH s AS (
        SELECT vec_id,
               {_nb_score_sql(0)} AS s0,
               {_nb_score_sql(1)} AS s1,
               {_nb_score_sql(2)} AS s2
        FROM embeddings
        WHERE {_FINITE_SQL}
    )
    SELECT vec_id,
           CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                WHEN s1 >= s2 THEN 1
                ELSE 2 END AS pred_class
    FROM s
    """,
    doc="Portable twin of q41 (E3 classify through the broadcast-model "
        "Arrow mapInArrow path): FIXED-parameter Gaussian NB, scores "
        "accumulated in the oracle's exact IEEE order, first-max "
        "argmax matching the CASE ladder — the fitted-state query's "
        "execution path, hash-graded.",
)
def q171_nb_classify_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = _fixed_nb_estimator()
    est.target_names_in_ = ("pred_class",)
    ff = _twin_frame(spark, sf_dir)
    out = est.predict(ff, compile_expressions=False)
    return out.df.select("vec_id", "pred_class")


@query(
    "q172_nb_proba_portable",
    oracle=f"""
    WITH s AS (
        SELECT vec_id,
               {_nb_score_sql(0)} AS s0,
               {_nb_score_sql(1)} AS s1,
               {_nb_score_sql(2)} AS s2
        FROM embeddings
        WHERE {_FINITE_SQL}
    ),
    m AS (SELECT *, GREATEST(s0, s1, s2) AS mx FROM s),
    e AS (
        SELECT vec_id,
               EXP(s0 - mx) AS e0, EXP(s1 - mx) AS e1, EXP(s2 - mx) AS e2
        FROM m
    )
    SELECT vec_id,
           ROUND(e0 / (e0 + e1 + e2), 6) AS proba_0,
           ROUND(e1 / (e0 + e1 + e2), 6) AS proba_1,
           ROUND(e2 / (e0 + e1 + e2), 6) AS proba_2
    FROM e
    """,
    doc="Portable twin of q42 (E4 predict_proba, one column per class): "
        "fixed-parameter NB softmax with max-subtraction, both sides "
        "rounded to 6 decimals (exp is the one non-correctly-rounded "
        "IEEE op in the chain; 1-ulp engine skew is ~2e-16 relative "
        "against a 1e-6 grid). Hash-graded.",
)
def q172_nb_proba_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = _fixed_nb_estimator()
    ff = _twin_frame(spark, sf_dir)
    out = est.predict_proba(ff)
    return out.df.select(
        "vec_id",
        *[F.round(F.col(f"proba_{k}"), 6).alias(f"proba_{k}") for k in range(3)],
    )


def _pca_component_sql(j: int) -> str:
    terms = []
    for d in range(_TWIN_DIMS):
        x = f"CAST(embedding[{d + 1}] AS DOUBLE)"
        terms.append(f"({x} - {_PCA_MEAN[d]!r}) * {_PCA_W[j][d]!r}")
    return " + ".join(terms)


@query(
    "q173_pca_transform_portable",
    oracle=f"""
    SELECT vec_id,
           {_pca_component_sql(0)} AS pc0,
           {_pca_component_sql(1)} AS pc1
    FROM embeddings
    WHERE {_FINITE_SQL}
    """,
    doc="Portable twin of q43 (E6 transform through the Arrow "
        "mapInArrow path, output names from get_feature_names_out): "
        "FIXED affine projection accumulated left-to-right per "
        "component — bit-identical to the oracle's `+` chain, no "
        "matmul reassociation. Hash-graded.",
)
def q173_pca_transform_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.estimators import FixedPCA

    est = SparkEstimator(FixedPCA(_PCA_MEAN, _PCA_W))
    est.fit(
        pd.DataFrame(
            np.zeros((2, _TWIN_DIMS)),
            columns=[f"e{i}" for i in range(_TWIN_DIMS)],
        )
    )
    ff = _twin_frame(spark, sf_dir)
    out = est.transform(ff, compile_expressions=False)
    return out.df.select("vec_id", "pc0", "pc1")


# Fixed fit set for the q44 kneighbors twin: 6 points, all coordinates
# dyadic rationals (exact doubles in Spark, numpy and DuckDB alike)
_KNN_FIT = (
    (0.0, 0.0, 0.0, 0.0),
    (0.5, -0.25, 1.0, 0.125),
    (-1.0, 0.75, -0.5, 0.25),
    (1.5, 1.25, -0.75, -0.5),
    (-0.125, -1.5, 0.625, 1.0),
    (0.25, 0.5, -1.25, -0.375),
)
_KNN_K = 3


def _knn_d2_sql(j: int) -> str:
    """Squared distance to fit point j as a left-to-right `+` chain,
    term-for-term identical to FixedKNeighbors.kneighbors."""
    terms = []
    for d in range(_TWIN_DIMS):
        x = f"CAST(embedding[{d + 1}] AS DOUBLE)"
        f = repr(_KNN_FIT[j][d])
        terms.append(f"({x} - {f}) * ({x} - {f})")
    return " + ".join(terms)


def _knn_oracle() -> str:
    branches = "\n        UNION ALL ".join(
        f"SELECT vec_id, {j} AS fid, {_knn_d2_sql(j)} AS d2 "
        f"FROM embeddings WHERE {_FINITE_SQL}"
        for j in range(len(_KNN_FIT))
    )
    dist_cols = ",\n           ".join(
        f"MAX(CASE WHEN rn = {r} THEN d2 END) AS dist_{r}"
        for r in range(1, _KNN_K + 1)
    )
    idx_cols = ",\n           ".join(
        f"MAX(CASE WHEN rn = {r} THEN fid END) AS idx_{r}"
        for r in range(1, _KNN_K + 1)
    )
    return f"""
    WITH d AS (
        {branches}
    ),
    r AS (
        SELECT vec_id, fid, d2,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY d2, fid
               ) AS rn
        FROM d
    )
    SELECT vec_id,
           {dist_cols},
           {idx_cols}
    FROM r
    WHERE rn <= {_KNN_K}
    GROUP BY vec_id
    """


@query(
    "q176_kneighbors_portable",
    oracle=_knn_oracle(),
    doc="Portable twin of q44 (E5 kneighbors through the broadcast "
        "fit-set Arrow mapInArrow brute-force path): FIXED 6-point "
        "dyadic fit set, SQUARED distances accumulated left-to-right "
        "per fit point (bit-identical to the oracle's `+` chain — "
        "emitting d^2 instead of d removes sqrt, the only op in the "
        "pipeline needing an ulp argument), indices = stable argsort "
        "matching the oracle's ROW_NUMBER ... ORDER BY d2, fid "
        "tie-break. The fitted-state query's execution path and "
        "dist+idx multi-output contract (O9), hash-graded. "
        "Reference: estimator.py:345-518, tests/test_estimator.py:"
        "107-222.",
)
def q176_kneighbors_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.estimators import FixedKNeighbors

    est = SparkEstimator(FixedKNeighbors(_KNN_FIT, n_neighbors=_KNN_K))
    est.fit(
        pd.DataFrame(
            np.zeros((2, _TWIN_DIMS)),
            columns=[f"e{i}" for i in range(_TWIN_DIMS)],
        ),
        pd.Series([0.0, 1.0], name="label"),
    )
    ff = _twin_frame(spark, sf_dir)
    out = est.kneighbors(ff, n_neighbors=_KNN_K)
    return out.df.select(
        "vec_id",
        *[f"dist_{r}" for r in range(1, _KNN_K + 1)],
        *[f"idx_{r}" for r in range(1, _KNN_K + 1)],
    )
