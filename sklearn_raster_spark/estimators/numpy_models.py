"""Minimal sklearn-compatible estimators implemented with numpy only.

This container ships without scikit-learn, so these textbook models
(normal-equation least squares, SVD PCA, Lloyd k-means, Gaussian naive
Bayes, brute-force k-NN) provide the estimator surface the engine
wraps. Anything exposing the same duck-typed API (fit / predict /
predict_proba / transform / inverse_transform / kneighbors /
get_feature_names_out / classes_ / _estimator_type) works identically —
including real sklearn estimators when available.
"""

from __future__ import annotations

import numpy as np

from sklearn_raster_spark.utils.sqltext import sql_double


class StandardScalerNP:
    """(x - mean) / std per feature."""

    def fit(self, X, y=None):
        X = np.asarray(X, dtype=np.float64)
        self.mean_ = X.mean(axis=0)
        self.scale_ = X.std(axis=0)
        self.scale_[self.scale_ == 0] = 1.0
        self.n_features_in_ = X.shape[1]
        return self

    def transform(self, X):
        return (np.asarray(X, dtype=np.float64) - self.mean_) / self.scale_

    def inverse_transform(self, X):
        return np.asarray(X, dtype=np.float64) * self.scale_ + self.mean_

    def get_feature_names_out(self):
        return [f"scaled_{i}" for i in range(self.n_features_in_)]

    def transform_to_spark_columns(self, feature_cols):
        """Compile transform to Catalyst expressions (affine per column).

        r12 OPT (guide §7.3, the _embedding_frame lesson): built as
        parsed SQL strings, not chained Column ops — each py4j Column
        call costs ~1 ms of driver time and the wide frames hit this
        64 times per output; F.expr parses to the IDENTICAL tree
        (repr() round-trips float64 exactly, left-assoc chains match
        the old loop order), pinned by tests/test_fold_kernels.py::
        test_compiled_expression_strings_match_column_form."""
        from pyspark.sql import functions as F

        return [
            F.expr(f"(`{c}` - {sql_double(m)}) / {sql_double(s)}")
            for c, m, s in zip(feature_cols, self.mean_, self.scale_)
        ]

    def inverse_transform_to_spark_columns(self, feature_cols):
        from pyspark.sql import functions as F

        return [
            F.expr(f"`{c}` * {sql_double(s)} + {sql_double(m)}")
            for c, s, m in zip(feature_cols, self.scale_, self.mean_)
        ]


class PCANP:
    """Principal components via SVD of the centered data matrix."""

    def __init__(self, n_components: int):
        self.n_components = n_components

    def fit(self, X, y=None):
        X = np.asarray(X, dtype=np.float64)
        self.mean_ = X.mean(axis=0)
        Xc = X - self.mean_
        _, _, vt = np.linalg.svd(Xc, full_matrices=False)
        self.components_ = vt[: self.n_components]
        self.n_features_in_ = X.shape[1]
        return self

    def transform(self, X):
        Xc = np.asarray(X, dtype=np.float64) - self.mean_
        return Xc @ self.components_.T

    def inverse_transform(self, X):
        return np.asarray(X, dtype=np.float64) @ self.components_ + self.mean_

    def get_feature_names_out(self):
        return [f"pc{i}" for i in range(self.n_components)]

    def transform_to_spark_columns(self, feature_cols):
        """Compile transform to Catalyst expressions: PCA projection is
        affine, ``pc_j = sum_i (x_i - mean_i) * V[j,i]`` — one codegen
        expression per component, zero Python boundary (same trick as
        the scaler/linear compiled paths)."""
        from pyspark.sql import functions as F

        # r12 OPT (guide §7.3): parsed strings, not n_components x dim
        # chained Column ops — see StandardScalerNP.transform_to_spark_
        # columns; "0.0D + t1 + t2 ..." parses left-associative, the
        # exact Add chain the old F.lit(0.0) + ... loop built.
        out = []
        for j in range(self.n_components):
            terms = "0.0D" + "".join(
                f" + (`{c}` - {sql_double(m)}) * {sql_double(v)}"
                for c, m, v in zip(feature_cols, self.mean_, self.components_[j])
            )
            out.append(F.expr(terms))
        return out

    def inverse_transform_to_spark_columns(self, feature_cols):
        """Compiled inverse: ``x_i = sum_j pc_j * V[j,i] + mean_i``."""
        from pyspark.sql import functions as F

        out = []
        for i in range(self.n_features_in_):
            terms = sql_double(self.mean_[i]) + "".join(
                f" + `{c}` * {sql_double(v)}"
                for c, v in zip(feature_cols, self.components_[:, i])
            )
            out.append(F.expr(terms))
        return out


class LinearRegressionNP:
    """Ordinary least squares via lstsq; supports multi-target y."""

    _estimator_type = "regressor"

    def fit(self, X, y):
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        A = np.hstack([X, np.ones((X.shape[0], 1))])
        coef, *_ = np.linalg.lstsq(A, y, rcond=None)
        self.coef_ = coef[:-1]
        self.intercept_ = coef[-1]
        return self

    def predict(self, X):
        return np.asarray(X, dtype=np.float64) @ self.coef_ + self.intercept_

    def to_spark_columns(self, feature_cols):
        """Compile predict to Catalyst expressions (one per target)."""
        from pyspark.sql import functions as F

        coef = np.atleast_2d(self.coef_.T if self.coef_.ndim > 1 else self.coef_)
        intercept = np.atleast_1d(self.intercept_)
        # r12 OPT (guide §7.3): parsed strings, not chained Column ops
        # (see StandardScalerNP) — identical left-assoc Add chain
        out = []
        for t in range(coef.shape[0]):
            terms = sql_double(intercept[t]) + "".join(
                f" + `{c}` * {sql_double(w)}"
                for c, w in zip(feature_cols, coef[t])
            )
            out.append(F.expr(terms))
        return out


class FixedLinearModel:
    """A linear scorer with KNOWN weights (no data-dependent fit).

    Exists so the distributed inference path has an exact SQL oracle:
    ``y = x0*w0 + x1*w1 + ... + b`` evaluated with sequential
    elementwise ops (same IEEE result as the SQL expression, no
    BLAS/FMA reassociation).
    """

    _estimator_type = "regressor"

    def __init__(self, weights, intercept: float = 0.0):
        self.weights = [float(w) for w in weights]
        self.intercept = float(intercept)

    def fit(self, X, y=None):
        return self

    def predict(self, X):
        X = np.asarray(X, dtype=np.float64)
        y = np.full(X.shape[0], self.intercept, dtype=np.float64)
        for j, w in enumerate(self.weights):
            y = y + X[:, j] * w
        return y

    def to_spark_columns(self, feature_cols):
        """Compile predict to a Catalyst expression (same sequential
        IEEE evaluation order as the numpy kernel): the engine then
        scores JVM-side with zero Python boundary."""
        from pyspark.sql import functions as F

        expr = F.lit(float(self.intercept))
        for c, w in zip(feature_cols, self.weights):
            expr = expr + F.col(c) * F.lit(float(w))
        return [expr]


class FixedGaussianNB:
    """Gaussian naive Bayes with KNOWN parameters (no data-dependent
    fit) — the classifier analog of ``FixedLinearModel``.

    Exists so the q41/q42 mapInPandas inference paths (broadcast model
    + Arrow kernel) have hash-exact SQL oracles: the joint
    log-likelihood is evaluated with the SAME sequential elementwise
    IEEE order as the oracle expression (``const_k - d*d*iv`` summed
    left-to-right per feature, no BLAS reassociation, no runtime
    log()), so ``predict`` is bit-identical to the SQL CASE-argmax.
    ``predict_proba``'s softmax does call exp(); its oracle twin
    rounds both sides to 6 decimals (numpy/DuckDB exp agree to <=1
    ulp ~ 2e-16 relative, vastly inside a 1e-6 rounding grid).

    Parameters: ``log_consts[k]`` is the pre-folded
    ``log prior_k - 0.5 * sum_d log(2*pi*var_kd)`` (a literal — no
    transcendental is evaluated at query time) and ``inv2var[k][d]``
    is ``1 / (2 * var_kd)``. Mirrors the reference's bare-estimator
    differential oracle (reference tests/test_estimator.py:300-318).
    """

    _estimator_type = "classifier"

    def __init__(self, means, inv2var, log_consts):
        # sklearn convention: __init__ holds only params; fitted-state
        # (trailing-underscore) attrs appear in fit(), so E1's
        # reset-if-prefitted check does not misfire on construction
        self.means = means
        self.inv2var = inv2var
        self.log_consts = log_consts

    def fit(self, X, y=None):
        self.theta_ = np.asarray(self.means, dtype=np.float64)
        self.inv2var_ = np.asarray(self.inv2var, dtype=np.float64)
        self.log_consts_ = np.asarray(self.log_consts, dtype=np.float64)
        self.classes_ = np.arange(self.theta_.shape[0])
        return self

    def _scores(self, X):
        X = np.asarray(X, dtype=np.float64)
        cols = []
        for k in range(len(self.classes_)):
            s = np.full(X.shape[0], self.log_consts_[k])
            for j in range(X.shape[1]):
                d = X[:, j] - self.theta_[k, j]
                # sequential left-to-right, identical to the SQL
                # `s - (x-mu)*(x-mu)*iv` chain
                s = s - d * d * self.inv2var_[k, j]
            cols.append(s)
        return np.stack(cols, axis=1)

    def predict(self, X):
        # first-max tie-break, same as the oracle's CASE ladder
        return self.classes_[np.argmax(self._scores(X), axis=1)]

    def predict_proba(self, X):
        s = self._scores(X)
        m = s.max(axis=1, keepdims=True)
        e = np.exp(s - m)
        denom = e[:, 0].copy()
        for k in range(1, e.shape[1]):
            denom = denom + e[:, k]  # left-to-right, like e0+e1+e2
        return e / denom[:, None]


class FixedPCA:
    """A fixed affine projection (no data-dependent fit) — the
    transform analog of ``FixedLinearModel``, giving the q43
    mapInPandas transform path an exact SQL oracle. ``transform``
    accumulates ``(x_d - mean_d) * W[j, d]`` left-to-right per
    component (no matmul/BLAS reassociation), matching the oracle's
    `+`-chain bit for bit."""

    def __init__(self, means, components):
        self.means = means
        self.components = components

    def fit(self, X, y=None):
        self.mean_ = np.asarray(self.means, dtype=np.float64)
        self.components_ = np.asarray(self.components, dtype=np.float64)
        self.n_features_in_ = self.mean_.shape[0]
        return self

    def transform(self, X):
        X = np.asarray(X, dtype=np.float64)
        out = []
        for j in range(self.components_.shape[0]):
            y = (X[:, 0] - self.mean_[0]) * self.components_[j, 0]
            for d in range(1, X.shape[1]):
                y = y + (X[:, d] - self.mean_[d]) * self.components_[j, d]
            out.append(y)
        return np.stack(out, axis=1)

    def get_feature_names_out(self):
        return [f"pc{j}" for j in range(self.components_.shape[0])]


class FixedKNeighbors:
    """k-NN against a FIXED literal fit set, emitting SQUARED
    euclidean distances — the kneighbors analog of ``FixedLinearModel``
    (reference differential-oracle pattern,
    ``/root/reference/tests/test_estimator.py:300-318``; kneighbors
    surface ``/root/reference/src/sklearn_raster/estimator.py:345-518``).

    Exists so the q44 kneighbors path (broadcast fit set + Arrow
    mapInPandas brute force through ``SparkEstimator.kneighbors``) has
    a hash-exact SQL oracle: with dyadic fit coordinates every
    ``(x - f)`` is a correctly-rounded double op, the per-point
    distance accumulates left-to-right in the SAME IEEE order as the
    oracle's ``(x-f)*(x-f) + ...`` chain, and emitting the SQUARED
    distance skips the one op (sqrt) whose cross-engine agreement
    would need an ulp argument. Ties break by fit index on both sides
    (stable argsort here, ``ORDER BY d2, fid`` in the oracle) — and
    with bit-identical d2 on both sides the tie SET is identical too.
    """

    _estimator_type = "regressor"

    def __init__(self, points, n_neighbors: int = 3):
        self.points = points
        self.n_neighbors = n_neighbors

    def fit(self, X, y=None):
        self._X = np.asarray(self.points, dtype=np.float64)
        return self

    def kneighbors(self, X, n_neighbors: int | None = None, return_distance: bool = True):
        k = n_neighbors or self.n_neighbors
        X = np.asarray(X, dtype=np.float64)
        cols = []
        for j in range(self._X.shape[0]):
            d = X[:, 0] - self._X[j, 0]
            d2 = d * d
            for c in range(1, X.shape[1]):
                d = X[:, c] - self._X[j, c]
                # sequential left-to-right, identical to the SQL chain
                d2 = d2 + d * d
            cols.append(d2)
        D2 = np.stack(cols, axis=1)
        idx = np.argsort(D2, axis=1, kind="stable")[:, :k]
        if not return_distance:
            return idx
        return np.take_along_axis(D2, idx, axis=1), idx


class GaussianNBNP:
    """Gaussian naive Bayes classifier."""

    _estimator_type = "classifier"

    def fit(self, X, y):
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y)
        self.classes_ = np.unique(y)
        self.theta_ = np.stack([X[y == c].mean(axis=0) for c in self.classes_])
        self.var_ = np.stack([X[y == c].var(axis=0) + 1e-9 for c in self.classes_])
        self.priors_ = np.array([(y == c).mean() for c in self.classes_])
        return self

    def _joint_log_likelihood(self, X):
        X = np.asarray(X, dtype=np.float64)
        jll = []
        for i in range(len(self.classes_)):
            log_prob = -0.5 * (
                np.log(2.0 * np.pi * self.var_[i])
                + (X - self.theta_[i]) ** 2 / self.var_[i]
            ).sum(axis=1)
            jll.append(np.log(self.priors_[i]) + log_prob)
        return np.stack(jll, axis=1)

    def predict(self, X):
        return self.classes_[np.argmax(self._joint_log_likelihood(X), axis=1)]

    def predict_proba(self, X):
        jll = self._joint_log_likelihood(X)
        jll -= jll.max(axis=1, keepdims=True)
        p = np.exp(jll)
        return p / p.sum(axis=1, keepdims=True)


class KMeansNP:
    """Lloyd's algorithm with deterministic k-means++ seeding.

    The ++ init (first center drawn uniformly, each next with
    probability proportional to squared distance from the chosen set)
    matters for the quantizer call sites (q69 IVF, q175 ALS-ANN): on
    near-orthogonal or clustered data a plain uniform init is a local-
    optimum roulette — one unlucky draw leaves two true clusters
    sharing a centroid and recall drops double digits. Deterministic
    given (seed, sample); still sample-order-sensitive like any seeded
    draw, which is why callers pin recall floors rather than exact
    outputs."""

    _estimator_type = "clusterer"

    def __init__(self, n_clusters: int = 4, n_iter: int = 50, seed: int = 42):
        self.n_clusters = n_clusters
        self.n_iter = n_iter
        self.seed = seed

    @staticmethod
    def _init_pp(X, k, rng):
        n = X.shape[0]
        centers = np.empty((k, X.shape[1]), dtype=np.float64)
        centers[0] = X[rng.integers(n)]
        # squared distance to the nearest chosen center, updated
        # incrementally: one (n,) vector per new center, no (n,k) matrix
        d2 = ((X - centers[0]) ** 2).sum(axis=1)
        for j in range(1, k):
            total = d2.sum()
            if total <= 0:  # all remaining points coincide with centers
                centers[j:] = X[rng.integers(n, size=k - j)]
                break
            centers[j] = X[rng.choice(n, p=d2 / total)]
            np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1), out=d2)
        return centers

    def fit(self, X, y=None):
        X = np.asarray(X, dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        centers = self._init_pp(X, self.n_clusters, rng)
        for _ in range(self.n_iter):
            labels = self._assign(X, centers)
            new = np.stack(
                [
                    X[labels == k].mean(axis=0) if np.any(labels == k) else centers[k]
                    for k in range(self.n_clusters)
                ]
            )
            if np.allclose(new, centers):
                break
            centers = new
        self.cluster_centers_ = centers
        return self

    @staticmethod
    def _assign(X, centers):
        # gemm identity (see KNeighborsRegressorNP.kneighbors): O(n*k)
        # temporary instead of the O(n*k*dim) broadcast difference
        d2 = (
            (X * X).sum(axis=1)[:, None]
            + (centers * centers).sum(axis=1)[None, :]
            - 2.0 * (X @ centers.T)
        )
        return np.argmin(d2, axis=1)

    def predict(self, X):
        return self._assign(np.asarray(X, dtype=np.float64), self.cluster_centers_)


class KNeighborsRegressorNP:
    """Brute-force k-NN regressor over the fit-time samples."""

    _estimator_type = "regressor"

    def __init__(self, n_neighbors: int = 5):
        self.n_neighbors = n_neighbors

    def fit(self, X, y):
        self._X = np.asarray(X, dtype=np.float64)
        self._y = np.asarray(y, dtype=np.float64)
        return self

    def kneighbors(self, X, n_neighbors: int | None = None, return_distance: bool = True):
        """Exact k-NN with the gemm distance identity
        ``||a-b||^2 = ||a||^2 + ||b||^2 - 2 a.b``: peak temporary is the
        (batch, fit) distance matrix itself — O(batch*fit) — instead of
        the (batch, fit, dim) broadcast difference, which at the
        engine's 65k-row Arrow batches would allocate gigabytes per
        batch for even a 100-point fit set."""
        k = n_neighbors or self.n_neighbors
        X = np.asarray(X, dtype=np.float64)
        x_sq = (X * X).sum(axis=1)[:, None]
        f_sq = (self._X * self._X).sum(axis=1)[None, :]
        d2 = x_sq + f_sq - 2.0 * (X @ self._X.T)
        np.maximum(d2, 0.0, out=d2)  # clamp the tiny negatives from fp error
        idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
        if not return_distance:
            return idx
        dist = np.sqrt(np.take_along_axis(d2, idx, axis=1))
        return dist, idx

    def predict(self, X):
        _, idx = self.kneighbors(X)
        return self._y[idx].mean(axis=1)
