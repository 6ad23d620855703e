"""SparkEstimator: apply a fitted sklearn-compatible estimator to a
FeatureFrame, distributed.

Reference parity: src/sklearn_raster/estimator.py wraps an estimator so
predict / predict_proba / transform / inverse_transform / kneighbors
run batch-wise over an n-d array with NoData handling. Here the batch
engine is ``FeaturewiseUfunc`` (mapInPandas) and the model ships to
executors via ``SparkContext.broadcast`` once, not per task.

The wrapped estimator is duck-typed (fit/predict/...); no sklearn
import is required — any object with the method works, including the
numpy reference models in ``sklearn_raster_spark.estimators``.

Output dtype policy (reference estimator.py:29-33, 200-203, 328,
496-497): classifier/clusterer -> int, regressor/unknown -> double,
predict_proba -> double, kneighbors -> (double distances, int indices).
"""

from __future__ import annotations

import warnings
from typing import Any, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.ufunc import FeaturewiseUfunc, Output

_INT32_MIN = -(2**31)


class NotFittedError(RuntimeError):
    pass


def out_nd_collidable(out: Output) -> bool:
    """True when the output's NoData encoding could collide with a valid
    value (i.e. it is not NaN — NaN never equals a valid float)."""
    nd = out.resolved_nodata()
    return not (isinstance(nd, float) and np.isnan(nd))


def warn_if_output_collisions(result: FeatureFrame) -> int:
    """Emit the reference's nodata-collision warning
    (ufunc/_base.py:453-466) if the predict kernel counted any valid
    outputs equal to the NoData encoding. Call after EXACTLY ONE action
    has run on the result: accumulators populate with job execution and
    RE-ADD on every further action (and on task retries/speculation),
    so the count is only exact for a single clean action — treat it as
    "nonzero means collisions exist", not as an exact tally. Returns
    the accumulated count."""
    acc = getattr(result, "_collision_acc", None)
    n = acc.value if acc is not None else 0
    if n:
        warnings.warn(
            f"{n} valid output value(s) equal the nodata_output encoding and "
            "will be indistinguishable from masked NoData downstream. Choose "
            "a nodata_output outside the estimator's output range.",
            stacklevel=2,
        )
    return n


def _require_fitted(est: "SparkEstimator") -> None:
    if not est._fitted:
        raise NotFittedError(
            "estimator is not fitted; call .fit(X, y) before applying it"
        )


def _require_method(obj: Any, name: str) -> None:
    if not callable(getattr(obj, name, None)):
        raise NotImplementedError(
            f"wrapped estimator {type(obj).__name__} does not implement {name}()"
        )


def _estimator_is_fitted(estimator: Any) -> bool:
    """Duck-typed fitted check (sklearn ``check_is_fitted`` convention):
    any instance attribute ending in a single trailing underscore marks
    post-fit state; ``_X``/``_y`` cover the local k-NN models that keep
    their training set directly."""
    try:
        attrs = vars(estimator)
    except TypeError:
        return False
    return any(
        (k.endswith("_") and not k.startswith("__")) or k in ("_X", "_y")
        for k in attrs
    )


def _clone_unfitted(estimator: Any) -> Any:
    """Fresh unfitted instance with the same hyperparameters —
    ``sklearn.base.clone`` semantics without the sklearn dependency:
    use ``get_params()`` when offered, else pull constructor-signature
    names off the instance (the sklearn convention that ``__init__``
    stores each arg verbatim under its own name)."""
    import inspect

    cls = type(estimator)
    if callable(getattr(estimator, "get_params", None)):
        return cls(**estimator.get_params())
    params = {}
    for name, p in inspect.signature(cls.__init__).parameters.items():
        if name == "self" or p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD):
            continue
        if hasattr(estimator, name):
            params[name] = getattr(estimator, name)
        elif p.default is inspect.Parameter.empty:
            # constructor arg we cannot recover: give up on cloning
            raise TypeError(
                f"cannot clone {cls.__name__}: required __init__ arg "
                f"{name!r} is not stored on the instance"
            )
    return cls(**params)


class SparkEstimator:
    """Wrap an sklearn-compatible estimator for distributed inference."""

    def __init__(self, estimator: Any):
        # reference parity (estimator.py:763-774 `_reset_estimator`):
        # wrapping an already-fitted estimator warns and resets to a
        # clean clone — the wrapper's fit metadata (feature names,
        # target names) only exists for fits made THROUGH the wrapper.
        if _estimator_is_fitted(estimator):
            warnings.warn(
                "Wrapping estimator that has already been fit. The "
                "estimator must be fit again after wrapping.",
                stacklevel=2,
            )
            try:
                estimator = _clone_unfitted(estimator)
            except TypeError:
                pass  # unclonable: keep as-is (still must refit via wrapper)
        self.estimator = estimator
        self._fitted = False
        self.feature_names_in_: tuple[str, ...] | None = None
        self.n_features_in_: int | None = None
        self.target_names_in_: tuple[str, ...] = ("target",)

    # -- fit (driver-side; reference estimator.py:81-115) --------------

    def fit(
        self,
        X,
        y=None,
        feature_cols: Sequence[str] | None = None,
        label_cols: Sequence[str] | None = None,
        **kwargs,
    ) -> "SparkEstimator":
        """Fit driver-side. ``X`` may be a pandas DataFrame / ndarray, or
        a Spark DataFrame (collected; sample upstream for big tables —
        model fitting is intentionally NOT distributed, matching the
        reference where fit runs on plot/sample tables, not rasters)."""
        if isinstance(X, DataFrame):
            if feature_cols is None:
                raise ValueError("feature_cols is required when fitting from a Spark DataFrame")
            if y is not None and label_cols is None:
                # a separately-supplied y cannot be row-aligned with a
                # distributed X (toPandas order is not the caller's
                # order) — silently dropping it would fit unsupervised
                raise ValueError(
                    "pass label_cols= instead of y when fitting from a "
                    "Spark DataFrame; a driver-side y cannot be aligned "
                    "with distributed rows"
                )
            pdf = X.select(*feature_cols, *(label_cols or [])).toPandas()
            Xp = pdf[list(feature_cols)]
            y = pdf[list(label_cols)] if label_cols else None
        else:
            Xp = X

        if isinstance(Xp, pd.DataFrame):
            self.feature_names_in_ = tuple(map(str, Xp.columns))
            self.n_features_in_ = len(Xp.columns)
            X_arr = Xp.to_numpy(dtype=np.float64)
        else:
            X_arr = np.asarray(Xp, dtype=np.float64)
            self.feature_names_in_ = None
            self.n_features_in_ = X_arr.shape[1]

        y_arr = None
        if y is not None:
            if isinstance(y, pd.DataFrame):
                self.target_names_in_ = tuple(map(str, y.columns))
                y_arr = y.to_numpy()
            elif isinstance(y, pd.Series):
                self.target_names_in_ = (str(y.name or "target"),)
                y_arr = y.to_numpy()
            else:
                y_arr = np.asarray(y)
                self.target_names_in_ = tuple(
                    f"target_{i}" for i in range(y_arr.shape[1])
                ) if y_arr.ndim > 1 else ("target",)
            # squeeze (n,1) -> (n,) like the reference (estimator.py:96-101)
            if y_arr.ndim == 2 and y_arr.shape[1] == 1:
                y_arr = y_arr[:, 0]

        if y_arr is None:
            self.estimator.fit(X_arr, **kwargs)
        else:
            self.estimator.fit(X_arr, y_arr, **kwargs)
        self._fitted = True
        return self

    # -- name validation (reference estimator.py:796-851) --------------

    def _check_feature_names(self, names: Sequence[str]) -> None:
        fit_names = self.feature_names_in_
        if fit_names is None:
            warnings.warn(
                "estimator was fitted without feature names; applying to named columns",
                stacklevel=3,
            )
            return
        if tuple(names) == tuple(fit_names):
            return
        missing = [n for n in fit_names if n not in names]
        unseen = [n for n in names if n not in fit_names]
        if missing or unseen:
            raise ValueError(
                f"feature names mismatch: missing={missing} unseen={unseen} "
                f"(fitted on {list(fit_names)})"
            )
        raise ValueError(
            f"feature names are reordered: got {list(names)}, fitted on {list(fit_names)}"
        )

    def _estimator_kind(self) -> str:
        kind = getattr(self.estimator, "_estimator_type", None)
        if kind in ("classifier", "clusterer", "regressor"):
            return kind
        return "unknown"

    # -- the generic apply path ----------------------------------------

    def _apply(
        self,
        ff: FeatureFrame | DataFrame,
        method: str,
        outputs: list[Output],
        features: Sequence[str] | None = None,
        call=None,
        **ufunc_kwargs,
    ) -> FeatureFrame:
        _require_fitted(self)
        _require_method(self.estimator, method)
        if isinstance(ff, DataFrame):
            if features is None:
                if self.feature_names_in_ is None:
                    raise ValueError("pass features= when the model has no fitted names")
                features = list(self.feature_names_in_)
            ff = FeatureFrame.from_dataframe(ff, features)
        self._check_feature_names(ff.features)

        m = method

        if call is None:
            # broadcast only on the default path: callers passing their
            # own `call` closure already hold their own broadcast
            # (kneighbors ships the fit set once, not twice)
            bc = ff.df.sparkSession.sparkContext.broadcast(self.estimator)

            def call(X):  # default: single-output method
                return getattr(bc.value, m)(X)
        kernel = call
        kernel.__name__ = m
        return FeaturewiseUfunc(kernel, outputs)(ff, **ufunc_kwargs)

    # -- public surface (reference E3-E7) -------------------------------

    def predict(
        self,
        ff,
        features=None,
        nodata_output=None,
        compile_expressions=True,
        check_output_for_nodata=True,
        **kw,
    ) -> FeatureFrame:
        """``check_output_for_nodata`` (reference estimator.py predict
        kwarg; warning logic ufunc/_base.py:453-466): when True and the
        NoData encoding is not NaN, the Arrow kernel counts valid
        predictions that equal the encoding into a Spark accumulator;
        after any action on the result, ``warn_if_output_collisions``
        raises the reference's warning. (Execution is lazy, so the
        warning cannot fire before a job runs — the accumulator is the
        Spark dual of the reference's in-kernel warn.)"""
        kind = self._estimator_kind()
        dtype = "int" if kind in ("classifier", "clusterer") else "double"
        names = self.target_names_in_ if kind not in ("clusterer",) else ("cluster",)
        out = Output(tuple(names), dtype=dtype, nodata=nodata_output)
        if compile_expressions and callable(getattr(self.estimator, "to_spark_columns", None)):
            return self._apply_compiled(
                ff, [out], self.estimator.to_spark_columns, "predict", features=features
            )
        acc = None
        if check_output_for_nodata and out_nd_collidable(out):
            spark = (ff.df if isinstance(ff, FeatureFrame) else ff).sparkSession
            acc = spark.sparkContext.accumulator(0)
            kw["collision_counter"] = acc
        result = self._apply(ff, "predict", [out], features=features, **kw)
        if acc is not None:
            result._collision_acc = acc
        return result

    def predict_proba(self, ff, features=None, nodata_output=None, **kw) -> FeatureFrame:
        _require_method(self.estimator, "predict_proba")
        classes = getattr(self.estimator, "classes_", None)
        if classes is None:
            raise NotImplementedError("predict_proba requires fitted classes_")
        names = tuple(f"proba_{c}" for c in classes)
        out = Output(names, dtype="double", nodata=nodata_output)
        return self._apply(ff, "predict_proba", [out], features=features, **kw)

    def transform(self, ff, features=None, nodata_output=None, compile_expressions=True, **kw) -> FeatureFrame:
        _require_method(self.estimator, "get_feature_names_out")
        names = tuple(map(str, self.estimator.get_feature_names_out()))
        out = Output(names, dtype="double", nodata=nodata_output)
        if compile_expressions and callable(getattr(self.estimator, "transform_to_spark_columns", None)):
            return self._apply_compiled(
                ff, [out], self.estimator.transform_to_spark_columns, "transform", features=features
            )
        return self._apply(ff, "transform", [out], features=features, **kw)

    def _apply_compiled(self, ff, outputs, compile_fn, method: str, features=None) -> FeatureFrame:
        """Expression-compiled scoring: ``compile_fn(feature_names)``
        emits one Catalyst column expression per output name, so
        ``method`` runs inside whole-stage codegen with ZERO Python
        boundary. NoData semantics are identical to the skip/scatter
        path — one when(mask, nodata).otherwise(expr) per output
        replaces filter+UDF+union."""
        import pyspark.sql.functions as F

        _require_fitted(self)
        if isinstance(ff, DataFrame):
            ff = FeatureFrame.from_dataframe(ff, list(features or self.feature_names_in_))
        if method != "inverse_transform":  # whose inputs are the transformed columns
            self._check_feature_names(ff.features)
        exprs = compile_fn(list(ff.features))
        names = [n for o in outputs for n in o.names]
        if len(exprs) != len(names):
            raise ValueError(f"compiled {len(exprs)} expressions for {len(names)} outputs")
        mask = ff.nodata_mask()
        dtypes = [o.dtype for o in outputs for _ in o.names]
        nodatas = [o.resolved_nodata() for o in outputs for _ in o.names]
        passthrough = [c for c in ff.df.columns if c not in ff.features]
        cols = [
            F.when(mask, F.lit(nd)).otherwise(e).cast(dt).alias(n)
            for e, n, dt, nd in zip(exprs, names, dtypes, nodatas)
        ]
        result = FeatureFrame(
            df=ff.df.select(*passthrough, *cols),
            features=tuple(names),
            nodata_input={n: nd for o in outputs for n, nd in o._nodata_input().items()},
            metadata=dict(ff.metadata),
        )
        result._append_history(f"{method}:compiled")
        return result

    def inverse_transform(self, ff, features=None, nodata_output=None, compile_expressions=True, **kw) -> FeatureFrame:
        if self.feature_names_in_ is not None:
            names = tuple(self.feature_names_in_)
        else:
            names = tuple(f"feature_{i}" for i in range(self.n_features_in_ or 0))
        out = Output(names, dtype="double", nodata=nodata_output)
        if isinstance(ff, DataFrame) and features is None and callable(
            getattr(self.estimator, "get_feature_names_out", None)
        ):
            # the inverse reads the TRANSFORMED columns, not the fit inputs
            features = list(map(str, self.estimator.get_feature_names_out()))
        if compile_expressions and callable(
            getattr(self.estimator, "inverse_transform_to_spark_columns", None)
        ):
            return self._apply_compiled(
                ff,
                [out],
                self.estimator.inverse_transform_to_spark_columns,
                "inverse_transform",
                features=features,
            )
        # inverse input features are the TRANSFORMED columns, so skip the
        # fit-name check by clearing expectations for this call
        saved, self.feature_names_in_ = self.feature_names_in_, None
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                return self._apply(ff, "inverse_transform", [out], features=features, **kw)
        finally:
            self.feature_names_in_ = saved

    # fit sets at or below this row count broadcast comfortably; larger
    # ones route to the LSH similarity join under method="auto"
    KNN_BROADCAST_MAX_ROWS = 1_000_000

    def kneighbors(
        self,
        ff,
        n_neighbors: int | None = None,
        return_distance: bool = True,
        features=None,
        method: str = "auto",
        **kw,
    ) -> FeatureFrame:
        """k-NN of every row against the fit-time samples (reference
        estimator.py:345-518: distances + indices into the fit set,
        per-output nodata nan / int32 min).

        ``method``:
        - "exact": broadcast the fit set, brute-force per Arrow batch —
          exact, right whenever the fit set broadcasts (the reference's
          regime: plot tables).
        - "lsh": BucketedRandomProjectionLSH similarity join — the fit
          set becomes a DataFrame, candidates form only on bucket
          collisions, then per-row top-k. Approximate (rows with no
          colliding candidate get nodata), sub-linear candidate work:
          the 100 TB path when the fit set outgrows a broadcast.
        - "auto": exact while the fit set is broadcastable, else lsh.
        """
        _require_fitted(self)
        _require_method(self.estimator, "kneighbors")
        k = n_neighbors or getattr(self.estimator, "n_neighbors", 5)

        if method not in ("auto", "exact", "lsh"):
            raise ValueError(f"method must be auto/exact/lsh, got {method!r}")
        if method == "auto":
            n_fit = len(getattr(self.estimator, "_X", ()))
            method = "exact" if n_fit <= self.KNN_BROADCAST_MAX_ROWS else "lsh"
        if method == "lsh":
            return self._kneighbors_lsh(
                ff, k, return_distance=return_distance, features=features, **kw
            )

        dist_out = Output(tuple(f"dist_{i}" for i in range(1, k + 1)), "double", nodata=float("nan"))
        idx_out = Output(tuple(f"idx_{i}" for i in range(1, k + 1)), "int", nodata=_INT32_MIN)

        spark = (ff.df if isinstance(ff, FeatureFrame) else ff).sparkSession
        bc = spark.sparkContext.broadcast(self.estimator)

        if return_distance:
            def call(X):
                dist, idx = bc.value.kneighbors(X, n_neighbors=k, return_distance=True)
                return dist, idx
            outputs = [dist_out, idx_out]
        else:
            def call(X):
                return bc.value.kneighbors(X, n_neighbors=k, return_distance=False)
            outputs = [idx_out]
        return self._apply(ff, "kneighbors", outputs, features=features, call=call, **kw)

    def _kneighbors_lsh(
        self,
        ff,
        k: int,
        return_distance: bool = True,
        features=None,
        bucket_length: float = 2.0,
        # 4 OR-amplified tables: measured recall 0.97 vs the exact path
        # on the driver embeddings (6 tables: 0.996 at ~2x the join
        # cost; the pytest floor is 0.9)
        num_hash_tables: int = 4,
        # the standard ufunc kwargs the EXACT path accepts, so a
        # method='auto' resolution flip (fit set crossing the broadcast
        # bound) cannot turn a working call into a TypeError: LSH
        # always skips NoData (the O4 filter below), so skip_nodata=
        # False is the one combination with no LSH meaning and raises;
        # ensure_min_samples mirrors the ufunc's O6 total-count check;
        # keep_features carries the input feature columns into the
        # output like the exact path's keep_cols; nan_fill is accepted
        # and ignored — it only ever acts under skip_nodata=False (with
        # skip-compaction on, NaN cells ARE row-level NoData and never
        # reach the kernel), and that regime raises on this path;
        # inner_thread_limit is accepted and ignored (no Python kernel
        # exists on this path); collision_counter is accepted but never
        # incremented — the LSH outputs cannot collide with their
        # encodings (dist nodata is NaN, which never equals a valid
        # float, and idx nodata is INT32_MIN while fit indices are
        # 0..n_fit-1).
        skip_nodata: bool = True,
        ensure_min_samples: int = 1,
        inner_thread_limit: int | None = None,
        nan_fill: float | None = 0.0,
        keep_features: bool = False,
        collision_counter=None,
    ) -> FeatureFrame:
        """Approximate kneighbors as an LSH bucket join (euclidean, same
        metric as the exact path): both sides are hashed with
        ``BucketedRandomProjectionLSH``'s hash function, candidates form
        where ANY of the ``num_hash_tables`` buckets agree
        (OR-amplification), and each row keeps its top-k by
        (distance, fit_idx). Rows whose buckets caught fewer than k
        candidates carry the per-output nodata (nan / int32 min) in the
        tail slots — same encoding as the exact path.

        The join is hand-rolled rather than ``approxSimilarityJoin``:
        Spark's built-in dedups candidate PAIRS AS FULL ROWS (a distinct
        over struct<id, vector, hashes> on both sides) and re-evaluates
        the distance UDF per pair; here the hashing is the SAME family
        (h = floor(x·v / bucketLength), unit-norm Gaussian v, seeded) as
        ``BucketedRandomProjectionLSH`` but evaluated as plain column
        expressions — fit-side keys come straight out of numpy on the
        driver (the fit set is already local), query-side dots are JVM
        zip_with folds against literal hyperplanes, so no ML pipeline
        fit/transform jobs and no vector-UDF round-trips sit in the hot
        path — same candidates, same recall, a fraction of the overhead."""
        import pyspark.sql.functions as F

        if skip_nodata is False:
            raise NotImplementedError(
                "kneighbors(method='lsh') always skips NoData rows (they "
                "carry the nodata encodings via the left join); "
                "skip_nodata=False has no LSH meaning"
            )
        del inner_thread_limit  # accepted for exact-path parity; no Python kernel here
        del collision_counter  # accepted for parity; LSH outputs cannot collide (see above)
        del nan_fill  # accepted for parity; only meaningful under skip_nodata=False (raises here)
        if isinstance(ff, DataFrame):
            ff = FeatureFrame.from_dataframe(ff, list(features or self.feature_names_in_))
        self._check_feature_names(ff.features)
        if ensure_min_samples > 1:
            # reference O6 (mirrors ufunc.py): a minimum above the TOTAL
            # row count can never be satisfied by unmasking
            total = ff.df.count()
            if ensure_min_samples > total:
                raise ValueError(
                    f"Cannot ensure {ensure_min_samples} samples: the input "
                    f"has only {total} rows in total."
                )
        fit_X = np.asarray(getattr(self.estimator, "_X"), dtype=np.float64)
        spark = ff.df.sparkSession

        # (r12: the fit-row DataFrame upload that fed the old per-pair
        # distance join is gone — the top-k kernel carries fit_X in its
        # task closure instead; see knn_topk_map below.)
        import pandas as pd

        # Seeded unit-norm Gaussian hyperplanes (the same projection
        # family BucketedRandomProjectionLSH draws; numpy-side so both
        # the fit keys and the literal query-side planes share them).
        rng = np.random.RandomState(42)
        planes = rng.standard_normal((num_hash_tables, fit_X.shape[1]))
        planes /= np.linalg.norm(planes, axis=1, keepdims=True)

        # Fit-side bucket keys computed on the driver: one vectorized
        # matmul over the (local) fit set replaces an ML-pipeline fit +
        # transform + posexplode subplan.
        fit_buckets = np.floor(fit_X @ planes.T / bucket_length).astype(np.int64)
        n_fit = fit_buckets.shape[0]
        fit_keys = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_tbl": np.tile(
                        np.arange(num_hash_tables, dtype=np.int64), n_fit
                    ),
                    "_bucket": fit_buckets.reshape(-1),
                    "fit_idx": np.repeat(
                        np.arange(n_fit, dtype=np.int64), num_hash_tables
                    ),
                }
            ),
            # scalar int64 columns infer fine on both paths, but the
            # explicit schema keeps this upload bare-session-proof too
            schema="_tbl long, _bucket long, fit_idx long",
        )

        from sklearn_raster_spark.utils.cache import shared_lineage

        # PIN the row ids: monotonically_increasing_id is partition-
        # layout dependent, and `data` is evaluated twice (the vec/topk
        # subtree and the scatter-back left join below) — without the
        # persist, an upstream repartition/sample/task-retry could
        # assign DIFFERENT ids per evaluation and join rows to the
        # wrong top-k (the same self-join-input rule every dedup
        # operator follows via shared_lineage).
        data = shared_lineage(ff.df.withColumn("_rid", F.monotonically_increasing_id()))
        # NoData rows never enter the join (the skip-compaction filter,
        # O4); they fall out of the left join below with NULL candidates
        # and therefore carry the nodata encodings — scatter-back for free
        arr_expr = F.expr(
            "array(" + ", ".join(f"CAST(`{c}` AS DOUBLE)" for c in ff.features) + ")"
        )
        vec = data.filter(~ff.nodata_mask()).select("_rid", arr_expr.alias("arr"))

        # Query-side bucket ids as pure codegen: dot(arr, plane_t) via a
        # zip_with fold against the literal plane (one expr STRING per
        # plane — building 64 lit Columns per plane through py4j costs
        # more driver time than the whole local execution), floored into
        # buckets. The query side CARRIES its feature array through the
        # explode: the bucket join below is broadcast (fit side is the
        # small one), so scan -> hash -> explode -> join -> candidate-set
        # aggregate fuses into ONE map-side stage — no shuffle of
        # candidate pairs, no join back to the query vectors. (Round 3
        # shipped the pair distinct + re-join formulation: two extra
        # full-candidate shuffles, plus ML-pipeline hashing overhead.)
        # r12 OPT (guide §4.2): the per-plane zip_with/aggregate dots ran
        # INTERPRETED (num_hash_tables x dim boxed lambda calls per row);
        # plane_dots_kernel computes the identical sequential-fold
        # float64 dots vectorized (bit-equality pinned by
        # tests/test_fold_kernels.py), so floor(dot / bucket_length)
        # lands every row in the IDENTICAL bucket. The old expression
        # string remains the semantic reference:
        #   CAST(FLOOR(aggregate(zip_with(arr, array(<plane lits>),
        #        (x, p) -> x * p), 0D, (acc, x) -> acc + x) / <len>D)
        #        AS LONG)
        from sklearn_raster_spark.utils.fold_kernels import (
            knn_topk_map,
            plane_dots_kernel,
        )

        dots = plane_dots_kernel([list(map(float, p)) for p in planes])
        q_keys = vec.select(
            "_rid",
            "arr",
            F.posexplode(
                F.transform(
                    dots(F.col("arr")),
                    lambda x: F.floor(x / F.lit(float(bucket_length))).cast("long"),
                )
            ).alias("_tbl", "_bucket"),
        ).withColumn("_tbl", F.col("_tbl").cast("long"))
        # Candidate DEDUP happens map-side, BEFORE any distance math: a
        # (_rid, fit_idx) pair colliding in several tables appears once
        # per table, and the partial (map-side) hash aggregate of the
        # groupBy collapses duplicates locally — the exchange carries ONE
        # slim row per query row per input partition (candidate-idx set
        # + its feature array), not candidate pairs. (Round 3 shipped a
        # pair-level distinct + re-join formulation: two full-candidate
        # shuffles that dominated the driver bench.)
        cand_sets = q_keys.join(F.broadcast(fit_keys), ["_tbl", "_bucket"]).groupBy(
            "_rid"
        ).agg(
            F.collect_set("fit_idx").alias("cand_idx"),
            F.first("arr").alias("arr"),  # identical across a _rid's rows
        )
        # r12 OPT (guide §4.2/§2.3): distance + top-k now run in ONE
        # mapInArrow kernel over the aggregated candidate sets — each
        # query row crosses the Python boundary once with its candidate
        # ID SET (never per pair: the §5-rejected pair-level kernel
        # shipped both 64-dim vectors per candidate pair and lost 4-6x).
        # Replaces, per row: |cand| interpreted 64-element folds
        # (explode + broadcast fit_arrs join) and a collect_list +
        # array_sort aggregate. Bit-identical (dist values, tie order,
        # padding) — pinned by tests/test_fold_kernels.py::test_knn_topk.
        # cand_sets left the exchange hash-partitioned on _rid and
        # mapInArrow preserves partitioning, so the scatter-back join
        # below still reuses that layout. One shuffle end-to-end on the
        # candidate path; the fit-row join side is gone.
        topk = knn_topk_map(
            cand_sets.select("_rid", "arr", "cand_idx"), fit_X, k
        )
        dist_cols = [
            F.coalesce(F.col(f"dist_{i}"), F.lit(float("nan"))).alias(f"dist_{i}")
            for i in range(1, k + 1)
        ]
        idx_cols = [
            F.coalesce(F.col(f"idx_{i}"), F.lit(_INT32_MIN)).alias(f"idx_{i}")
            for i in range(1, k + 1)
        ]
        out_cols = (dist_cols + idx_cols) if return_distance else idx_cols
        # keep_features mirrors the exact path's keep_cols (ufunc.py:160)
        passthrough = [
            c
            for c in data.columns
            if c != "_rid" and (keep_features or c not in ff.features)
        ]
        out_df = (
            data.join(topk, "_rid", "left")
            .select(*passthrough, *out_cols)
        )
        names = tuple(
            ([f"dist_{i}" for i in range(1, k + 1)] if return_distance else [])
            + [f"idx_{i}" for i in range(1, k + 1)]
        )
        result = FeatureFrame(
            df=out_df,
            features=names,
            nodata_input={n: (_INT32_MIN if n.startswith("idx_") else None) for n in names},
            metadata=dict(ff.metadata),
        )
        result._append_history("kneighbors:lsh")
        return result


def wrap(estimator: Any) -> SparkEstimator:
    """Reference-compatible constructor name (estimator.py:855-883)."""
    return SparkEstimator(estimator)
