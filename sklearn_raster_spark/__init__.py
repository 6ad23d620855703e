"""sklearn_raster_spark — a PySpark-native analytics engine with the
capabilities of lemma-osu/sklearn-raster, re-expressed Spark-first.

The reference (/root/reference, sklearn-raster 0.1.0.dev2) applies fitted
estimators to n-dimensional gridded feature arrays with NoData masking
(src/sklearn_raster/estimator.py). Here the data model is a long-form
DataFrame (one row per sample, one column per feature; SQL NULL is the
canonical NoData mask — SURVEY.md §1.4), the execution engine is
Catalyst/Tungsten, and the per-chunk estimator kernel is an Arrow-batched
``mapInArrow``.

Layers:
- ``features``    FeatureFrame: names + per-feature nodata registry + metadata
                  (reference: src/sklearn_raster/features.py)
- ``estimator``   SparkEstimator: fit/predict/predict_proba/transform/
                  inverse_transform/kneighbors (reference: estimator.py)
- ``ufunc``       FeaturewiseUfunc: generic declared-output batch kernel
                  (reference: ufunc/_base.py)
- ``operators``   relational / dedup / similarity / text / asof operators
- ``sources``     parquet table catalog
- ``streaming``   Structured Streaming variants of the events operators
"""

from sklearn_raster_spark.session import get_spark

try:  # inference layer (M1) — optional at import time during the build
    from sklearn_raster_spark.features import FeatureFrame
    from sklearn_raster_spark.estimator import SparkEstimator, wrap
    from sklearn_raster_spark.ufunc import FeaturewiseUfunc, Output
except ModuleNotFoundError:  # pragma: no cover
    pass

__version__ = "0.1.0"

__all__ = [
    "FeatureFrame",
    "SparkEstimator",
    "wrap",
    "FeaturewiseUfunc",
    "Output",
    "get_spark",
    "__version__",
]
