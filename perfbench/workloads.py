"""The benchmark's workloads: their inputs, ops and output checks.

An op is one timed unit of work.  ``Op.build`` does the work up to the
sink (a registry builder, an estimator call that plans the scoring) and
returns the sink to run, or None when the build is the whole op (a
driver-side fit).
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

import checks
import tables

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[], Callable[[], None] | None]


def noop_sink(df) -> Callable[[], None]:
    """Materialise every column of ``df`` without collecting it."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class RegistryShort:
    """Short registry queries over tiny generated tables: fixed
    per-query cost (planning, job launches, builder round-trips) with
    almost no data.  Covers relational queries, the SimHash near-dup
    kernel of the LLM pipeline and two streaming queries."""

    name = "registry_short"
    SF = 0.001
    TABLE_SEED = 42
    OPS = (
        "q02_filter_project",
        "q06_forecast_revenue",
        "q17_topk_orders",
        "q32_approx_count_distinct",
        "q53_simhash_neardup",
        "q116_stream_inference",
        "q137_stream_sliding_window",
    )
    WARM_TABLES = ("documents", "events", "lineitem", "orders")  # what OPS read

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.table_dir = os.path.join(work, "tables")
        self.registry = None

    def prepare(self) -> dict:
        """Write the tables.  They depend only on TABLE_SEED, so the
        recorded row counts of rows-only queries stay valid; the run's
        seed orders the ops."""
        rows = tables.write_tables(self.table_dir, self.SF, self.TABLE_SEED)
        return {"sf": self.SF, "table_rows": rows}

    def warm(self, spark) -> None:
        for t in self.WARM_TABLES:
            spark.read.parquet(os.path.join(self.table_dir, f"{t}.parquet")).limit(1).collect()

    def bind(self, spark, registry) -> None:
        self.spark, self.registry = spark, registry

    def ops(self) -> list[Op]:
        def op(name: str) -> Op:
            spec = self.registry[name]
            return Op(name, lambda: noop_sink(spec.fn(self.spark, self.table_dir)))

        return [op(n) for n in self.OPS]

    def order(self, ops: list[Op], rng: random.Random) -> list[Op]:
        return rng.sample(ops, len(ops))

    def check(self) -> dict[str, str | None]:
        from tests.oracle_utils import duckdb_conn

        with open(os.path.join(HERE, "expected_rows.json")) as f:
            expected = json.load(f)[self.name]
        con = duckdb_conn(self.table_dir)
        out = {}
        try:
            for name in self.OPS:
                spec = self.registry[name]
                df = spec.fn(self.spark, self.table_dir)
                if spec.oracle is not None:
                    out[name] = checks.check_against_oracle(df, con, spec.oracle)
                else:
                    out[name] = checks.check_row_count(df, expected.get(name))
                release_caches(self.spark)
        finally:
            con.close()
        return out


def release_caches(spark) -> None:
    """The hygiene between ops: drop tracked persists and cached plans,
    then let Python's GC drop dead broadcast handles."""
    import gc

    from sklearn_raster_spark.utils.cache import release_shared_caches

    release_shared_caches()
    spark.catalog.clearCache()
    gc.collect()


class RasterPredict:
    """The reference's own dataflow: ingest a multi-band grid with a
    NoData region, fit driver-side, score every valid pixel through the
    Arrow path and the compiled path, and write the result."""

    name = "raster_predict"
    SHAPE = (192, 192)
    N_BANDS = 8
    NODATA = -9999.0
    NODATA_PERCENTILE = 10.0
    N_FIT = 2000
    N_KNN_FIT = 64
    K = 3
    # op name -> (estimator attribute, method, kwargs)
    METHODS = {
        "predict_arrow": ("lr", "predict", {"compile_expressions": False}),
        "predict_compiled": ("lr", "predict", {}),
        "predict_proba": ("nb", "predict_proba", {}),
        "kneighbors": ("knn", "kneighbors", {"method": "exact", "n_neighbors": K}),
    }
    ARROW_OPS = ("predict_arrow", "predict_proba", "kneighbors")

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.band_dir = os.path.join(work, "bands")
        self.staged = os.path.join(work, "staged.parquet")
        self.out_dir = os.path.join(work, "predictions.parquet")
        self.features = [f"b{i}" for i in range(self.N_BANDS)]
        self.models: dict = {}

    # -- inputs ---------------------------------------------------------

    def prepare(self) -> dict:
        from sklearn_raster_spark.datasets.synthetic import generate_fractal_noise

        grid = generate_fractal_noise(
            self.SHAPE, self.N_BANDS, seed=self.seed, nodata_percentile=self.NODATA_PERCENTILE
        )
        grid = np.where(np.isnan(grid), self.NODATA, grid)
        os.makedirs(self.band_dir, exist_ok=True)
        self.files = []
        for b in range(self.N_BANDS):
            path = os.path.join(self.band_dir, f"band{b}.npy")
            np.save(path, grid[b])
            self.files.append((b, path))
        h, w = self.SHAPE
        ys, xs = np.indices(self.SHAPE)
        wide = pd.DataFrame({"y": ys.ravel().astype(np.int32), "x": xs.ravel().astype(np.int32)})
        for b in range(self.N_BANDS):
            wide[f"b{b}"] = grid[b].ravel()
        wide.to_parquet(self.staged, index=False)
        self.X = wide[self.features].to_numpy()
        self.masked = (self.X == self.NODATA).any(axis=1)
        self.input_bytes = dir_bytes(self.band_dir)
        self.valid_pixels = int((~self.masked).sum())

        rng = np.random.default_rng(self.seed)
        valid = np.flatnonzero(~self.masked)
        pick = rng.choice(valid, self.N_FIT, replace=False)
        sample = pd.DataFrame(self.X[pick], columns=self.features)
        s = sample["b0"] + sample["b1"]
        self.y_cls = pd.Series(np.digitize(s, [-1.0, 1.0]), name="cls")
        self.y_reg = pd.Series(
            0.5 * sample["b2"] - sample["b3"] + 0.1 * rng.standard_normal(self.N_FIT), name="reg"
        )
        self.sample = sample
        return {
            "pixels": h * w,
            "bands": self.N_BANDS,
            "valid_pixels": self.valid_pixels,
            "input_bytes": self.input_bytes,
        }

    def warm(self, spark) -> None:
        spark.read.parquet(self.staged).limit(1).collect()

    def bind(self, spark, registry) -> None:
        self.spark = spark

    # -- ops --------------------------------------------------------------

    def fit(self) -> None:
        from sklearn_raster_spark.estimator import SparkEstimator
        from sklearn_raster_spark.estimators import (
            GaussianNBNP,
            KNeighborsRegressorNP,
            LinearRegressionNP,
        )

        n = self.N_KNN_FIT
        self.models = {
            "lr": SparkEstimator(LinearRegressionNP()).fit(self.sample, self.y_reg),
            "nb": SparkEstimator(GaussianNBNP()).fit(self.sample, self.y_cls),
            "knn": SparkEstimator(KNeighborsRegressorNP(self.K)).fit(
                self.sample.iloc[:n], self.y_reg.iloc[:n]
            ),
        }

    def staged_frame(self):
        from sklearn_raster_spark.features import FeatureFrame

        return FeatureFrame.from_dataframe(
            self.spark.read.parquet(self.staged), self.features, nodata_input=self.NODATA
        )

    def ingested_frame(self):
        from sklearn_raster_spark.features import FeatureFrame
        from sklearn_raster_spark.sources.raster import raster_stack_to_wide, read_raster_stack

        wide = raster_stack_to_wide(read_raster_stack(self.spark, self.files), self.N_BANDS)
        for b in range(self.N_BANDS):
            wide = wide.withColumnRenamed(str(b), f"b{b}")
        return FeatureFrame.from_dataframe(wide, self.features, nodata_input=self.NODATA)

    def method_frame(self, op: str):
        attr, method, kw = self.METHODS[op]
        return getattr(self.models[attr], method)(self.staged_frame(), **kw)

    def write(self) -> None:
        self.method_frame("predict_compiled").write_parquet(self.out_dir)

    def ops(self) -> list[Op]:
        def fit():
            self.fit()

        out = [
            Op("fit", fit),
            Op("ingest", lambda: noop_sink(self.ingested_frame().df)),
        ]
        for name in self.METHODS:
            out.append(Op(name, lambda name=name: noop_sink(self.method_frame(name).df)))
        out.append(Op("write_parquet", lambda: self.write))
        return out

    def order(self, ops: list[Op], rng: random.Random) -> list[Op]:
        """The fit runs first; the seed orders the rest."""
        rest = ops[1:]
        return ops[:1] + rng.sample(rest, len(rest))

    # -- checks -----------------------------------------------------------

    def _grid(self, df, cols: list[str]) -> np.ndarray:
        pdf = df.select("y", "x", *cols).toPandas()
        w = self.SHAPE[1]
        out = np.full((len(self.X), len(cols)), np.nan)
        out[pdf["y"].to_numpy() * w + pdf["x"].to_numpy()] = pdf[cols].to_numpy(dtype=np.float64)
        if len(pdf) != len(self.X):
            raise ValueError(f"{len(pdf)} output rows for {len(self.X)} pixels")
        return out

    def reference(self, op: str) -> tuple[list[str], np.ndarray, float]:
        """Output columns, numpy reference over the whole grid, and the
        NoData value masked pixels must carry."""
        attr, method, kw = self.METHODS[op]
        est = self.models[attr].estimator
        X = np.where(self.masked[:, None], 0.0, self.X)
        if method == "predict":
            return ["reg"], est.predict(X)[:, None], np.nan
        if method == "predict_proba":
            return [f"proba_{c}" for c in est.classes_], est.predict_proba(X), np.nan
        dist, idx = est.kneighbors(X, n_neighbors=self.K)
        names = [f"dist_{i}" for i in range(1, self.K + 1)] + [f"idx_{i}" for i in range(1, self.K + 1)]
        return names, np.hstack([dist, idx]), None

    def check(self) -> dict[str, str | None]:
        self.fit()
        out: dict[str, str | None] = {"fit": None}
        try:
            got = self._grid(self.ingested_frame().df, self.features)
            want = np.where(self.masked[:, None], self.NODATA, self.X)
            out["ingest"] = checks.check_grid(got, want, self.masked, self.NODATA, 0.0)
        except Exception as exc:  # a crash is a failed check, reported
            out["ingest"] = f"{type(exc).__name__}: {exc}"
        for op in self.METHODS:
            try:
                cols, want, nodata = self.reference(op)
                got = self._grid(self.method_frame(op).df, cols)
                if nodata is None:  # kneighbors: NaN distances, int32-min indices
                    k = self.K
                    err = checks.check_grid(got[:, :k], want[:, :k], self.masked, np.nan, 1e-9)
                    err = err or checks.check_grid(
                        got[:, k:], want[:, k:], self.masked, np.iinfo(np.int32).min, 0.0
                    )
                else:
                    err = checks.check_grid(got, want, self.masked, nodata, 1e-9)
                out[op] = err
            except Exception as exc:
                out[op] = f"{type(exc).__name__}: {exc}"
        try:
            self.write()
            from sklearn_raster_spark.features import FeatureFrame

            back = FeatureFrame.read_parquet(self.spark, self.out_dir)
            cols, want, nodata = self.reference("predict_compiled")
            got = self._grid(back.df, cols)
            out["write_parquet"] = checks.check_grid(got, want, self.masked, nodata, 1e-9) or (
                None if back.features == ("reg",) else f"features read back as {back.features}"
            )
        except Exception as exc:
            out["write_parquet"] = f"{type(exc).__name__}: {exc}"
        release_caches(self.spark)
        return out


WORKLOADS = {w.name: w for w in (RasterPredict, RegistryShort)}
