"""FeaturewiseUfunc: declared-output batch kernels over FeatureFrames.

Reference parity: src/sklearn_raster/ufunc/_base.py:141-268 orchestrates
"apply an arbitrary (samples, features) -> (samples, k) callable per
chunk, with NoData skip/scatter-back and declared output metadata". The
Spark-native translation (SURVEY.md O1-O15):

- chunk            -> Arrow record batch inside ONE ``mapInArrow`` over
                      all rows
- declared outputs -> the output StructType (Spark, like the reference,
                      needs output schema before execution)
- skip-NoData      -> the row mask is evaluated once in the JVM and rides
                      into the batch as a boolean column; ``func`` sees
                      only the batch's valid rows (none: no call)
- scatter-back     -> the kernel fills each output with its ``nodata``
                      and writes the valid rows' results in place. The
                      input lineage is read once; masked rows cross the
                      Python boundary, but never reach ``func``
- ensure_min_samples -> per-batch numpy padding inside the kernel (not
                      expressible relationally; reference
                      ufunc/_base.py:366-382)

Outputs leave the kernel as Arrow arrays built from numpy, so a NaN
(written as nodata or returned by ``func``) stays NaN, and carried
columns are the input batch's own Arrow arrays.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.utils.casting import default_nodata_for, validate_nodata
from sklearn_raster_spark.utils.sqltext import sql_ident
from sklearn_raster_spark.utils.threads import limit_inner_threads

MASK_COL = "__srs_nodata_mask__"  # the row's NoData flag, read by the kernel


def align_feature_frames(ffs: "list[FeatureFrame]", on: "list[str]") -> FeatureFrame:
    """Multi-input alignment (reference O11/O12, ufunc/_meta.py:263-285):
    equi-join the frames on their coordinate/key columns so one batch
    kernel sees all inputs' features; a sample is NoData if ANY input
    masks it (ufunc/_base.py:101-113) — with each input nullified
    first, NULL propagation through the join gives exactly that."""
    if not ffs:
        raise ValueError("need at least one FeatureFrame")
    all_feats: list[str] = []
    for ff in ffs:
        for f in ff.features:
            if f in all_feats:
                raise ValueError(f"duplicate feature {f!r} across inputs")
            all_feats.append(f)
    base = ffs[0].nullify_nodata()
    joined = base.df
    for ff in ffs[1:]:
        nn = ff.nullify_nodata()
        joined = joined.join(nn.df.select(*on, *nn.features), on=on, how="inner")
    md: dict = {}
    for ff in ffs:
        md.update(ff.metadata)
    return FeatureFrame(df=joined, features=tuple(all_feats), nodata_input={}, metadata=md)


_NP_DTYPE = {
    "double": np.float64,
    "float": np.float32,
    "int": np.int32,
    "bigint": np.int64,
    "smallint": np.int16,
    "tinyint": np.int8,
    "boolean": np.bool_,
}


@dataclass(frozen=True)
class Output:
    """Declared output column group (reference Dimension/Output,
    ufunc/_meta.py:22-150): names + one dtype + NoData encoding."""

    names: tuple[str, ...]
    dtype: str = "double"
    nodata: Any = None  # None => default for dtype (NaN / int min)

    def resolved_nodata(self):
        if self.nodata is None:
            return default_nodata_for(self.dtype)
        return validate_nodata(self.nodata, self.dtype)

    def _nodata_input(self) -> dict[str, Any]:
        """The ``FeatureFrame.nodata_input`` entries for these columns
        once written: the resolved sentinel, NaN registered as None.
        With no entry, masked rows would read as VALID downstream and a
        chained op would consume the sentinel as a real value."""
        nd = self.resolved_nodata()
        nd = None if isinstance(nd, float) and np.isnan(nd) else nd
        return {n: nd for n in self.names}


class FeaturewiseUfunc:
    """Wrap ``func((n, n_features) ndarray) -> ndarray | tuple`` with
    declared outputs, NoData handling and batch padding."""

    def __init__(self, func: Callable[..., Any], outputs: Sequence[Output]):
        self.func = func
        self.outputs = tuple(outputs)
        names = [n for o in self.outputs for n in o.names]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate output names: {names}")

    # ------------------------------------------------------------------

    def __call__(
        self,
        ff: FeatureFrame,
        *,
        skip_nodata: bool = True,
        ensure_min_samples: int = 1,
        nan_fill: float | None = 0.0,
        inner_thread_limit: int | None = 1,
        keep_features: bool = False,
        collision_counter=None,
    ) -> FeatureFrame:
        from sklearn_raster_spark.session import ensure_workers_can_import

        ensure_workers_can_import(ff.df.sparkSession)
        df = ff.df
        if ensure_min_samples > 1:
            # reference O6 validation (ufunc/_base.py:367-371): a minimum
            # that exceeds the TOTAL sample count can never be satisfied
            # by unmasking — padding would silently fabricate data. Costs
            # one count job, only on the non-default path.
            total = df.count()
            if ensure_min_samples > total:
                raise ValueError(
                    f"Cannot ensure {ensure_min_samples} samples: the input "
                    f"has only {total} rows in total."
                )
        features = list(ff.features)
        keep_cols = df.columns if keep_features else list(ff.passthrough)
        in_dtypes = dict(df.dtypes)
        clash = sorted(set(keep_cols) & {n for o in self.outputs for n in o.names})
        if clash:
            raise ValueError(f"output names {clash} are already carried columns")
        if skip_nodata:
            if MASK_COL in in_dtypes:
                raise ValueError(f"column name {MASK_COL!r} is reserved for the kernel's row mask")
            df = df.withColumn(MASK_COL, ff.nodata_mask())
        schema = ", ".join(
            [f"{sql_ident(c)} {in_dtypes[c]}" for c in keep_cols]
            + [f"{sql_ident(n)} {o.dtype}" for o in self.outputs for n in o.names]
        )

        func = self.func
        outputs = self.outputs
        out_names = [list(o.names) for o in outputs]
        out_np = [_NP_DTYPE[o.dtype] for o in outputs]
        # reference O8 (ufunc/_base.py:453-466): detect VALID outputs that
        # legitimately equal the NoData encoding (indistinguishable from
        # masked rows downstream). NaN encodings can't collide with valid
        # values by definition and are skipped.
        out_nodata = [o.resolved_nodata() for o in outputs]
        out_collision_vals = [
            None if isinstance(nd, float) and np.isnan(nd) else nd for nd in out_nodata
        ]

        def score(X: np.ndarray) -> list[np.ndarray]:
            """``func`` over a batch's valid rows: one (n, k) array per output."""
            n = len(X)
            if nan_fill is not None:
                X = np.where(np.isnan(X), nan_fill, X)
            pad = max(0, ensure_min_samples - n)
            if pad:
                # reference O6: temporarily unmask dummy rows so
                # min-sample estimators see a full batch
                X = np.vstack([X, np.full((pad, X.shape[1]), nan_fill or 0.0)])
            res = func(X)
            res = res if isinstance(res, tuple) else (res,)
            if len(res) != len(outputs):
                raise ValueError(f"func returned {len(res)} outputs, declared {len(outputs)}")
            arrs = [(a if a.ndim > 1 else a[:, None])[:n] for a in map(np.asarray, res)]
            for arr, names in zip(arrs, out_names):
                if arr.shape != (n, len(names)):
                    raise ValueError(f"output shape {arr.shape} != ({n}, {len(names)})")
            if collision_counter is not None:
                pairs = zip(arrs, out_collision_vals)
                collision_counter.add(sum(int((a == c).sum()) for a, c in pairs if c is not None))
            return arrs

        def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            with limit_inner_threads(inner_thread_limit):
                for batch in batches:
                    n = batch.num_rows
                    if not n:
                        continue
                    valid = (
                        ~batch.column(MASK_COL).to_numpy(zero_copy_only=False)
                        if skip_nodata
                        else np.ones(n, dtype=bool)
                    )
                    # X is column-major: a BLAS result can differ by layout,
                    # and the 1e-9 estimator checks pin this one. NULL is NaN;
                    # a bigint past 2**53 rounds, as numpy's astype does
                    X = np.empty((len(features), np.count_nonzero(valid))).T
                    for j, f in enumerate(features):
                        col = batch.column(f).cast(pa.float64(), safe=False)
                        np.compress(valid, col.to_numpy(zero_copy_only=False), out=X[:, j])
                    # a batch with no valid row never reaches func
                    res = score(X) if len(X) else [None] * len(outputs)
                    cols = {c: batch.column(c) for c in keep_cols}
                    for arr, names, npdt, nd in zip(res, out_names, out_np, out_nodata):
                        full = np.full((len(names), n), nd, dtype=npdt)
                        if arr is not None:
                            full[:, valid] = arr.T
                        cols.update(zip(names, map(pa.array, full)))
                    yield pa.RecordBatch.from_pydict(cols)

        result = df.mapInArrow(kernel, schema=schema)
        out_ff = FeatureFrame(
            df=result,
            features=tuple(n for o in outputs for n in o.names),
            nodata_input={n: nd for o in outputs for n, nd in o._nodata_input().items()},
            metadata=dict(ff.metadata),
        )
        out_ff._append_history(f"ufunc:{getattr(func, '__name__', 'callable')}")
        return out_ff
