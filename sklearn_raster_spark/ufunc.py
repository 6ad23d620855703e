"""FeaturewiseUfunc: declared-output batch kernels over FeatureFrames.

Reference parity: src/sklearn_raster/ufunc/_base.py:141-268 orchestrates
"apply an arbitrary (samples, features) -> (samples, k) callable per
chunk, with NoData skip/scatter-back and declared output metadata". The
Spark-native translation (SURVEY.md O1-O15):

- chunk            -> Arrow batch inside ``mapInPandas``
- declared outputs -> the ``returnType`` StructType (Spark, like the
                      reference, needs output schema before execution)
- skip-NoData      -> ``filter`` BEFORE the UDF (Catalyst pushes it to
                      the scan — strictly better than the reference,
                      which masks after loading)
- scatter-back     -> ``unionByName`` of masked rows carrying the
                      ``nodata`` literal for every output column (rows
                      are unordered in Spark, so no positional restore
                      is needed)
- ensure_min_samples -> per-batch pandas padding inside the UDF (not
                      expressible relationally; reference
                      ufunc/_base.py:366-382)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.utils.casting import default_nodata_for, validate_nodata
from sklearn_raster_spark.utils.threads import limit_inner_threads

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


def count_output_collisions(ff: FeatureFrame, nodata_output) -> int:
    """Reference O8 (ufunc/_base.py:453-466): count rows where a
    *valid* output legitimately equals the NoData encoding — the caller
    can warn that those rows will be indistinguishable after encoding.
    Eager (one count job); call only when the check matters.

    Must run BEFORE ``nodata_output`` is encoded into the frame: once a
    feature's registered NoData equals the tested value, masked rows
    and colliding valid rows are the same bit pattern and no post-hoc
    count can separate them (that in-flight distinction is what the
    kernel-side accumulator in FeaturewiseUfunc provides) — raise on
    that ambiguous call instead of silently counting masked rows."""
    from pyspark.sql import functions as F  # local: keep module header lean

    ambiguous = [
        n for n in ff.features if ff.nodata_input.get(n) == nodata_output
    ]
    if ambiguous:
        raise ValueError(
            f"features {ambiguous} already register {nodata_output!r} as "
            "their NoData encoding — masked rows are indistinguishable "
            "from colliding valid rows here; use the kernel-side "
            "collision accumulator (warn_if_output_collisions) instead"
        )
    cond = None
    for name in ff.features:
        c = F.col(name) == F.lit(nodata_output)
        cond = c if cond is None else (cond | c)
    return ff.df.filter(cond).count() if cond is not None else 0


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
        passthrough = [c for c in df.columns if c not in ff.features]
        keep_cols = df.columns if keep_features else passthrough

        in_dtypes = dict(df.dtypes)
        schema = ", ".join(
            [f"`{c}` {in_dtypes[c]}" for c in keep_cols]
            + [f"`{n}` {o.dtype}" for o in self.outputs for n in o.names]
        )

        func = self.func
        outputs = self.outputs
        out_names = [list(o.names) for o in outputs]
        out_np = [_NP_DTYPE[o.dtype] for o in outputs]
        # reference O8 (ufunc/_base.py:453-466): detect VALID outputs that
        # legitimately equal the NoData encoding (indistinguishable from
        # masked rows downstream). NaN encodings can't collide with valid
        # values by definition and are skipped.
        out_collision_vals = [
            None
            if (isinstance(nd := o.resolved_nodata(), float) and np.isnan(nd))
            else nd
            for o in outputs
        ]

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            with limit_inner_threads(inner_thread_limit):
                for pdf in batches:
                    n = len(pdf)
                    if n == 0:
                        continue
                    X = pdf[features].to_numpy(dtype=np.float64, na_value=np.nan)
                    if nan_fill is not None:
                        X = np.where(np.isnan(X), nan_fill, X)
                    pad = max(0, ensure_min_samples - n)
                    if pad:
                        # reference O6: temporarily unmask dummy rows so
                        # min-sample estimators see a full batch
                        X = np.vstack([X, np.full((pad, X.shape[1]), nan_fill or 0.0)])
                    res = func(X)
                    if not isinstance(res, tuple):
                        res = (res,)
                    if len(res) != len(outputs):
                        raise ValueError(
                            f"func returned {len(res)} outputs, declared {len(outputs)}"
                        )
                    out = pdf[keep_cols].copy() if keep_cols else pd.DataFrame(index=pdf.index)
                    for arr, names, npdt in zip(res, out_names, out_np):
                        arr = np.asarray(arr)
                        if arr.ndim == 1:
                            arr = arr[:, None]
                        if pad:
                            arr = arr[:n]
                        if arr.shape != (n, len(names)):
                            raise ValueError(
                                f"output shape {arr.shape} != ({n}, {len(names)})"
                            )
                        for j, name in enumerate(names):
                            out[name] = arr[:, j].astype(npdt, copy=False)
                    if collision_counter is not None:
                        hits = 0
                        for arr, cval in zip(res, out_collision_vals):
                            if cval is not None:
                                hits += int((np.asarray(arr)[:n] == cval).sum())
                        if hits:
                            collision_counter.add(hits)
                    yield out

        if skip_nodata:
            mask = ff.nodata_mask()
            valid = df.filter(~mask)
            applied = valid.mapInPandas(kernel, schema=schema)
            masked = df.filter(mask).select(
                *[F.col(c) for c in keep_cols],
                *[
                    F.lit(o.resolved_nodata()).cast(o.dtype).alias(n)
                    for o in outputs
                    for n in o.names
                ],
            )
            result = applied.unionByName(masked)
        else:
            result = df.mapInPandas(kernel, schema=schema)

        out_ff = FeatureFrame(
            df=result,
            features=tuple(n for o in outputs for n in o.names),
            nodata_input={n: nd for o in outputs for n, nd in o._nodata_input().items()},
            metadata=dict(ff.metadata),
        )
        out_ff._append_history(f"ufunc:{getattr(func, '__name__', 'callable')}")
        return out_ff
