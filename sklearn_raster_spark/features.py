"""FeatureFrame: the engine's data model.

Reference parity: src/sklearn_raster/features.py models a "feature
array" — features on one axis, samples on the rest, with a per-feature
NoData registry and CF-style metadata. The Spark-native dual is a
long-form DataFrame: one row per sample, one column per feature, plus
arbitrary passthrough columns (ids / coordinates). SQL NULL is the
canonical NoData mask (SURVEY.md §1.4); ``nullify_nodata`` rewrites
encoded sentinels (and NaN, which is implicitly NoData for float
features — reference features.py:53-54) into NULL once at ingestion,
after which Spark's three-valued logic carries the mask through every
downstream operator for free.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sklearn_raster_spark.utils.casting import validate_nodata
from sklearn_raster_spark.utils.sqltext import sql_ident, sql_literal

_FLOAT_TYPES = {"float", "double"}


@dataclass
class FeatureFrame:
    """A DataFrame + declared feature columns + NoData registry + metadata.

    ``nodata_input`` maps feature name -> encoded NoData value (or None
    when the feature has no encoded sentinel — the reference models this
    with a masked array, features.py:104-159). NaN is always implicit
    NoData for float features.
    """

    df: DataFrame
    features: tuple[str, ...]
    nodata_input: dict[str, Any] = field(default_factory=dict)
    metadata: dict[str, Any] = field(default_factory=dict)

    # -- construction -------------------------------------------------

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        features: Sequence[str],
        nodata_input: Mapping[str, Any] | int | float | None = None,
        metadata: Mapping[str, Any] | None = None,
    ) -> "FeatureFrame":
        features = tuple(features)
        if len(set(features)) != len(features):
            raise ValueError(f"duplicate feature names in {features}")
        missing = [f for f in features if f not in df.columns]
        if missing:
            raise ValueError(f"features {missing} not in DataFrame columns {df.columns}")
        if nodata_input is None:
            nd: dict[str, Any] = {}
        elif isinstance(nodata_input, Mapping):
            unknown = set(nodata_input) - set(features)
            if unknown:
                raise ValueError(f"nodata_input keys {sorted(unknown)} are not features")
            nd = dict(nodata_input)
        else:  # scalar broadcast to every feature (reference features.py:69-80)
            nd = {f: nodata_input for f in features}
        return cls(df=df, features=features, nodata_input=nd, metadata=dict(metadata or {}))

    # -- NoData semantics ---------------------------------------------

    def _mask_sql(self, name: str, dtypes: Mapping[str, str]) -> str:
        """SQL text of this feature's NoData test: NULL, NaN for floats,
        or equal to its encoded sentinel — reference ufunc/_base.py:51-75."""
        c = sql_ident(name)
        terms = [f"{c} IS NULL"]
        if dtypes[name] in _FLOAT_TYPES:
            terms.append(f"isnan({c})")
        sentinel = self.nodata_input.get(name)
        if sentinel is not None:
            terms.append(f"{c} = {sql_literal(sentinel)}")
        return f"({' OR '.join(terms)})"

    def feature_mask(self, name: str) -> Column:
        """True where this feature is NoData."""
        return F.expr(self._mask_sql(name, dict(self.df.dtypes)))

    def nodata_mask(self) -> Column:
        """True where ANY feature is NoData (row-level mask; the
        reference masks a sample if any feature is masked,
        ufunc/_base.py:73-75). One SQL string and one parse: the Column
        API pays a py4j round trip per node (~60 for 8 features, ~90 ms
        of driver time per op).

        The per-feature masks OR together in a BALANCED tree: a linear
        fold builds a depth-2N expression chain that degrades codegen
        badly for wide frames (measured 0.8s -> 0.3s per pass for 64
        float features at sf0.1 just by rebalancing)."""
        dtypes = dict(self.df.dtypes)
        masks = [self._mask_sql(name, dtypes) for name in self.features]
        if not masks:
            return F.lit(False)
        while len(masks) > 1:
            masks = [
                f"({masks[i]} OR {masks[i + 1]})" if i + 1 < len(masks) else masks[i]
                for i in range(0, len(masks), 2)
            ]
        return F.expr(masks[0])

    def nullify_nodata(self) -> "FeatureFrame":
        """Rewrite encoded sentinels / NaN to SQL NULL (the ingestion op;
        one pass, pure column expressions, stays in codegen)."""
        dtypes = dict(self.df.dtypes)
        ff = FeatureFrame(
            df=self.df.selectExpr(*[
                f"CASE WHEN {self._mask_sql(c, dtypes)} THEN NULL ELSE {sql_ident(c)} END"
                f" AS {sql_ident(c)}" if c in self.features else sql_ident(c)
                for c in self.df.columns
            ]),
            features=self.features,
            nodata_input={},  # sentinels consumed; NULL is now the mask
            metadata=dict(self.metadata),
        )
        ff._append_history("nullify_nodata")
        return ff

    def valid(self) -> DataFrame:
        """Rows with every feature present (the skip-NoData compaction
        filter, reference ufunc/_base.py:292-302 / O4)."""
        return self.df.filter(~self.nodata_mask())

    def invalid(self) -> DataFrame:
        return self.df.filter(self.nodata_mask())

    def encode_nodata(self, nodata_output: Mapping[str, Any] | int | float, allow_cast: bool = False) -> "FeatureFrame":
        """Replace NULL **and NaN** cells with an encoded value at sink
        time (dtype-fit validated — reference O7, ufunc/_base.py:424-451).
        NaN must be rewritten too: float-typed masked cells commonly
        carry NaN rather than NULL (the default predict nodata), and
        leaving them would record a _FillValue the data doesn't use —
        an external reader honoring the registered sentinel would see
        NaN instead."""
        dtypes = dict(self.df.dtypes)
        if not isinstance(nodata_output, Mapping):
            nodata_output = {f: nodata_output for f in self.features}
        cols = []
        encoded: dict[str, Any] = {}
        for name in self.df.columns:
            if name in nodata_output:
                val = validate_nodata(nodata_output[name], dtypes[name], allow_cast=allow_cast)
                encoded[name] = val
                src = F.col(name)
                if dtypes[name] in ("double", "float"):
                    src = F.when(F.isnan(src), F.lit(None)).otherwise(src)
                cols.append(F.coalesce(src, F.lit(val).cast(dtypes[name])).alias(name))
            else:
                cols.append(F.col(name))
        # the encoded sentinel IS the new NoData registration: a reader
        # of the result (e.g. after a write_parquet round-trip) must
        # recognize those rows as masked, so the registry is updated to
        # the just-encoded values rather than copied from the input
        nodata = dict(self.nodata_input)
        nodata.update(encoded)
        ff = FeatureFrame(
            df=self.df.select(*cols),
            features=self.features,
            nodata_input=nodata,
            metadata=dict(self.metadata),
        )
        ff._append_history("encode_nodata")
        return ff

    # -- metadata (reference O15: _FillValue/long_name/history) --------

    def _append_history(self, op: str) -> None:
        # rebind a fresh dict instead of mutating in place: callers may
        # have passed a shared metadata mapping to the constructor (the
        # dataclass does not copy), and history must never leak into a
        # sibling frame through that alias
        md = dict(self.metadata)
        hist = list(md.get("history", []))
        hist.append(f"{datetime.now(timezone.utc).isoformat()} {op}")
        md["history"] = hist
        self.metadata = md

    def with_metadata(self, **kv: Any) -> "FeatureFrame":
        md = dict(self.metadata)
        md.update(kv)
        return FeatureFrame(self.df, self.features, dict(self.nodata_input), md)

    # -- persistence with metadata (reference O15/S6: _FillValue,
    #    long_name, history survive into the stored artifact;
    #    features.py:277-335) ---------------------------------------------

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Write with per-column StructField metadata: the feature flag,
        its NoData encoding, and the frame-level history. Parquet
        persists Spark field metadata, so a reader recovers the full
        FeatureFrame without a side-channel."""
        import json

        frame_meta = json.dumps(self.metadata, default=str)
        cols = []
        for name in self.df.columns:
            md = {"is_feature": name in self.features}
            if name in self.nodata_input and self.nodata_input[name] is not None:
                md["_FillValue"] = self.nodata_input[name]
            if name == self.df.columns[0]:
                md["frame_metadata"] = frame_meta
            cols.append(F.col(name).alias(name, metadata=md))
        self.df.select(*cols).write.mode(mode).parquet(path)

    @classmethod
    def read_parquet(cls, spark, path: str) -> "FeatureFrame":
        """Recover a FeatureFrame (features, nodata registry, metadata)
        from the StructField metadata written by ``write_parquet``."""
        import json

        df = spark.read.parquet(path)
        features, nodata, meta = [], {}, {}
        for field in df.schema.fields:
            md = field.metadata or {}
            if md.get("is_feature"):
                features.append(field.name)
                if "_FillValue" in md:
                    nodata[field.name] = md["_FillValue"]
            if "frame_metadata" in md:
                meta = json.loads(md["frame_metadata"])
        return cls(df=df, features=tuple(features), nodata_input=nodata, metadata=meta)

    # -- convenience ----------------------------------------------------

    @property
    def passthrough(self) -> tuple[str, ...]:
        return tuple(c for c in self.df.columns if c not in self.features)

    def select_features(self) -> DataFrame:
        return self.df.select(*self.features)
