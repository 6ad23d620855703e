"""NoData skip/scatter in one pass.

``FeatureFrame.nodata_mask`` is one parsed SQL string that must match
the Column-built mask it replaced, row for row and expression for
expression; ``FeaturewiseUfunc`` scores the valid rows of each Arrow
batch and its kernel writes the nodata of masked rows in place.
"""

import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.ufunc import MASK_COL, FeaturewiseUfunc, Output

INF = float("inf")
NAN = float("nan")


def _old_mask(ff, refs):
    """The Column form the SQL mask replaced, with ``refs[name]`` the
    F.col reference of each feature."""
    dtypes = dict(ff.df.dtypes)
    masks = []
    for name in ff.features:
        c = F.col(refs.get(name, name))
        m = c.isNull()
        if dtypes[name] in ("float", "double"):
            m = m | F.isnan(c)
        sentinel = ff.nodata_input.get(name)
        if sentinel is not None:
            m = m | (c == F.lit(sentinel))
        masks.append(m)
    while len(masks) > 1:
        masks = [
            masks[i] | masks[i + 1] if i + 1 < len(masks) else masks[i]
            for i in range(0, len(masks), 2)
        ]
    return masks[0]


def _plan_text(df, phase):
    plan = getattr(df._jdf.queryExecution(), phase)().toString()
    return re.sub(r"#\d+L?", "#", plan)


@pytest.fixture(scope="module")
def mask_frame(spark, tmp_path_factory):
    """Parquet-backed, so the optimized plan keeps its projection (a
    local relation would be evaluated away by the optimizer)."""
    rows = [
        (0, 1.0, 1, 1.0, 1.0, 1.0),
        (1, None, None, None, None, None),
        (2, NAN, 7, NAN, NAN, NAN),
        (3, -9999.0, -9999, 2.0, -9999.0, 3.0),
        (4, INF, 5, -9999.0, 4.0, -9999.0),
        (5, -INF, 6, 5.0, INF, 6.0),
        (6, 0.5, 2, 0.25, 0.125, 0.0625),
    ]
    path = str(tmp_path_factory.mktemp("mask") / "t.parquet")
    schema = "id int, d double, i int, `a.b` double, `c d` double, `e``f` double"
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


MASK_CASES = [
    (["d"], {}),
    (["d"], {"d": -9999.0}),
    (["d"], {"d": NAN}),
    (["d"], {"d": INF}),
    (["d"], {"d": -INF}),
    (["i"], {"i": -9999}),
    (["i"], {"i": -9999.0}),
    (["c d", "a.b", "e`f"], {"c d": -9999.0, "e`f": -9999.0}),
    (["d", "i", "a.b", "c d", "e`f"], {"i": 7, "a.b": -9999.0, "e`f": INF}),
]


@pytest.mark.parametrize("features,nodata", MASK_CASES)
def test_sql_mask_matches_column_form(mask_frame, features, nodata):
    ff = FeatureFrame.from_dataframe(mask_frame, features, nodata_input=nodata)
    refs = {n: "`" + n.replace("`", "``") + "`" for n in features}
    new = mask_frame.select("id", ff.nodata_mask().alias("m"))
    old = mask_frame.select("id", _old_mask(ff, refs).alias("m"))
    assert sorted(new.collect()) == sorted(old.collect())
    assert _plan_text(new, "optimizedPlan") == _plan_text(old, "optimizedPlan")
    if all(isinstance(v, int) or math.isfinite(v) for v in nodata.values()):
        # a NaN/Inf sentinel is written as CAST('NaN' AS DOUBLE), which
        # only the optimizer folds to the literal F.lit embeds
        assert _plan_text(new, "analyzed") == _plan_text(old, "analyzed")


def test_sql_mask_reads_dotted_and_backticked_names(mask_frame):
    """The Column form read ``a.b`` as field ``b`` of a struct ``a`` and
    could not parse a name with a backtick; the quoted SQL reads both
    as the column of that name."""
    from pyspark.errors import AnalysisException

    for name in ("a.b", "e`f"):
        ff = FeatureFrame.from_dataframe(mask_frame, [name])
        with pytest.raises(AnalysisException):
            mask_frame.select(_old_mask(ff, {})).collect()
        got = dict(mask_frame.select("id", ff.nodata_mask()).collect())
        assert got == {0: False, 1: True, 2: True, 3: False, 4: False, 5: False, 6: False}


# -- the one-branch kernel ---------------------------------------------


def _frame(spark, vals, parts=1, **kw):
    pdf = pd.DataFrame({"id": range(len(vals)), "a": vals})
    df = spark.createDataFrame(pdf).repartition(parts)
    return FeatureFrame.from_dataframe(df, ["a"], **kw)


def test_all_masked_batch_never_calls_func(spark):
    def boom(X):
        raise AssertionError(f"func called on {len(X)} rows")

    ff = _frame(spark, [NAN, -1.0, NAN], nodata_input={"a": -1.0})
    rows = FeaturewiseUfunc(boom, [Output(("y",), "double")])(ff).df.collect()
    assert len(rows) == 3 and all(math.isnan(r["y"]) for r in rows)


def test_nodata_encodings_survive_arrow(spark):
    """The NaN default comes back as NaN, not NULL; int outputs carry
    int32 min or the declared nodata."""
    ff = _frame(spark, [1.0, NAN, 3.0])
    uf = FeaturewiseUfunc(
        lambda X: (X[:, 0] * 2, X[:, 0].astype(int), X[:, 0].astype(int)),
        [Output(("y",), "double"), Output(("k",), "int"), Output(("j",), "int", nodata=-7)],
    )
    rows = {r["id"]: r for r in uf(ff).df.collect()}
    assert rows[1]["y"] is not None and math.isnan(rows[1]["y"])
    assert (rows[1]["k"], rows[1]["j"]) == (-(2**31), -7)
    got = [(rows[i]["y"], rows[i]["k"], rows[i]["j"]) for i in (0, 2)]
    assert got == [(2.0, 1, 1), (6.0, 3, 3)]


def test_keep_features_carries_every_row(spark):
    ff = _frame(spark, [1.0, -5.0, 3.0], nodata_input={"a": -5.0})
    out = FeaturewiseUfunc(lambda X: X[:, 0] + 1, [Output(("y",), "double")])(
        ff, keep_features=True
    ).df
    assert out.columns == ["id", "a", "y"]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows[0] == (0, 1.0, 2.0) and rows[2] == (2, 3.0, 4.0)
    assert rows[1][:2] == (1, -5.0) and math.isnan(rows[1][2])


def test_ensure_min_samples_pads_mixed_batch(spark):
    """One batch of 3 valid and 2 masked rows: func sees the 3 valid
    rows padded to 5, never a masked value."""

    def needs_five(X):
        assert X.shape[0] >= 5 and not (X == -1.0).any(), X
        return X[:, 0] * 10

    ff = _frame(spark, [1.0, -1.0, 2.0, -1.0, 3.0], nodata_input={"a": -1.0})
    out = FeaturewiseUfunc(needs_five, [Output(("y",), "double")])(ff, ensure_min_samples=5)
    got = {r["id"]: r["y"] for r in out.df.collect()}
    assert [got[i] for i in (0, 2, 4)] == [10.0, 20.0, 30.0]
    assert all(math.isnan(got[i]) for i in (1, 3))


def test_collision_counter_counts_valid_rows_only(spark):
    """Masked rows carry a zero placeholder out of the kernel; with a
    nodata of 0 only the valid rows that really scored 0 may count."""
    acc = spark.sparkContext.accumulator(0)
    ff = _frame(spark, [0.0, NAN, 2.0, NAN, 0.0], parts=2)
    out = FeaturewiseUfunc(lambda X: X[:, 0].astype(int), [Output(("k",), "int", nodata=0)])(
        ff, collision_counter=acc
    )
    assert sorted(r["k"] for r in out.df.collect()) == [0, 0, 0, 0, 2]
    assert acc.value == 2


def test_reserved_mask_column_raises(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1.0], MASK_COL: [True]}))
    ff = FeatureFrame.from_dataframe(df, ["a"])
    with pytest.raises(ValueError, match="reserved"):
        FeaturewiseUfunc(lambda X: X[:, 0], [Output(("y",), "double")])(ff)


def test_output_name_of_a_carried_column_raises(spark):
    ff = _frame(spark, [1.0])
    uf = FeaturewiseUfunc(lambda X: X[:, 0], [Output(("id",), "double")])
    for keep in (False, True):
        with pytest.raises(ValueError, match="already carried"):
            uf(ff, keep_features=keep, skip_nodata=False)


def test_frame_without_features_scores_an_empty_matrix(spark):
    ff = FeatureFrame.from_dataframe(spark.range(2), [])
    uf = FeaturewiseUfunc(lambda X: [X.shape[1]] * len(X), [Output(("k",), "int")])
    assert sorted(tuple(r) for r in uf(ff).df.collect()) == [(0, 0), (1, 0)]


def test_bigint_feature_past_2_53_rounds_like_numpy(spark):
    """Features reach ``func`` as float64 the way numpy casts them: a
    bigint that no double holds exactly rounds instead of raising."""
    big = 2**53 + 1
    df = spark.range(2).selectExpr("id", f"IF(id = 0, {big}L, NULL) AS a")
    ff = FeatureFrame.from_dataframe(df, ["a"])
    out = FeaturewiseUfunc(lambda X: X[:, 0], [Output(("y",), "double")])(ff)
    rows = {r["id"]: r["y"] for r in out.df.collect()}
    assert rows[0] == float(np.float64(big)) and math.isnan(rows[1])


def test_skip_nodata_false_scores_every_row(spark):
    ff = _frame(spark, [1.0, NAN], nodata_input={"a": 1.0})
    out = FeaturewiseUfunc(lambda X: X[:, 0] + 1, [Output(("y",), "double")])(
        ff, skip_nodata=False, nan_fill=0.0
    )
    assert out.df.columns == ["id", "y"]
    assert sorted((r["id"], r["y"]) for r in out.df.collect()) == [(0, 2.0), (1, 1.0)]


def test_carried_float_nan_survives_arrow(spark):
    """A NaN in a carried float column (a passthrough, or a feature
    under ``keep_features``) comes back NaN on valid and masked rows,
    not NULL; a NULL stays NULL and the row mask is not carried."""
    df = spark.range(3).selectExpr(
        "id",
        "IF(id = 1, double('NaN'), double(id)) AS a",
        "IF(id = 2, NULL, double('NaN')) AS p",
        "float('NaN') AS f",
    )
    ff = FeatureFrame.from_dataframe(df, ["a"])
    uf = FeaturewiseUfunc(lambda X: X[:, 0] + 1, [Output(("y",), "double")])

    def nan(v):
        return v is not None and math.isnan(v)

    for keep in (False, True):
        out = uf(ff, keep_features=keep).df
        assert out.columns == (["id", "a", "p", "f", "y"] if keep else ["id", "p", "f", "y"])
        rows = {r["id"]: r for r in out.collect()}
        assert [nan(rows[i]["p"]) for i in range(3)] == [True, True, False]
        assert rows[2]["p"] is None
        assert all(nan(rows[i]["f"]) for i in range(3))
        assert (rows[0]["y"], nan(rows[1]["y"]), rows[2]["y"]) == (1.0, True, 3.0)
        if keep:
            assert (rows[0]["a"], nan(rows[1]["a"]), rows[2]["a"]) == (0.0, True, 2.0)


@pytest.mark.parametrize("skip", [True, False])
def test_func_nan_on_valid_row_stays_nan(spark, skip):
    """A NaN that ``func`` returns for a valid row comes back NaN, the
    same encoding a masked row carries: one output column holds one
    encoding of "no value", never NULL."""
    df = spark.range(4).selectExpr("id", "IF(id = 3, NULL, double(id)) AS a")
    ff = FeatureFrame.from_dataframe(df, ["a"])
    uf = FeaturewiseUfunc(
        lambda X: np.where(X[:, 0] == 1, np.nan, X[:, 0]), [Output(("y",), "double")]
    )
    rows = {r["id"]: r["y"] for r in uf(ff, skip_nodata=skip).df.collect()}
    assert None not in rows.values()
    assert {i for i, y in rows.items() if math.isnan(y)} == ({1, 3} if skip else {1})
    assert (rows[0], rows[2]) == (0.0, 2.0)


@pytest.mark.parametrize("skip", [True, False])
def test_carried_columns_pass_through_unchanged(spark, skip):
    """Carried columns are the input batch's own Arrow arrays: every
    type keeps its declared type and every value, NULL included, on
    valid and masked rows alike."""
    df = spark.range(4).selectExpr(
        "id",
        "IF(id = 2, NULL, double(id)) AS a",
        "CAST(id * 1.125 - 1 AS DECIMAL(12,3)) AS dec",
        "IF(id = 1, NULL, CONCAT('s', id)) AS s",
        "TIMESTAMP'2024-03-10 01:30:00' + make_interval(0, 0, 0, 0, int(id)) AS ts",
        "DATE'1969-12-30' + int(id) AS d",
        "IF(id = 3, NULL, sequence(0L, id)) AS arr",
        "IF(id = 0, NULL, id - 4) AS n",
    )
    ff = FeatureFrame.from_dataframe(df, ["a"])
    uf = FeaturewiseUfunc(lambda X: X[:, 0] * 2, [Output(("y",), "double")])
    out = uf(ff, keep_features=True, skip_nodata=skip).df
    assert out.dtypes == df.dtypes + [("y", "double")]
    assert sorted(out.drop("y").collect()) == sorted(df.collect())
