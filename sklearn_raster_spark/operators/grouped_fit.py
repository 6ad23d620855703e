"""Per-group model fitting — the "many small models" training pattern
(one model per segment/tenant/source), which no global-fit surface
(q45-q48, MLlib) covers: the grouping key shards the TRAINING itself.

Spark shape: groupBy(key).applyInPandas(fit_kernel) — each group's
rows arrive as one pandas frame, the kernel fits and returns the
fitted parameters as ONE row per group. At 100 TB this is the only
fit topology that parallelizes across segments with zero coordination
(no parameter server, no global aggregation): thousands of small
models train as independent tasks, and the output is a tiny
(|groups| rows) model table that downstream scoring joins broadcast.

Grading: generic solvers (lstsq, SGD) are float-order-dependent and
would be rows-only. OLS with ONE feature has an exact closed form on
integer data, so the kernel accumulates the sufficient statistics
(n, Σx, Σy, Σxy, Σx², Σy²) as PYTHON INTS (exact), and only the final
slope/intercept/R² divisions touch floats — one double division per
parameter, bit-identical to the DuckDB oracle computing the same
integer ratios. The kernel IS a model fit (it sees raw rows, learns
parameters); the determinism comes from choosing the estimator whose
sufficient statistics are exact, the same DECIMAL-partials discipline
every graded aggregate in this repo follows.

No reference analog (the reference wraps ONE estimator over a grid —
SURVEY.md §2.1); this is the [extension] training-pipeline dual.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table

FIT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n", LongType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
        StructField("r2", DoubleType()),
    ]
)


def _ols_fit_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fit y = a + b*x by exact-integer OLS on one group's rows.
    Sufficient statistics accumulate as Python ints (arbitrary
    precision — no overflow, no float order dependence); each output
    parameter is a few double ops over exact integers, reproducible
    bit-for-bit by any engine computing the same ratios.

    Determinism discipline (each point burned once already):
    - every int converts to float64 BEFORE the float ops, in the same
      order the oracle's CASTs apply them (num*num exceeds 2^53, so
      engines must round the SAME intermediates);
    - parameters are emitted UNROUNDED — the 6dp round happens in
      SPARK (F.round, HALF_UP) to match DuckDB ROUND; Python round()
      is HALF_EVEN and flips exact .5 boundaries;
    - degenerate groups (single row, constant x: den == 0; constant
      y: syy == 0) emit NULL parameters, matching the oracle's
      NULLIF-guarded divisions, instead of crashing the executor."""
    x = [int(v) for v in pdf["x"]]
    y = [int(v) for v in pdf["y"]]
    n = len(x)
    sx, sy = sum(x), sum(y)
    sxy = sum(a * b for a, b in zip(x, y))
    sx2 = sum(a * a for a in x)
    sy2 = sum(b * b for b in y)
    num = float(n * sxy - sx * sy)
    den = float(n * sx2 - sx * sx)
    syy = float(n * sy2 - sy * sy)
    if den == 0.0:
        slope = intercept = r2 = None
    else:
        slope = num / den
        intercept = (float(sy) / n) - slope * (float(sx) / n)
        r2 = (num * num) / (den * syy) if syy != 0.0 else None
    return pd.DataFrame(
        {
            "source": [pdf["source"].iloc[0]],
            "n": [n],
            "slope": pd.array([slope], dtype="Float64"),
            "intercept": pd.array([intercept], dtype="Float64"),
            "r2": pd.array([r2], dtype="Float64"),
        }
    )


def fitted_model_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The |groups|-row fitted model table with UNROUNDED parameters
    (one exact-integer OLS per source segment) — shared by q156 (which
    grades the parameters) and q158 (which broadcasts the table back
    over documents for distributed scoring)."""
    from sklearn_raster_spark.session import ensure_workers_can_import

    docs = read_table(spark, sf_dir, "documents")
    ensure_workers_can_import(spark)
    rows = docs.select(
        "source",
        F.col("n_chars").alias("x"),
        F.size(F.split("text", " ")).alias("y"),
    ).filter(
        # a row with a NULL feature or target is unusable training
        # data; dropping it here (and in the oracle's stats CTE) keeps
        # the sufficient statistics consistent — SUM would skip the
        # NULL while COUNT(*) counted it, and int(NaN) crashes the
        # kernel (random-instance fuzz finding)
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    return rows.groupBy("source").applyInPandas(_ols_fit_kernel, FIT_SCHEMA)


@query(
    "q156_grouped_model_fit",
    oracle="""
    WITH stats AS (
        SELECT source,
               COUNT(*) AS n,
               SUM(n_chars) AS sx,
               SUM(LEN(STRING_SPLIT(text, ' '))) AS sy,
               SUM(n_chars * LEN(STRING_SPLIT(text, ' '))) AS sxy,
               SUM(n_chars * n_chars) AS sx2,
               SUM(LEN(STRING_SPLIT(text, ' ')) * LEN(STRING_SPLIT(text, ' '))) AS sy2
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY source
    )
    SELECT source, n,
           -- + 0 normalizes IEEE negative zero (see q158)
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sx2 - sx * sx AS DOUBLE), 0), 6) + 0 AS slope,
           ROUND(CAST(sy AS DOUBLE) / n
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / NULLIF(CAST(n * sx2 - sx * sx AS DOUBLE), 0))
                   * (CAST(sx AS DOUBLE) / n), 6) + 0 AS intercept,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / NULLIF(CAST(n * sx2 - sx * sx AS DOUBLE)
                          * CAST(n * sy2 - sy * sy AS DOUBLE), 0), 6) + 0 AS r2
    FROM stats
    """,
    doc="Per-group model fitting (the 'many small models' pattern — "
        "one regression per source segment, a training topology the "
        "global-fit surfaces q45-q48 cannot express): "
        "groupBy(source).applyInPandas fits token-count ~ char-count "
        "OLS per group and emits the fitted (slope, intercept, R2) as "
        "a |groups|-row model table, ready to broadcast into a "
        "scoring join. Hash-graded EXACTLY despite being a Python "
        "model fit: one-feature OLS has a closed form whose "
        "sufficient statistics are exact integers here, so the kernel "
        "accumulates Python ints and performs one double division per "
        "parameter — the same ratios the oracle computes (DuckDB "
        "integer sums are exact HUGEINTs). At 100 TB each group fits "
        "in one task with zero coordination; skewed groups split via "
        "the same salting duals as any hot aggregate key.",
)
def q156_grouped_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    fitted = fitted_model_table(spark, sf_dir)
    # 6dp rounding happens ENGINE-SIDE (Spark HALF_UP == DuckDB ROUND);
    # the kernel emits unrounded doubles — Python round() is HALF_EVEN
    # and would flip exact .5 boundaries against the oracle
    return fitted.select(
        "source",
        "n",
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
        (F.round("r2", 6) + F.lit(0.0)).alias("r2"),
    )


@query(
    "q158_grouped_model_score",
    oracle="""
    WITH stats AS (
        SELECT source,
               COUNT(*) AS n,
               SUM(n_chars) AS sx,
               SUM(LEN(STRING_SPLIT(text, ' '))) AS sy,
               SUM(n_chars * LEN(STRING_SPLIT(text, ' '))) AS sxy,
               SUM(n_chars * n_chars) AS sx2
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY source
    ),
    slopes AS (
        SELECT source, sx, sy, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / NULLIF(CAST(n * sx2 - sx * sx AS DOUBLE), 0) AS slope
        FROM stats
    ),
    models AS (
        SELECT source, slope,
               CAST(sy AS DOUBLE) / n - slope * (CAST(sx AS DOUBLE) / n) AS intercept
        FROM slopes
    )
    SELECT d.doc_id, d.source,
           -- + 0 normalizes IEEE negative zero (a residual in
           -- (-5e-7, 0) rounds to -0.0; engines disagree on the sign
           -- bit they print/hash — random-instance fuzz finding)
           ROUND(m.intercept + m.slope * CAST(d.n_chars AS DOUBLE), 6) + 0 AS pred_tokens,
           ROUND(CAST(LEN(STRING_SPLIT(d.text, ' ')) AS DOUBLE)
                 - (m.intercept + m.slope * CAST(d.n_chars AS DOUBLE)), 6) + 0 AS residual
    FROM documents d
    JOIN models m ON d.source = m.source
    """,
    doc="Distributed scoring with q156's fitted model table — the "
        "second half of the training topology (fit -> |groups|-row "
        "model table -> broadcast -> map-side score) that a 100 TB "
        "segment-model pipeline runs: the per-source (slope, "
        "intercept) table from the applyInPandas OLS fit joins "
        "back onto every document and each row gets its predicted "
        "token count and residual in ONE narrow map stage — no "
        "second shuffle, no Python in the scoring path. Graded "
        "EXACTLY per row: the parameters are bit-identical integer "
        "ratios (q156's discipline), prediction is one multiply-add "
        "over doubles applied in the same order as the oracle's "
        "expression, rounded 6dp engine-side (Spark HALF_UP == "
        "DuckDB ROUND). Degenerate segments (den == 0) score NULL, "
        "matching the oracle's NULLIF-guarded slope. [extension] — "
        "composes reference E3 predict (estimator.py:117-228) with "
        "the per-group fit.",
)
def q158_grouped_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    models = fitted_model_table(spark, sf_dir).select("source", "slope", "intercept")
    scored = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("double").alias("x"),
        F.size(F.split("text", " ")).cast("double").alias("y"),
    ).join(models, "source")
    # same float64 op ORDER as the oracle: intercept + slope * x, then
    # y - (that), each rounded 6dp — bit-identical inputs make the
    # rounded outputs equal
    pred = F.col("intercept") + F.col("slope") * F.col("x")
    # + 0.0 normalizes -0.0 -> 0.0 (IEEE: -0.0 + 0.0 == +0.0), mirroring
    # the oracle's `+ 0` — see the oracle comment
    return scored.select(
        "doc_id",
        "source",
        (F.round(pred, 6) + F.lit(0.0)).alias("pred_tokens"),
        (F.round(F.col("y") - pred, 6) + F.lit(0.0)).alias("residual"),
    )
