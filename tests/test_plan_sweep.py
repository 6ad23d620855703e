"""Registry-wide physical-plan invariant sweep: every one of the
declared queries must build, resolve, and plan WITHOUT a cartesian
product. Per-query plan audits live in test_plans.py; this sweep is the
whole-surface safety net — a new query that accidentally plans a
cross-product (dropped join key, mistyped condition) fails here before
it can melt a cluster at 100 TB.
"""

from sklearn_raster_spark.plans.registry import load_all_queries

# Queries whose cross product is the ALGORITHM, not an accident:
# ALS recommendForAllUsers scores every (user-block, item-block) pair —
# MLlib's own blocked cartesian over FACTOR BLOCKS (bounded rank-8
# rows, not raw data), the documented all-pairs top-k strategy.
INTENTIONAL_CROSS = {"q119_als_recommendations"}

# mapInArrow is the engine's one batch idiom. Queries whose plan still
# holds a MapInPandas, each a named exception: q175's ALS-ANN centroid
# assignment and user probes, which read array<float> factor columns
# as pandas frames.
MAP_IN_PANDAS = {"q175_als_ann_recommendations"}


def test_no_cartesian_products_or_nested_outputs_anywhere(spark, sf_dir):
    """One pass over every registered builder checks the whole-surface
    invariants: no cartesian product in the physical plan, no
    MapInPandas outside ``MAP_IN_PANDAS``, and no
    array/map/struct column in the output schema (the driver's
    canonicalizer does pandas sort_values over every column and dies
    on unhashable cells — the round-4 q131/q135 failure). NOTE:
    spec.fn() is not free — streaming builders drive availableNow
    queries and model builders fit — so the two invariants share this
    single build pass and caches are released as we go."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from sklearn_raster_spark.utils.cache import release_shared_caches

    reg = load_all_queries()
    violations = {}
    map_in_pandas = set()
    for name, spec in reg.items():
        df = spec.fn(spark, sf_dir)  # must build and resolve
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if "CartesianProduct" in plan and name not in INTENTIONAL_CROSS:
            violations.setdefault(name, []).append("CartesianProduct")
        # row-at-a-time Python UDFs are banned engine-wide: every
        # Python boundary must be Arrow-batched (ArrowEvalPython /
        # MapInPandas / MapInArrow / FlatMapGroupsInPandas all pass;
        # BatchEvalPython is the ~10-100x-slower per-row pickler and
        # means someone used F.udf instead of pandas_udf/mapInPandas)
        if "BatchEvalPython" in plan:
            violations.setdefault(name, []).append("BatchEvalPython (row-at-a-time UDF)")
        if "MapInPandas" in plan:
            map_in_pandas.add(name)
        nested = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            violations.setdefault(name, []).append(
                f"nested output columns: {nested}"
            )
        release_shared_caches()
    assert violations == {}, violations
    assert map_in_pandas == MAP_IN_PANDAS
    assert len(reg) >= 102  # the sweep really covered the full surface
