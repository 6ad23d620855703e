"""MLlib-native inference: the fully-distributed counterpart of the
broadcast-estimator path (BASELINE.json spark_approach: "MLlib for
distributed prediction over partitioned rasters").

Where operators/inference.py broadcasts a driver-fitted numpy model
into mapInPandas (reference-parity E2/E3), these queries fit AND
predict with pyspark.ml: training is distributed, and
``model.transform`` is pure JVM — no Python boundary at all in the
scoring hot path, which is the preferred shape when a native MLlib
estimator matches the model family (SURVEY.md §1.4, E3 mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage


@query(
    "q45_mllib_linear_regression",
    doc="Distributed MLlib LinearRegression: VectorAssembler features "
        "from lineitem (quantity, discount, tax) -> fit on the full "
        "table -> JVM-side transform. Deterministic ('normal' solver). "
        "Rows-only (model state is not SQL).",
)
def q45_mllib_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    assembler = VectorAssembler(
        inputCols=["l_quantity", "l_discount", "l_tax"], outputCol="features"
    )
    assembled = assembler.transform(li)
    lr = LinearRegression(
        featuresCol="features",
        labelCol="l_extendedprice",
        predictionCol="pred_price",
        solver="normal",  # closed-form: deterministic across runs
        regParam=0.0,
    )
    model = lr.fit(assembled)
    return (
        model.transform(assembled)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("pred_price", 4).alias("pred_price"),
        )
    )


@query(
    "q46_mllib_kmeans",
    doc="Distributed MLlib KMeans over embeddings (seeded): fit and "
        "assign entirely in the JVM; cluster sizes returned. Rows-only "
        "(iterative algorithm state is not SQL).",
)
def q46_mllib_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    km = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cluster")
    model = km.fit(emb)
    assigned = model.transform(emb)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


@query(
    "q47_mllib_logistic_proba",
    doc="Distributed MLlib LogisticRegression on embeddings (binary "
        "label: label is even), probability column extracted per class "
        "via vector_to_array — the MLlib dual of predict_proba (E4). "
        "Rows-only.",
)
def q47_mllib_logistic_proba(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        (F.col("label") % 2 == 0).cast("double").alias("is_even"),
    )
    lr = LogisticRegression(
        featuresCol="features", labelCol="is_even", probabilityCol="proba", maxIter=20
    )
    model = lr.fit(emb)
    out = model.transform(emb)
    proba = vector_to_array("proba")
    return out.select(
        "vec_id",
        F.round(proba[0], 6).alias("proba_odd"),
        F.round(proba[1], 6).alias("proba_even"),
        F.col("prediction").cast("int").alias("pred_is_even"),
    )


ITEMSET_MIN_ORDERS = 3
# Relative support floor: 1 order per 50k baskets, integer-ceil. The
# absolute ITEMSET_MIN_ORDERS alone is a scale bug of the q149 class —
# the derived-sf1 run showed the pattern lattice growing linearly with
# the corpus (200k itemsets, OOM on the default 8g heap at 10x) because
# an absolute floor admits everything as data grows; at 100 TB a
# 3-order floor is ~1e-11 relative support and FPGrowth dies. The
# effective threshold is max(absolute, ceil(n_baskets/50000)): bit-
# identical results at every driver-graded sf (ceil hits 3 exactly at
# sf0.1's 147,236 baskets), 30 at derived sf1, and corpus-proportional
# beyond — the lattice stays bounded.
ITEMSET_SUPPORT_DENOM = 50_000


@query(
    "q118_frequent_itemsets",
    oracle=f"""
    WITH n AS (
        SELECT GREATEST(
            {ITEMSET_MIN_ORDERS},
            (COUNT(DISTINCT l_orderkey) + {ITEMSET_SUPPORT_DENOM - 1})
                // {ITEMSET_SUPPORT_DENOM}
        ) AS min_orders
        FROM lineitem
    ), singles AS (
        SELECT CAST(1 AS INTEGER) AS size, l_partkey AS item_a,
               CAST(NULL AS BIGINT) AS item_b,
               COUNT(DISTINCT l_orderkey) AS freq
        FROM lineitem
        GROUP BY l_partkey
        HAVING COUNT(DISTINCT l_orderkey) >= (SELECT min_orders FROM n)
    ), pairs AS (
        SELECT CAST(2 AS INTEGER) AS size, a.l_partkey AS item_a,
               b.l_partkey AS item_b,
               COUNT(DISTINCT a.l_orderkey) AS freq
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(DISTINCT a.l_orderkey) >= (SELECT min_orders FROM n)
    )
    SELECT size, item_a, item_b, CAST(freq AS BIGINT) AS freq
    FROM singles
    UNION ALL
    SELECT size, item_a, item_b, CAST(freq AS BIGINT) AS freq FROM pairs
    """,
    doc="Frequent-itemset mining (market-basket analysis) over order "
        "baskets, minimum support max("
        f"{ITEMSET_MIN_ORDERS} orders, 1 per {ITEMSET_SUPPORT_DENOM} "
        "baskets). The query reports only size<=2 itemsets, and for a "
        "bounded itemset size the EXACT FPGrowth answer equals direct "
        "support counting — one explode+groupBy for singles, one "
        "sorted-array combination explode + groupBy for pairs (the "
        "q84 basket-combos device) — so that is how it runs (r12 OPT, "
        "guide §1.2 'the distributed algorithm': the FP-tree build "
        "conditionalized the full pattern lattice only to throw away "
        "every itemset above size 2; measured 6.6 s -> see "
        "OPTIMIZATION_r12.md; identical oracle hash). The MLlib "
        "FPGrowth surface itself — full-lattice mining — stays "
        "exercised and downward-closure-pinned by "
        "tests/test_round4.py::test_frequent_itemsets_downward_closure "
        "against the same support floor. Scale: the RELATIVE support "
        "floor keeps the result bounded as the corpus grows (the "
        "derived-sf1 run caught the absolute floor admitting a "
        "linearly-growing lattice); the pair explode is bounded by "
        "basket size, never a lineitem self-join.",
)
def q118_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("items")
    )
    # two consumers (n_baskets count, singles, pairs) of one grouped
    # scan. LAZY persist (r12 opt, guide §5): the n_baskets count right
    # below populates the cache — the eager count() inside
    # shared_lineage ran the identical job twice back-to-back
    baskets = shared_lineage(baskets, eager=False)
    n_baskets = baskets.count()
    min_orders = max(
        ITEMSET_MIN_ORDERS,
        -(-n_baskets // ITEMSET_SUPPORT_DENOM),  # integer ceil
    )
    singles = (
        baskets.select(F.explode("items").alias("item_a"))
        .groupBy("item_a")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_orders)
        .select(
            F.lit(1).alias("size"),
            "item_a",
            F.lit(None).cast("bigint").alias("item_b"),
            F.col("freq").cast("bigint").alias("freq"),
        )
    )
    # every unordered in-basket pair exactly once: items are sorted and
    # distinct, so (x, later y) enumerates each pair with item_a < item_b
    combos = F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items) - i - 1), "
        "y -> struct(x AS pa, y AS pb))))"
    )
    pairs = (
        baskets.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.pa").alias("item_a"), F.col("p.pb").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_orders)
        .select(
            F.lit(2).alias("size"),
            "item_a",
            "item_b",
            F.col("freq").cast("bigint").alias("freq"),
        )
    )
    return singles.unionByName(pairs)


@query(
    "q119_als_recommendations",
    doc="Implicit-feedback ALS recommender (MLlib) on the customer x "
        "part purchase matrix (rating = number of lineitems): factor "
        "model train + top-3 part recommendations per customer — the "
        "collaborative-filtering surface. Rows-only: ALS is seeded "
        "but its float convergence is platform/partitioning-"
        "dependent, so semantics are pytest-pinned instead (k per "
        "user, finite scores, recommendations drawn from the item "
        "vocabulary). Scale: ALS is the canonical block-factorized "
        "Spark algorithm — user/item factor blocks co-partitioned, "
        "each sweep a join per block, no driver-side matrix.",
)
def q119_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = _als_model(spark, sf_dir)
    recs = model.recommendForAllUsers(3)
    return recs.select(
        F.col("user").alias("custkey"),
        F.posexplode("recommendations").alias("rank0", "rec"),
    ).select(
        "custkey",
        (F.col("rank0") + 1).alias("rec_rank"),
        F.col("rec.item").alias("partkey"),
        F.col("rec.rating").cast("double").alias("score"),
    )


# --- ALS at scale: ANN scoring over the item-factor table (round 11) ---
#
# The sf10 decade (SCALE.md, BENCH_SF10.json) measured q119's
# exhaustive recommendForAllUsers at 59.7x for 10x data — users and
# items both scale, so the users x items blocked GEMM grows ~100x.
# q175 is the production-scale fix the repo's ANN machinery already
# argued for: coarse-quantize the ITEM factors (IVF, the q69 pattern),
# probe each user's top cells, and run the exact dot-product scoring
# only inside (user-block, probed-cell) pairs via a cogrouped pandas
# GEMM — candidates never materialize as rows, flops drop by
# ~cells/probes, and the stage is ~linear in users at fixed cell
# occupancy. Recall@3 vs the exhaustive q119 output is pytest-pinned
# (tests/test_als_ann.py).

ALS_ANN_CELLS = 256
ALS_ANN_PROBES = 8
_ALS_FIT_CAP = 10_000
_ALS_GEMM_CHUNK = 2048


def _als_model(spark: SparkSession, sf_dir: str):
    from pyspark.ml.recommendation import ALS

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    als = ALS(
        rank=8,
        maxIter=5,
        seed=42,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    return als.fit(ratings)


@query(
    "q175_als_ann_recommendations",
    doc="ALS top-3 recommendations through IVF-ANN scoring instead of "
        "the exhaustive users x items GEMM (the q119 scale fix, "
        "measured: SCALE.md sf1->sf10): k-means centroids driver-fit "
        "on a capped item-factor sample (the q69 coarse-quantizer "
        "pattern) and broadcast; items assign to their nearest cell "
        "and users to their top-8 cells by factor dot product (Arrow "
        "mapInPandas, one pass each); a groupBy(cell).cogroup pandas "
        "kernel then scores each (user-block, cell) pair as a chunked "
        "numpy GEMM emitting per-cell top-3 partials — candidate rows "
        "never materialize, work drops ~cells/probes = 32x, and the "
        "stage is ~linear in users at fixed cell occupancy. A final "
        "window keeps the global top-3. Rows-only (ALS factors are "
        "fitted float state); recall@3 vs exhaustive q119 is "
        "pytest-pinned.",
)
def q175_als_ann_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    from sklearn_raster_spark.estimators import KMeansNP

    model = _als_model(spark, sf_dir)
    item_f = model.itemFactors  # (id int, features array<float>)
    user_f = model.userFactors

    # 1. coarse quantizer: driver-fit on a deterministic capped sample.
    # Hash-ordered, NOT id-ordered: an id-prefix sample is not
    # representative of the factor distribution (measured on the
    # derived sf1: centroids fit on the id prefix left ONE cell holding
    # 80% of all items — no pruning, no parallelism; the hash-ordered
    # sample balances cells to ~2x the mean and makes top-3 probe
    # recall ~1.0 at P=8)
    sample = (
        item_f.orderBy(F.xxhash64("id"), "id").limit(_ALS_FIT_CAP).toPandas()
    )
    X = np.array(sample["features"].tolist(), dtype=np.float64)
    n_cells = min(ALS_ANN_CELLS, max(1, len(X) // 4))
    km = KMeansNP(n_clusters=n_cells, n_iter=20, seed=42).fit(X)
    C = km.cluster_centers_.astype(np.float32)  # (cells, rank), broadcast
    def assign_items(it):
        for pdf in it:
            V = np.array(pdf["features"].tolist(), dtype=np.float32)
            # nearest centroid, euclidean (||v-c||^2 = ||v||^2 - 2vc + ||c||^2)
            d = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
            yield pd.DataFrame(
                {"item": pdf["id"], "cell": d.argmin(1), "vf": pdf["features"]}
            )

    kernel_schema = "item int, cell int, vf array<float>"
    items = shared_lineage(item_f.mapInPandas(assign_items, schema=kernel_schema), eager=False)

    # 2b. LIST BALANCING (the FAISS IVF discipline): implicit-ALS item
    # factors pile up near the origin, so one k-means cell can hold a
    # large share of the items — cogrouped as ONE task that cell would
    # serialize most of the GEMM (measured: a 13x straggler at sf1).
    # Split every oversized cell into hash sub-cells of bounded size;
    # users probing a split cell probe ALL its sub-cells, so the
    # candidate set (and recall) is unchanged — only the parallelism
    # changes. The split map is |cells|-sized: broadcast-joined.
    counts = {r["cell"]: r["n"] for r in items.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    tgt = max(512, 2 * max(1, sum(counts.values())) // max(1, len(counts)))
    splits = [(int(c), int(-(-n // tgt))) for c, n in counts.items()]
    split_df = F.broadcast(
        spark.createDataFrame(splits, "cell int, n_sub int")
    )

    # 2c. user probes target NON-EMPTY cells only (ADVICE r11): k-means
    # can leave cells no item maps to, and a probe into one used to
    # vanish at the split-map inner join — a user whose top-P probed
    # cells were ALL empty dropped out of the output entirely. Masking
    # empty cells before the top-P pick redirects every probe to a
    # cell that holds candidates, so each user scores against at least
    # one non-empty cell (the counts map is already collected for the
    # balancer; |cells| <= 256, broadcast with the centroids).
    empty_cells = np.setdiff1d(
        np.arange(n_cells), np.fromiter(counts, dtype=np.int64, count=len(counts))
    )
    n_probe = min(ALS_ANN_PROBES, n_cells - len(empty_cells))

    def probe_users(it):
        for pdf in it:
            U = np.array(pdf["features"].tolist(), dtype=np.float32)
            s = U @ C.T  # implicit-ALS scores are dot products
            if len(empty_cells):
                s[:, empty_cells] = -np.inf
            top = np.argpartition(-s, n_probe - 1, axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "user": pdf["id"].values.repeat(n_probe),
                    "cell": top.ravel(),
                    "uf": pdf["features"].values.repeat(n_probe),
                }
            )

    users = user_f.mapInPandas(
        probe_users, schema="user int, cell int, uf array<float>"
    )
    items = (
        items.join(split_df, "cell")
        .withColumn(
            "ck",
            F.col("cell") * 4096 + F.pmod(F.xxhash64("item"), F.col("n_sub")).cast("int"),
        )
    )
    users = (
        users.join(split_df, "cell")
        .withColumn("sub", F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1)))
        .withColumn("ck", F.col("cell") * 4096 + F.col("sub"))
    )

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # one (user-block, cell) GEMM; chunked so the score matrix
        # stays bounded regardless of cell occupancy
        if left.empty or right.empty:
            return pd.DataFrame({"user": [], "item": [], "score": []}).astype(
                {"user": "int32", "item": "int32", "score": "float64"}
            )
        U = np.array(left["uf"].tolist(), dtype=np.float32)
        uid = left["user"].to_numpy()
        V = np.array(right["vf"].tolist(), dtype=np.float32).T  # rank x items
        iid = right["item"].to_numpy()
        k = min(3, V.shape[1])
        out = []
        for s in range(0, len(uid), _ALS_GEMM_CHUNK):
            S = U[s : s + _ALS_GEMM_CHUNK] @ V
            idx = np.argpartition(-S, k - 1, axis=1)[:, :k]
            rows = np.repeat(uid[s : s + _ALS_GEMM_CHUNK], k)
            out.append(
                pd.DataFrame(
                    {
                        "user": rows.astype(np.int32),
                        "item": iid[idx.ravel()].astype(np.int32),
                        "score": np.take_along_axis(S, idx, 1).ravel().astype(np.float64),
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    partials = (
        users.select("ck", "user", "uf")
        .groupBy("ck")
        .cogroup(items.select("ck", "item", "vf").groupBy("ck"))
        .applyInPandas(score_cell, schema="user int, item int, score double")
    )
    w = Window.partitionBy("user").orderBy(F.desc("score"), F.asc("item"))
    return (
        partials.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= 3)
        .select(
            F.col("user").alias("custkey"),
            "rec_rank",
            F.col("item").alias("partkey"),
            "score",
        )
    )
