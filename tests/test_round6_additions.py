"""Round-6 additions: the portable fixed-centroid IVF twin (q157 —
the last ANN family to join the hash-graded column) and model-table
scoring (q158 — fit -> broadcast -> map-side score), plus the laws
the oracles can't express: IVF recall vs exact brute force, the
OLS residual-sum identity, and the binary-file cache fingerprint
invalidation (ADVICE r5)."""

import os

import pytest

from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import load_all_queries

from tests.oracle_utils import compare_query

NEW_ORACLE_QUERIES = [
    "q157_ann_ivf_portable",
    "q158_grouped_model_score",
    # touched this round (q156 refactored through fitted_model_table,
    # q152 payload cache fingerprinted) — must stay value-green
    "q156_grouped_model_fit",
    "q152_binaryfile_source",
    # second batch: the scaled-integer PageRank twin and the portable
    # PQ-ADC twin
    "q159_pagerank_portable",
    "q160_pq_adc_portable",
]


@pytest.mark.parametrize("name", NEW_ORACLE_QUERIES)
def test_oracle_value_match(spark, sf_dir, name):
    assert compare_query(spark, sf_dir, name) > 0


def test_ivf_portable_recall_vs_exact(spark, sf_dir):
    """The portable IVF quantizer must behave like an ANN index, not a
    random filter: probing IVF_PROBE of IVF_CELLS cells should keep
    most of the exact cosine top-k. The oracle grades WHAT the plan
    computes; this pins that the computation is a useful index."""
    from sklearn_raster_spark.operators import similarity as sim

    qs = load_all_queries()
    approx = {
        (r["qid"], r["nid"])
        for r in qs["q157_ann_ivf_portable"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r["qid"], r["nid"])
        for r in qs["q55_knn_cosine_bruteforce"].fn(spark, sf_dir).collect()
        if r["qid"] < sim.N_QUERIES
    }
    assert exact, "exact baseline empty — fixture drift"
    recall = len(approx & exact) / len(exact)
    # 4/8 cells probed; md5-uniform centroids at dim 16 keep most of
    # the angular neighborhood in the probed half
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_ivf_probe_bounds_candidates(spark, sf_dir):
    """Scale contract: each query's candidate set is EXACTLY the corpus
    rows living in its IVF_PROBE probed cells (minus self) — the plan
    must never degenerate toward all-pairs. Cell assignments and probe
    sets are recomputed independently (driver-side, from the collected
    dot arrays) and every query's candidate count from the actual
    ivf_portable_candidates stage must equal the recomputation."""
    from sklearn_raster_spark.operators import similarity as sim
    from sklearn_raster_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dots = {
        r["vec_id"]: r["dots"]
        for r in emb.select(
            "vec_id", sim._ivf_cell_dots(F.col("embedding")).alias("dots")
        ).collect()
    }
    # independent recomputation: argmax cell (first-occurrence
    # tie-break, mirroring array_position) and per-query probe sets
    cell_of = {v: d.index(max(d)) for v, d in dots.items()}
    pop = {}
    for c in cell_of.values():
        pop[c] = pop.get(c, 0) + 1
    assert len(pop) > sim.IVF_PROBE, f"degenerate clustering: {pop}"
    assert max(pop.values()) < len(dots), "all vectors in one cell"
    expected = {}
    for q in (v for v in dots if v < sim.N_QUERIES):
        probed = sorted(
            range(sim.IVF_CELLS), key=lambda c: (-dots[q][c], c)
        )[: sim.IVF_PROBE]
        expected[q] = sum(pop.get(c, 0) for c in probed) - (
            1 if cell_of[q] in probed else 0
        )
    # the actual candidate stage (pre-top-k) must match per query
    actual = {
        r["qid"]: r["n"]
        for r in sim.ivf_portable_candidates(spark, sf_dir)
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert actual == expected, (actual, expected)
    # and the probed fraction strictly bounds work below brute force
    total = len(dots)
    for q, n in actual.items():
        assert n < total - 1, f"q{q} candidate set degenerated to all-pairs"


def test_grouped_score_residuals_sum_to_zero(spark, sf_dir):
    """OLS law: per group, residuals of the fitted line sum to ~0
    (exactly 0 in exact arithmetic when the model has an intercept).
    Catches any slope/intercept mix-up or join misalignment that a
    value-hash alone would only report as 'mismatch'."""
    qs = load_all_queries()
    res = (
        qs["q158_grouped_model_score"].fn(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum("residual").alias("rs"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert res
    for r in res:
        if r["rs"] is None:  # degenerate group scored NULL
            continue
        assert abs(r["rs"]) < 1e-3 * r["n"], (r["source"], r["rs"])


def test_grouped_score_covers_every_document(spark, sf_dir):
    """Scoring is a broadcast join on source — it must not drop rows
    (every document has a model row, even degenerate-fit groups)."""
    from sklearn_raster_spark.sources import read_table

    qs = load_all_queries()
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert qs["q158_grouped_model_score"].fn(spark, sf_dir).count() == n_docs


def test_pagerank_portable_tracks_float_ranks(spark, sf_dir):
    """The scaled-integer twin must be the SAME PageRank, not merely a
    self-consistent integer recurrence: per node, |rank_e12/SCALE -
    float rank| stays inside the accumulated floor-loss bound, and the
    node sets coincide. Catches a damping/teleport/degree mix-up that
    the oracle (which replays whatever the engine does) cannot see."""
    from sklearn_raster_spark.operators.graph import PAGERANK_SCALE

    qs = load_all_queries()
    fl = {
        r["node"]: r["rank"]
        for r in qs["q120_pagerank"].fn(spark, sf_dir).collect()
    }
    sc = {
        r["partkey"]: r["rank_e12"]
        for r in qs["q159_pagerank_portable"].fn(spark, sf_dir).collect()
    }
    assert fl.keys() == sc.keys(), "node sets diverge"
    worst = max(abs(sc[n] / PAGERANK_SCALE - fl[n]) for n in fl)
    # floor losses are < 1e-12 mass per division; 8 iterations over this
    # fixture accumulate orders of magnitude less than 1e-6
    assert worst < 1e-6, f"integer twin diverges from float ranks by {worst}"


def test_pagerank_portable_mass_conservation(spark, sf_dir):
    """Integer mass accounting: floor division only ever LOSES rank
    units, and the loss per iteration is < |E| (edge floors) + 2|V|
    (damping + teleport floors). Total mass must sit inside
    [SCALE - bound, SCALE]."""
    from sklearn_raster_spark.operators.graph import (
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        _copurchase_pairs,
    )

    qs = load_all_queries()
    ranks = qs["q159_pagerank_portable"].fn(spark, sf_dir).collect()
    total = sum(r["rank_e12"] for r in ranks)
    n_v = len(ranks)
    n_e = 2 * _copurchase_pairs(spark, sf_dir).count()
    bound = n_v + PAGERANK_ITERS * (n_e + 2 * n_v)  # init + per-iter floors
    assert PAGERANK_SCALE - bound <= total <= PAGERANK_SCALE, (
        total,
        PAGERANK_SCALE,
        bound,
    )


def test_pq_portable_codebook_utilization(spark, sf_dir):
    """The literal codebooks must actually quantize: every subspace
    uses a healthy spread of its 16 codes (md5-uniform centroids in the
    ±2-sigma component band), or the ADC score would carry no signal
    and the oracle would be grading a degenerate constant."""
    from sklearn_raster_spark.operators import similarity as sim

    coded = (
        sim._pq_base(spark, sf_dir)
        .select(
            F.array(
                *[code for code, _ in sim._pq_code_terms(sim._PQP_CODEBOOKS)]
            ).alias("codes")
        )
        .collect()
    )
    assert coded
    for s in range(sim.PQ_SUBSPACES):
        used = {r["codes"][s] for r in coded}
        assert len(used) >= 4, f"subspace {s} collapsed to {used}"
        assert all(0 <= c < sim.PQ_CODEBOOK for c in used)


def test_pq_portable_recall_vs_exact(spark, sf_dir):
    """ADC + re-rank must behave like an ANN index: the exact-re-ranked
    top-5 overlaps the true top-5 (unit-norm vectors: L2 order ==
    cosine order, so q55's exact cosine top-k is the ground truth)."""
    from sklearn_raster_spark.operators import similarity as sim

    qs = load_all_queries()
    approx = {
        (r["qid"], r["nid"])
        for r in qs["q160_pq_adc_portable"].fn(spark, sf_dir).collect()
        if r["rn"] <= sim.TOP_K
    }
    exact = {
        (r["qid"], r["nid"])
        for r in qs["q55_knn_cosine_bruteforce"].fn(spark, sf_dir).collect()
        if r["qid"] < sim.N_QUERIES
    }
    assert exact, "exact baseline empty — fixture drift"
    recall = len(approx & exact) / len(exact)
    # 100 ADC candidates re-ranked exactly: on these fixture sizes the
    # candidate cut keeps most of the true neighborhood
    assert recall >= 0.5, f"PQ-ADC recall {recall:.2f} below floor"


def test_binaryfile_cache_invalidates_on_fingerprint_change(spark, sf_dir):
    """ADVICE r5: the payload directory must rebuild when the source
    documents fixture changes. Simulate by corrupting the marker's
    stored fingerprint and deleting one payload file: the next call
    must rewrite the directory (file restored, marker re-stamped)."""
    from sklearn_raster_spark.operators.io_formats import (
        materialize_binary_files,
    )

    path = materialize_binary_files(spark, sf_dir)
    marker = os.path.join(path, "_SRC_FINGERPRINT")
    with open(marker) as f:
        good = f.read()
    assert good.strip(), "marker must carry a fingerprint"

    # same fixture -> no rebuild (marker content unchanged)
    materialize_binary_files(spark, sf_dir)
    with open(marker) as f:
        assert f.read() == good

    # corrupt the fingerprint and remove one payload: must rebuild
    victims = [p for p in os.listdir(path) if p.endswith(".bin")]
    os.remove(os.path.join(path, victims[0]))
    with open(marker, "w") as f:
        f.write("stale-fingerprint")
    path2 = materialize_binary_files(spark, sf_dir)
    assert path2 == path
    with open(marker) as f:
        assert f.read() == good  # re-stamped from source content
    assert victims[0] in os.listdir(path), "payload not restored"
