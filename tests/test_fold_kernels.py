"""Bit-equality pins for the r12 Arrow fold kernels
(sklearn_raster_spark/utils/fold_kernels.py) against the Catalyst
expression forms they replaced in q53/q151 (SimHash vote packing) and
q135/q136/q160 (PQ encode / sq_error / query LUTs).

The optimization contract is EXACT equality — integer votes for
SimHash, identical IEEE float64 operand order (elementwise op +
left-to-right cumsum with init 0.0) for the PQ distance folds — so
every assertion here is ==, never approx.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sklearn_raster_spark.operators import similarity as sim
from sklearn_raster_spark.operators.dedup import simhash_col
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.fold_kernels import (
    pq_codes_kernel,
    pq_lut_kernel,
    pq_sqerr_kernel,
    simhash_pack_kernel,
)


@pytest.mark.parametrize("bits", [64, 60])
def test_simhash_kernel_matches_expression_fold(spark, sf_dir, bits):
    docs = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    th = docs.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda w: F.xxhash64(w)).alias("th"),
    )
    old = {r[0]: r[1] for r in th.select("doc_id", simhash_col("th", bits=bits).alias("fp")).collect()}
    new = {r[0]: r[1] for r in th.select("doc_id", simhash_pack_kernel(bits)("th").alias("fp")).collect()}
    assert old == new and len(old) > 0


def test_simhash_kernel_hostile_rows(spark):
    """NULL list -> fp 0 (the fold's when(NULL > 0).otherwise(0)
    branches absorb the NULL — the constant-fp hazard q53/q151 filter
    upstream); empty list -> fp 0; a NULL hash element votes -1 on
    every bit (the fold's otherwise(-1) branch), i.e. exactly like
    hash value 0 — all matching simhash_col."""
    df = spark.createDataFrame(
        [(1, [7, -3]), (2, []), (3, None), (4, [None, 5]), (5, [0, 5])],
        "id int, th array<bigint>",
    )
    old = {r[0]: r[1] for r in df.select("id", simhash_col("th").alias("fp")).collect()}
    new = {r[0]: r[1] for r in df.select("id", simhash_pack_kernel(64)("th").alias("fp")).collect()}
    assert old == new
    assert new[4] == new[5]  # NULL element == 0 element
    assert new[3] == 0  # NULL list absorbs to fp 0, never NULL


def _expr_terms(base, codebooks):
    terms = sim._pq_code_terms(codebooks)
    sq = terms[0][1]
    for _, b in terms[1:]:
        sq = sq + b
    return base.select(
        "vec_id",
        F.array(*[c for c, _ in terms]).alias("codes"),
        sq.alias("sq_error"),
    )


def _subs_col():
    return F.array(*[f"sub{s}" for s in range(sim.PQ_SUBSPACES)])


def test_pq_kernels_match_expressions_portable(spark, sf_dir):
    base = sim._pq_base(spark, sf_dir)
    cb = sim._PQP_CODEBOOKS
    old = {
        r[0]: (list(r[1]), r[2]) for r in _expr_terms(base, cb).collect()
    }
    new = {
        r[0]: (list(r[1]), r[2])
        for r in base.select(
            "vec_id",
            pq_codes_kernel(cb)(_subs_col()).alias("codes"),
            pq_sqerr_kernel(cb)(_subs_col()).alias("sq_error"),
        ).collect()
    }
    assert old == new and len(old) > 0


def test_pq_lut_kernel_matches_expression_folds(spark, sf_dir):
    base = sim._pq_base(spark, sf_dir).filter(F.col("vec_id") < sim.N_QUERIES)
    cb = sim._PQP_CODEBOOKS

    def lut_col(s):
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col(f"sub{s}"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cb[s]
            ]
        ).alias(f"l{s}")

    old_rows = base.select(
        "vec_id", *[lut_col(s) for s in range(sim.PQ_SUBSPACES)]
    ).collect()
    old = {
        r["vec_id"]: [list(r[f"l{s}"]) for s in range(sim.PQ_SUBSPACES)]
        for r in old_rows
    }
    new = {
        r[0]: [list(x) for x in r[1]]
        for r in base.select(
            "vec_id", pq_lut_kernel(cb)(_subs_col()).alias("lut")
        ).collect()
    }
    assert old == new and len(old) > 0


def test_plane_dots_kernel_matches_band_key_dots(spark, sf_dir):
    """The sign-LSH band keys derive from dot > 0 decisions; the kernel
    must produce bit-identical dots, hence identical keys, for BOTH
    plane families (q100's 16 planes, q155's 32)."""
    from sklearn_raster_spark.utils.fold_kernels import plane_dots_kernel

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .limit(500)
    )
    for planes_nested in (sim._PLANES, sim._SIGN_LSH_PLANES):
        flat = [p for band in planes_nested for p in band]
        old_cols = [
            sim.dot_seq(
                F.col("embedding"), F.array(*[F.lit(float(v)) for v in plane])
            ).alias(f"d{i}")
            for i, plane in enumerate(flat)
        ]
        old = {
            r[0]: [r[i + 1] for i in range(len(flat))]
            for r in emb.select("vec_id", *old_cols).collect()
        }
        new = {
            r[0]: list(r[1])
            for r in emb.select(
                "vec_id", plane_dots_kernel(flat)(F.col("embedding")).alias("d")
            ).collect()
        }
        assert old == new and len(old) > 0


def test_plane_dots_kernel_hostile_rows(spark):
    """Ragged / element-null / NULL rows must replicate zip_with
    null-padding (NULL dot), NaN/Inf propagate."""
    from sklearn_raster_spark.utils.fold_kernels import plane_dots_kernel

    planes = [[1.0, 2.0, -0.5], [0.25, -1.0, 4.0]]
    df = spark.createDataFrame(
        [
            (1, [1.0, float("nan"), 2.0]),
            (2, [1.0, 2.0]),            # ragged (shorter than plane)
            (3, [1.0, None, 2.0]),      # element null
            (4, None),                  # null row
            (5, [0.5, -1.5, float("inf")]),
        ],
        "id int, e array<double>",
    )
    old_cols = [
        sim.dot_seq(F.col("e"), F.array(*[F.lit(v) for v in p])).alias(f"d{i}")
        for i, p in enumerate(planes)
    ]
    old = {r[0]: [r[1], r[2]] for r in df.select("id", *old_cols).collect()}
    new = {
        r[0]: (list(r[1]) if r[1] is not None else None)
        for r in df.select(
            "id", plane_dots_kernel(planes)(F.col("e")).alias("d")
        ).collect()
    }
    import math

    for k, ov in old.items():
        nv = new[k] if new[k] is not None else [None] * len(planes)
        for a, b in zip(ov, nv):
            if a is None or b is None:
                assert a is None and b is None, (k, ov, nv)
            else:
                assert a == b or (math.isnan(a) and math.isnan(b)), (k, ov, nv)


def test_pairwise_cosine_table_matches_join_fold(spark, sf_dir):
    """q57's grouped Arrow scorer must reproduce the label-blocked
    self-join + sequential-fold cosine EXACTLY (unrounded doubles)."""
    from sklearn_raster_spark.utils.fold_kernels import pairwise_cosine_table

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .limit(600)
    )
    with_norm = emb.select(
        "vec_id", "label", "embedding", sim.l2_norm(F.col("embedding")).alias("nrm")
    )
    a, b = with_norm.alias("a"), with_norm.alias("b")
    cos = sim.dot_seq(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    old = {
        (r[0], r[1]): r[2]
        for r in a.join(
            b,
            (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.label") == F.col("b.label")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("c"),
        )
        .collect()
    }
    new = {
        (r[0], r[1]): r[2]
        for r in emb.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInArrow(
            pairwise_cosine_table,
            schema="id_a bigint, id_b bigint, cosine_raw double",
        )
        .collect()
    }
    import math

    assert set(old) == set(new) and len(old) > 0
    for k, ov in old.items():
        nv = new[k]
        if ov is None or nv is None:
            assert ov is None and nv is None, k
        else:
            assert ov == nv or (math.isnan(ov) and math.isnan(nv)), k


def test_pairwise_cosine_table_hostile_rows(spark):
    """Element nulls and ragged rows inside a group take the exact
    zip_with-replicating slow path: NULL cosine, same as the join."""
    from sklearn_raster_spark.utils.fold_kernels import pairwise_cosine_table

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0, 3.0]),
            (2, 0, [1.0, None, 3.0]),   # element null
            (3, 0, [1.0, 2.0]),         # ragged
            (4, 0, [float("nan"), 2.0, 3.0]),
            (5, 1, [2.0, 2.0, 2.0]),    # singleton group -> no pairs
        ],
        "vec_id bigint, label int, embedding array<double>",
    )
    with_norm = df.select(
        "vec_id", "label", "embedding", sim.l2_norm(F.col("embedding")).alias("nrm")
    )
    a, b = with_norm.alias("a"), with_norm.alias("b")
    cos = sim.dot_seq(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    old = {
        (r[0], r[1]): r[2]
        for r in a.join(
            b,
            (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.label") == F.col("b.label")),
        )
        .select(F.col("a.vec_id"), F.col("b.vec_id"), cos.alias("c"))
        .collect()
    }
    new = {
        (r[0], r[1]): r[2]
        for r in df.groupBy("label")
        .applyInArrow(
            pairwise_cosine_table,
            schema="id_a bigint, id_b bigint, cosine_raw double",
        )
        .collect()
    }
    import math

    assert set(old) == set(new) and len(old) > 0
    for k, ov in old.items():
        nv = new[k]
        if ov is None or nv is None:
            assert ov is None and nv is None, k
        else:
            assert ov == nv or (math.isnan(ov) and math.isnan(nv)), k


def test_pq_kernels_hostile_vectors(spark):
    """NaN/±Inf elements (the fuzz axis) must flow through the kernels
    exactly as through the expression folds: NaN dists are skipped by
    array_min (NaN-greatest ordering) unless every dist is NaN, and
    the code is the FIRST matching position."""
    import math

    d = sim._EMB_DIM
    nanv = [float("nan")] + [0.1] * (d - 1)
    infv = [float("inf")] + [0.2] * (d - 1)
    okv = [round(0.01 * i - 0.3, 3) for i in range(d)]
    emb = spark.createDataFrame(
        [(1, nanv), (2, infv), (3, okv)], "vec_id bigint, embedding array<double>"
    )
    sub_d = d // sim.PQ_SUBSPACES
    base = emb.select(
        "vec_id",
        *[
            F.slice("embedding", s * sub_d + 1, sub_d).alias(f"sub{s}")
            for s in range(sim.PQ_SUBSPACES)
        ],
    )
    cb = sim._PQP_CODEBOOKS
    old = {r[0]: (list(r[1]), r[2]) for r in _expr_terms(base, cb).collect()}
    new = {
        r[0]: (list(r[1]), r[2])
        for r in base.select(
            "vec_id",
            pq_codes_kernel(cb)(_subs_col()).alias("codes"),
            pq_sqerr_kernel(cb)(_subs_col()).alias("sq_error"),
        ).collect()
    }
    assert set(old) == set(new)
    for k in old:
        assert old[k][0] == new[k][0], k
        ov, nv = old[k][1], new[k][1]
        assert (ov == nv) or (math.isnan(ov) and math.isnan(nv)), k


def test_minhash_exploded_matches_in_array(spark, sf_dir):
    """q52's exploded signature table (posexplode + window leads +
    min aggregates + collect_set) must equal the in-array reference
    form (transform/array_min over array_distinct'd shingle arrays)
    per doc — same per-table minhashes, same shingle SET — and the
    full pair output must be row-identical."""
    from sklearn_raster_spark.operators.dedup import minhash_pairs

    n_tables, shingle = 3, 3
    docs = read_table(spark, sf_dir, "documents")

    # in-array reference: the pre-r12 expression form, kept inline as
    # the semantic spec the exploded plan must reproduce exactly
    tokens = docs.select("doc_id", F.split("text", " ").alias("words")).filter(
        F.size("words") >= shingle
    )
    shingled = tokens.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(words) - {shingle - 1}), "
                f"i -> xxhash64("
                + ", ".join(f"element_at(words, i + {j})" for j in range(shingle))
                + "))"
            )
        ).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    ref_sig = {
        r["doc_id"]: (
            tuple(r[f"h{i}"] for i in range(n_tables)),
            frozenset(r["shingles"]),
        )
        for r in shingled.select(
            "doc_id",
            "shingles",
            *[
                F.array_min(
                    F.expr(f"transform(shingles, s -> xxhash64(s, {i}))")
                ).alias(f"h{i}")
                for i in range(n_tables)
            ],
        ).collect()
    }

    # exploded form, reproduced from minhash_pairs' signature stage
    from pyspark.sql import Window

    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    ex = tokens.select("doc_id", F.posexplode("words").alias("pos", "w0"))
    lead_cols = [
        F.lead("w0", j).over(w_pos).alias(f"w{j}") for j in range(1, shingle)
    ]
    sh_rows = (
        ex.select("doc_id", F.col("w0"), *lead_cols)
        .filter(F.col(f"w{shingle - 1}").isNotNull())
        .select("doc_id", F.xxhash64(*[f"w{j}" for j in range(shingle)]).alias("sh"))
    )
    new_sig = {
        r["doc_id"]: (
            tuple(r[f"h{i}"] for i in range(n_tables)),
            frozenset(r["shingles"]),
        )
        for r in sh_rows.groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64("sh", F.lit(i))).alias(f"h{i}")
                for i in range(n_tables)
            ],
            F.collect_set("sh").alias("shingles"),
        )
        .collect()
    }
    assert ref_sig == new_sig and len(ref_sig) > 0

    # end-to-end: the reference verify on the reference signatures
    ref_toks = shingled
    bands = ref_toks.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.array_min(F.expr(f"transform(shingles, s -> xxhash64(s, {i}))"))
                    for i in range(n_tables)
                ]
            )
        ).alias("tbl", "h"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = ref_toks.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    tb = ref_toks.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    ref_pairs = {
        tuple(r)
        for r in candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", F.round(1.0 - jac, 6).alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") < 0.7)
        .collect()
    }
    new_pairs = {tuple(r) for r in minhash_pairs(docs).collect()}
    assert ref_pairs == new_pairs


def _knn_expr_reference(spark, cand_sets, fit_X, k):
    """The pre-r12 expression form of the q54 top-k tail (explode +
    broadcast fit-row join + struct sort + slice + coalesce padding) —
    kept verbatim as the semantic reference the kernel must hit
    bit-for-bit, including NULL-dist / NaN / tie ordering."""
    import numpy as np
    import pandas as pd

    fit_arrs = spark.createDataFrame(
        pd.DataFrame(
            {
                "fit_idx": np.arange(fit_X.shape[0], dtype=np.int64),
                "fit_arr": fit_X.tolist(),
            }
        ),
        schema="fit_idx long, fit_arr array<double>",
    )
    diff_sq = F.zip_with("arr", "fit_arr", lambda x, y: (x - y) * (x - y))
    dist = F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))
    cands = (
        cand_sets.select("_rid", "arr", F.explode("cand_idx").alias("fit_idx"))
        .join(F.broadcast(fit_arrs), "fit_idx")
        .select(
            "_rid",
            F.struct(dist.alias("d"), F.col("fit_idx").alias("i")).alias("cand"),
        )
    )
    topk = cands.groupBy("_rid").agg(
        F.slice(F.array_sort(F.collect_list("cand")), 1, k).alias("top")
    )
    int32_min = -(2**31)
    # F.get, not [i-1]: under ANSI (Spark 4 default) the production
    # form's [i-1] would THROW on a row with < k candidates — no
    # fixture row ever has fewer, but the documented tail-padding
    # intent (and the kernel) is get-null -> coalesce(nan / int32-min)
    return topk.select(
        "_rid",
        *[
            F.coalesce(F.get("top", i - 1)["d"], F.lit(float("nan"))).alias(f"dist_{i}")
            for i in range(1, k + 1)
        ],
        *[
            F.coalesce(F.get("top", i - 1)["i"].cast("int"), F.lit(int32_min)).alias(
                f"idx_{i}"
            )
            for i in range(1, k + 1)
        ],
    )


def _rows_bitwise_equal(old_rows, new_rows):
    import math
    import struct as _struct

    def canon(rows):
        out = {}
        for r in rows:
            vals = []
            for v in list(r)[1:]:
                if isinstance(v, float):
                    vals.append(_struct.pack("<d", v))  # NaN-safe bit compare
                else:
                    vals.append(v)
            out[r[0]] = tuple(vals)
        return out

    o, n = canon(old_rows), canon(new_rows)
    assert o == n and len(o) > 0
    del math


def test_knn_topk_kernel_matches_expression(spark, sf_dir):
    """q54's kernel tail vs the expression reference on REAL embedding
    rows (incl. any fixture NULL/NaN hostility) with deterministic
    synthetic candidate sets, bit-for-bit."""
    import numpy as np

    from sklearn_raster_spark.utils.fold_kernels import knn_topk_map

    rng = np.random.RandomState(7)
    fit_X = rng.standard_normal((100, 64))
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .limit(800)
    )
    # deterministic pseudo-random candidate sets of varying size
    cand_sets = emb.select(
        F.col("vec_id").alias("_rid"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("arr"),
        F.expr(
            "array_distinct(transform(sequence(1, 1 + pmod(vec_id, 37)), "
            "i -> pmod(xxhash64(vec_id, i), 100)))"
        ).alias("cand_idx"),
    )
    old_rows = _knn_expr_reference(spark, cand_sets, fit_X, 3).collect()
    new_rows = knn_topk_map(cand_sets, fit_X, 3).collect()
    _rows_bitwise_equal(sorted(old_rows), sorted(new_rows))


def test_knn_topk_kernel_hostile_rows(spark):
    """Element-null / NaN / ragged query rows and tie candidates must
    replicate the expression tail exactly: NULL-dist candidates take
    the struct ordering's null-field position, NaN sorts greater than
    every number, ties break by fit_idx, tails pad nan / int32-min."""
    import numpy as np

    from sklearn_raster_spark.utils.fold_kernels import knn_topk_map

    fit_X = np.asarray(
        [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.5, 0.5, 0.5]],
        dtype=np.float64,
    )
    rows = [
        (1, [0.0, 0.0, 0.0], [0, 1, 2, 3]),      # tie between fit 1 and 2
        (2, [float("nan"), 0.0, 0.0], [0, 1]),    # NaN dists
        (3, [1.0, None, 0.0], [0, 1, 2]),         # element null -> NULL dist
        (4, [1.0, 0.0], [0, 3]),                  # ragged (zip_with pads)
        (5, [0.25, 0.25, 0.25], [3]),             # fewer than k candidates
        (6, [float("inf"), 0.0, 0.0], [0, 1, 2, 3]),  # inf dists
    ]
    df = spark.createDataFrame(
        rows, "_rid long, arr array<double>, cand_idx array<bigint>"
    )
    old_rows = _knn_expr_reference(spark, df, fit_X, 3).collect()
    new_rows = knn_topk_map(df, fit_X, 3).collect()
    _rows_bitwise_equal(sorted(old_rows), sorted(new_rows))


def test_compiled_expression_strings_match_column_form(spark):
    """The r12 string-compiled model expressions (numpy_models
    sql_double paths) must produce bit-identical results to the
    chained-Column loops they replaced — awkward literals included
    (negatives, denormals, huge magnitudes, exact dyadics)."""
    import struct as _struct

    import numpy as np
    from pyspark.sql import functions as SF

    from sklearn_raster_spark.estimators.numpy_models import (
        LinearRegressionNP,
        PCANP,
        StandardScalerNP,
    )

    rng = np.random.RandomState(11)
    X = rng.standard_normal((40, 6)) * np.array([1e-300, 1e300, 1.0, 3.7, 1e-7, 42.0])
    cols = [f"f{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float(v) for v in row) for row in rng.standard_normal((25, 6))],
        ", ".join(f"{c} double" for c in cols),
    )

    sc_m = StandardScalerNP().fit(X)
    pca_m = PCANP(n_components=3).fit(X)
    lr_m = LinearRegressionNP().fit(X, rng.standard_normal(40))

    def old_scaler_t(fc):
        return [(SF.col(c) - SF.lit(float(m))) / SF.lit(float(s))
                for c, m, s in zip(fc, sc_m.mean_, sc_m.scale_)]

    def old_scaler_i(fc):
        return [SF.col(c) * SF.lit(float(s)) + SF.lit(float(m))
                for c, s, m in zip(fc, sc_m.scale_, sc_m.mean_)]

    def old_pca_t(fc):
        out = []
        for j in range(pca_m.n_components):
            e = SF.lit(0.0)
            for c, m, v in zip(fc, pca_m.mean_, pca_m.components_[j]):
                e = e + (SF.col(c) - SF.lit(float(m))) * SF.lit(float(v))
            out.append(e)
        return out

    def old_pca_i(fc):
        out = []
        for i in range(pca_m.n_features_in_):
            e = SF.lit(float(pca_m.mean_[i]))
            for c, v in zip(fc, pca_m.components_[:, i]):
                e = e + SF.col(c) * SF.lit(float(v))
            out.append(e)
        return out

    def old_lr(fc):
        coef = np.atleast_2d(lr_m.coef_.T if lr_m.coef_.ndim > 1 else lr_m.coef_)
        intercept = np.atleast_1d(lr_m.intercept_)
        out = []
        for t in range(coef.shape[0]):
            e = SF.lit(float(intercept[t]))
            for c, w in zip(fc, coef[t]):
                e = e + SF.col(c) * SF.lit(float(w))
            out.append(e)
        return out

    pca_cols3 = cols[:3]  # inverse maps 3 pcs -> 6 features
    pairs = [
        (sc_m.transform_to_spark_columns(cols), old_scaler_t(cols)),
        (sc_m.inverse_transform_to_spark_columns(cols), old_scaler_i(cols)),
        (pca_m.transform_to_spark_columns(cols), old_pca_t(cols)),
        (pca_m.inverse_transform_to_spark_columns(pca_cols3), old_pca_i(pca_cols3)),
        (lr_m.to_spark_columns(cols), old_lr(cols)),
    ]
    for new_exprs, old_exprs in pairs:
        assert len(new_exprs) == len(old_exprs)
        sel = []
        for i, (ne, oe) in enumerate(zip(new_exprs, old_exprs)):
            sel += [ne.alias(f"n{i}"), oe.alias(f"o{i}")]
        for row in df.select(*sel).collect():
            for i in range(len(new_exprs)):
                a, b = row[f"n{i}"], row[f"o{i}"]
                assert _struct.pack("<d", a) == _struct.pack("<d", b), (i, a, b)


def test_ppjoin_pairs_self_matches_join(spark, sf_dir):
    """The grouped-Arrow candidate enumeration must emit EXACTLY the
    self-join's pair multiset (same prefix index, same length +
    positional predicates, a<b orientation) — including dropping
    NULL carry keys the equi-join could never match."""
    from collections import Counter

    from sklearn_raster_spark.operators.dedup import (
        ppjoin_pair_pruning,
        ppjoin_prefix_index,
    )
    from sklearn_raster_spark.utils.fold_kernels import ppjoin_pairs_self

    docs = read_table(spark, sf_dir, "documents")
    # hostile rows: NULL source (never equi-joins), duplicate text
    hostile = spark.createDataFrame(
        [
            (900001, None, "alpha beta gamma delta epsilon"),
            (900002, None, "alpha beta gamma delta epsilon"),
            (900003, "srcX", "alpha beta gamma delta zeta"),
            (900004, "srcX", "alpha beta gamma delta zeta"),
        ],
        "doc_id long, source string, text string",
    )
    docs = docs.select("doc_id", "source", "text").unionByName(hostile)
    toks = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        ).alias("ts"),
    )
    prefixed = ppjoin_prefix_index(toks, 0.6, carry=("source",))
    a, b = prefixed.alias("a"), prefixed.alias("b")
    ref = Counter(
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ppjoin_pair_pruning(
                F.col("a.ntok"), F.col("a._rn"), F.col("b.ntok"), F.col("b._rn"), 0.6
            ),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .collect()
    )
    new = Counter(
        (r[0], r[1])
        for r in ppjoin_pairs_self(prefixed, 0.6, group_cols=("source", "tok")).collect()
    )
    assert ref == new and len(new) > 0
    assert (900003, 900004) in new  # hostile dup pair present
    assert (900001, 900002) not in new  # NULL source never joins


def test_ppjoin_pairs_asym_matches_join(spark, sf_dir):
    """Asymmetric variant vs the ip x cp equi-join, exact multiset."""
    from collections import Counter

    from sklearn_raster_spark.operators.corpus import INC_BUCKET, hash_bucket
    from sklearn_raster_spark.operators.dedup import (
        ppjoin_pair_pruning,
        ppjoin_prefix_index,
    )
    from sklearn_raster_spark.utils.fold_kernels import ppjoin_pairs_asym

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).alias("b"),
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        ).alias("ts"),
    )
    prefixed = ppjoin_prefix_index(base.select("doc_id", "b", "ts"), 0.8, carry=("b",))
    ip = prefixed.filter(F.col("b") >= INC_BUCKET).select(
        F.col("doc_id").alias("i_id"),
        F.col("ntok").alias("i_n"),
        F.col("tok").alias("i_tok"),
        F.col("_rn").alias("i_rn"),
    )
    cp = prefixed.filter(F.col("b") < INC_BUCKET).select(
        F.col("doc_id").alias("c_id"),
        F.col("ntok").alias("c_n"),
        F.col("tok").alias("c_tok"),
        F.col("_rn").alias("c_rn"),
    )
    ref = Counter(
        (r[0], r[1])
        for r in ip.join(
            cp,
            (ip.i_tok == cp.c_tok)
            & ppjoin_pair_pruning(ip.i_n, ip.i_rn, cp.c_n, cp.c_rn, 0.8),
        )
        .select("i_id", "c_id")
        .collect()
    )
    new = Counter(
        (r[0], r[1])
        for r in ppjoin_pairs_asym(
            prefixed, 0.8, left_mask_col=F.col("b") >= INC_BUCKET
        ).collect()
    )
    assert ref == new and len(new) > 0
