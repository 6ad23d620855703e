"""Bit-exact Arrow kernels for the sequential-fold vector math.

The engine's cosine / squared-distance folds were built as Catalyst
higher-order functions (``F.aggregate`` over ``zip_with`` products) so
the float operand ORDER matches DuckDB's ``LIST_REDUCE`` exactly —
that is what makes the ANN family hash-gradable. But Spark evaluates
higher-order functions INTERPRETED, one lambda call per array element
(they are outside whole-stage codegen), so a 64-dim fold costs ~64
boxed lambda evaluations per row — measured as the dominant cost of
every pair-scoring query (q57/q100/q155: millions of candidate pairs
x 64 dims).

These kernels compute the IDENTICAL IEEE float64 value with one
vectorized numpy pass per Arrow batch (guide: do the heavy lifting in
native code inside the Python boundary, spark_optimization_guide §4.2):

- products/differences are elementwise float64 ops — each individually
  correctly rounded, exactly like the JVM's ``x.cast(double) *
  y.cast(double)`` per element;
- the left-to-right fold ``acc = (((0.0 + p0) + p1) + ...)`` is
  ``np.cumsum`` over a row PREPENDED with 0.0 — cumsum is defined as
  out[i] = out[i-1] + x[i], the same sequential float64 addition chain
  (the leading 0.0 reproduces the fold's init term, which matters only
  for the sign of an all-(-0.0) row — exactness is exactness);
- NaN/±Inf propagate through numpy arithmetic by the same IEEE rules
  as through the JVM fold.

Semantics preserved from ``zip_with`` + ``aggregate``:
- a NULL vector on either side -> NULL result (arrow_udf validity);
- ragged lengths would null-pad under zip_with (product NULL -> fold
  NULL), so rows whose two arrays differ in length -> NULL;
- element NULLs inside a vector -> NULL result (null product poisons
  the fold). pyarrow cannot distinguish element-NULL from NaN after
  ``to_numpy`` — the kernels check child validity explicitly.

Every kernel is an ``arrow_udf`` (vectorized Arrow-native UDF, Spark
4.1) and shows up in plans as ArrowEvalPython — the engine-wide
Python-boundary contract (tests/test_plan_sweep.py) allows exactly
that node class.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType


def ensure_kernels_importable() -> None:
    """Ship the package to executor Python workers for the active
    session. The kernel closures are pickled by value but resolve
    module globals (np/pa/_list_to_matrix) by reference, so a worker
    whose driver does not run from the repo root (the driver harness,
    the /tmp driver-sim) must have the package zip on its sys.path.
    Idempotent and ~free; called from every factory so a kernel-using
    query works no matter which query ran first in the session."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        from sklearn_raster_spark.session import ensure_workers_can_import

        ensure_workers_can_import(spark)


def _list_to_matrix(arr: pa.Array):
    """(matrix float64 [n, d], row_valid bool [n]) from a list<float*>
    Arrow array — or (None, reason) when rows are ragged/element-null
    and the caller must take the exact per-row fallback.

    row_valid marks rows whose RESULT must be NULL (null list). The
    fast path requires: every non-null row has the same length and no
    element nulls — true for every fixture and fuzz instance (64-dim,
    NaN/Inf hostility but no element holes); anything else falls back.
    """
    if arr.null_count == len(arr):
        return None, "all-null"
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = offsets[1:] - offsets[:-1]
    row_valid = np.ones(len(arr), dtype=bool)
    if arr.null_count:
        row_valid = np.asarray(arr.is_valid())
    d_set = np.unique(lengths[row_valid])
    if len(d_set) != 1:
        return None, "ragged"
    d = int(d_set[0])
    values = arr.values
    if values.null_count:
        return None, "element-nulls"
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64)
    # offsets need not start at 0 (sliced batches); gather per-row
    if arr.null_count or offsets[0] != 0 or offsets[-1] - offsets[0] != len(arr) * d:
        idx = offsets[:-1, None] + np.arange(d)[None, :]
        # null rows may carry arbitrary offsets; clamp to valid range
        idx = np.clip(idx, 0, len(flat) - 1 if len(flat) else 0)
        mat = flat[idx] if len(flat) else np.zeros((len(arr), d))
    else:
        mat = flat.reshape(len(arr), d)
    return (mat, row_valid, d), None


def _fold_pair_slow(a_row, b_row, op) -> float | None:
    """Exact per-row fallback replicating zip_with null-padding and
    element-null poisoning. a_row/b_row are python lists or None."""
    if a_row is None or b_row is None:
        return None
    la, lb = len(a_row), len(b_row)
    n = max(la, lb)
    acc = 0.0
    for i in range(n):
        x = a_row[i] if i < la else None
        y = b_row[i] if i < lb else None
        if x is None or y is None:
            return None
        acc = acc + op(float(x), float(y))
    return acc


def simhash_pack_kernel(bits: int):
    """arrow_udf factory: list<bigint> token hashes -> bigint SimHash
    fingerprint, INTEGER-exact vs the 64-fold expression form
    (dedup.simhash_col): vote_b = (#tokens with bit b set) -
    (#tokens with bit b clear) = 2*ones_b - n, fp = OR of (1<<b) where
    vote_b > 0. Votes are integers, so aggregation order is irrelevant
    and the numpy path is bit-identical, not just close. Replaces
    ``bits`` interpreted F.aggregate folds per document (each one a
    full pass over the token array) with one vectorized pass."""
    ensure_kernels_importable()

    def _pack(th: pa.Array) -> pa.Array:
        if isinstance(th, pa.ChunkedArray):  # pragma: no cover - defensive
            th = th.combine_chunks()
        # offsets are ABSOLUTE positions into .values (also under
        # slicing); cumsum over the full child is safe — unreferenced
        # elements never land between any (start, end) pair
        offsets = th.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        starts, ends = offsets[:-1], offsets[1:]
        # a NULL hash element votes -1 on every bit under the fold
        # (when(NULL == 1, 1).otherwise(-1) takes the otherwise branch)
        # — exactly what hash value 0 does, so fill_null(0) is exact
        flat = th.values.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        n_tok = (ends - starts).astype(np.int64)
        fp = np.zeros(len(th), dtype=np.uint64)
        uflat = flat.view(np.uint64)
        for b in range(bits):
            bitvals = ((uflat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            cs = np.concatenate([[0], np.cumsum(bitvals)])
            ones = cs[ends] - cs[starts]
            votes = 2 * ones - n_tok
            fp |= (votes > 0).astype(np.uint64) << np.uint64(b)
        # a NULL token array folds to fp 0, NOT NULL: the vote
        # aggregate yields NULL, when(NULL > 0) takes the otherwise(0)
        # branch per bit, and the OR of zeros is 0 — identical to the
        # expression form (pinned by test_simhash_kernel_hostile_rows).
        # Forced explicitly: the Arrow spec allows null slots to span
        # arbitrary offsets, which would otherwise leak votes in.
        if th.null_count:
            fp[~np.asarray(th.is_valid())] = 0
        return pa.array(fp.view(np.int64), type=pa.int64())

    return F.arrow_udf(_pack, LongType())


def plane_dots_kernel(planes):
    """arrow_udf factory: list<float*> embedding -> array<double> of
    sequential-fold dot products against ``planes`` (a fixed list of
    fixed-length float lists — e.g. sign-LSH hyperplanes). Bit-identical
    to ``dot_seq(emb, F.array(*lits))`` per plane: elementwise
    float64 products then the left-to-right cumsum fold with init 0.0.
    Replaces len(planes) interpreted folds per row AND removes the
    len(planes) x dim literal arrays from the expression tree (the
    q160-LUT plan-analysis cost, measured in plans/r12).

    zip_with semantics preserved: row shorter/longer than a plane ->
    null-padded products -> NULL dot for that plane; element NULL ->
    NULL; NULL row -> all-NULL entry."""
    ensure_kernels_importable()
    mats = np.asarray(planes, dtype=np.float64)  # [P, d]
    n_planes, d_plane = mats.shape

    def _dots(a: pa.Array) -> pa.Array:
        if isinstance(a, pa.ChunkedArray):  # pragma: no cover - defensive
            a = a.combine_chunks()
        fa, _reason = _list_to_matrix(a)
        if fa is not None and fa[2] == d_plane:
            ma, va, _ = fa
            n = ma.shape[0]
            # one plane at a time through TWO small reused buffers (the
            # [n, P, d] broadcast form allocated ~3 x n*P*d fresh doubles
            # per batch — hundreds of MB at P=80, which this host's
            # fresh-page stalls turn into seconds; see knn_topk_map).
            # buf[:, 0] = 0.0 keeps the fold's init term so an
            # all-(-0.0)-products row folds to +0.0 exactly like
            # F.aggregate(..., lit(0.0), ...).
            out = np.empty((n, n_planes))
            buf = np.empty((n, d_plane + 1))
            buf[:, 0] = 0.0
            for p in range(n_planes):
                np.multiply(ma, mats[p][None, :], out=buf[:, 1:])
                np.cumsum(buf, axis=1, out=buf)
                out[:, p] = buf[:, -1]
                buf[:, 0] = 0.0  # cumsum overwrote the init column
            if va.all():
                flat = pa.array(out.ravel(), type=pa.float64())
                offs = pa.array(
                    np.arange(0, (n + 1) * n_planes, n_planes, dtype=np.int32),
                    type=pa.int32(),
                )
                return pa.ListArray.from_arrays(offs, flat)
            rows = [out[i].tolist() if va[i] else None for i in range(n)]
        else:  # exact fallback: ragged / element nulls / dim mismatch
            rows = []
            for r in a.to_pylist():
                if r is None:
                    rows.append(None)
                    continue
                rows.append(
                    [
                        _fold_pair_slow(r, list(p), lambda x, y: x * y)
                        for p in mats
                    ]
                )
        return pa.array(rows, type=pa.list_(pa.float64()))

    from pyspark.sql.types import ArrayType

    return F.arrow_udf(_dots, ArrayType(DoubleType()))


def pairwise_cosine_table(table: pa.Table) -> pa.Table:
    """Grouped-map kernel (applyInArrow — Arrow validity preserved, so
    element NULLs stay NULL, never NaN) for within-group all-pairs
    cosine: rows (vec_id, embedding) -> rows (id_a, id_b, cosine_raw)
    for every pair with id_a < id_b, where cosine_raw is the UNROUNDED
    sequential-fold cosine — bit-identical to
    ``dot_seq(a, b) / (l2_norm(a) * l2_norm(b))``:

    - per-element float64 casts and products (float32 -> float64 is
      exact), left-to-right cumsum fold with init 0.0 for both the dot
      and the squared norms, np.sqrt == F.sqrt (correctly rounded),
      one IEEE division;
    - element NULLs / ragged lengths take the exact zip_with-replicating
      slow path (NULL product poisons the fold -> NULL cosine);
    - NaN/Inf propagate by IEEE rules either way.

    The caller rounds and thresholds in Spark, so the query's
    round/filter semantics are untouched. This replaces a self-join
    that shipped every embedding once PER PAIR (~group_size copies)
    with one grouped shuffle that ships each embedding ONCE, and the
    interpreted 64-element fold per pair with vectorized numpy
    (guide §8: decide with small rows / move heavy bytes once; §4.2)."""
    ids_arr = table.column("vec_id").combine_chunks()
    emb_arr = table.column("embedding").combine_chunks()
    if isinstance(emb_arr, pa.ChunkedArray):  # pragma: no cover - defensive
        emb_arr = emb_arr.combine_chunks()
    ids = np.asarray(ids_arr.to_numpy(zero_copy_only=False), dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    n = len(ids)
    empty = pa.table(
        {
            "id_a": pa.array([], type=pa.int64()),
            "id_b": pa.array([], type=pa.int64()),
            "cosine_raw": pa.array([], type=pa.float64()),
        }
    )
    if n < 2:
        return empty
    fa, _reason = _list_to_matrix(emb_arr)
    if fa is not None and fa[1].all():
        E = fa[0][order]
        sq = E * E
        with_init = np.concatenate([np.zeros((n, 1)), sq], axis=1)
        norms = np.sqrt(np.cumsum(with_init, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        for i in range(n - 1):
            rest = E[i + 1:]
            prods = E[i][None, :] * rest
            m = prods.shape[0]
            wi = np.concatenate([np.zeros((m, 1)), prods], axis=1)
            dots = np.cumsum(wi, axis=1)[:, -1]
            out_a.append(np.full(m, ids[i], dtype=np.int64))
            out_b.append(ids[i + 1:])
            out_c.append(dots / (norms[i] * norms[i + 1:]))
        return pa.table(
            {
                "id_a": pa.array(np.concatenate(out_a), type=pa.int64()),
                "id_b": pa.array(np.concatenate(out_b), type=pa.int64()),
                "cosine_raw": pa.array(
                    np.concatenate(out_c), type=pa.float64()
                ),
            }
        )
    # exact slow path (row/element nulls or ragged rows in the group)
    rows_py = emb_arr.to_pylist()
    rows = [rows_py[int(i)] for i in order]

    def _norm(r):
        s = _fold_pair_slow(r, r, lambda x, y: x * y)
        return None if s is None else float(np.sqrt(s))

    nrms = [_norm(r) for r in rows]
    recs_a, recs_b, recs_c = [], [], []
    for i in range(n - 1):
        for j in range(i + 1, n):
            d = _fold_pair_slow(rows[i], rows[j], lambda x, y: x * y)
            if d is None or nrms[i] is None or nrms[j] is None:
                c = None
            else:
                c = d / (nrms[i] * nrms[j])
            recs_a.append(int(ids[i]))
            recs_b.append(int(ids[j]))
            recs_c.append(c)
    return pa.table(
        {
            "id_a": pa.array(recs_a, type=pa.int64()),
            "id_b": pa.array(recs_b, type=pa.int64()),
            "cosine_raw": pa.array(recs_c, type=pa.float64()),
        }
    )


def _split_sub_matrices(arr: pa.Array, n_sub: int):
    """From a list<list<double>> column (F.array of the n_sub
    subvector slices) to a list of per-subspace [n, d] float64
    matrices — or None when the layout needs the exact slow path
    (ragged dims, element nulls; never the case on fixture or fuzz
    data, which is uniformly 64-dim)."""
    oo = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    if arr.null_count or ((oo[1:] - oo[:-1]) != n_sub).any():
        return None
    inner = arr.values
    if inner.null_count or inner.values.null_count:
        return None
    io = inner.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = inner.values.to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(arr)
    ref = (oo[:-1, None] + np.arange(n_sub)[None, :]).ravel()
    lens = io[ref + 1] - io[ref]
    d_set = np.unique(lens)
    if len(d_set) != 1:
        return None
    d = int(d_set[0])
    idx = io[ref][:, None] + np.arange(d)[None, :]
    mats = flat[idx].reshape(n, n_sub, d)
    return [mats[:, s, :] for s in range(n_sub)]


def _pq_dists_fast(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """[n, C] sequential-fold squared distances: elementwise (a-b)^2
    in float64 then left-to-right cumsum with init 0.0 — bit-identical
    to _pq_code_terms' zip_with/aggregate expression."""
    diffs = mat[:, None, :] - cents[None, :, :]
    sq = diffs * diffs
    n, c, d = sq.shape
    with_init = np.concatenate([np.zeros((n, c, 1)), sq], axis=2)
    return np.cumsum(with_init, axis=2)[:, :, -1]


def _argmin_first_spark(dists: np.ndarray) -> np.ndarray:
    """First-occurrence argmin with Spark's NaN-is-largest ordering:
    matches array_position(dists, array_min(dists)) - 1 — array_min
    skips NaN (returns the smallest non-NaN; NaN only if all NaN), and
    for an all-NaN row array_position's NaN-equals-NaN ordering finds
    position 1, i.e. code 0 — argmax over an all-False mask is 0 too."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        m = np.nanmin(dists, axis=1)
    eq = dists == m[:, None]
    return np.argmax(eq, axis=1).astype(np.int32), m


def _pq_codes_bests_slow(subs_row, cents_list):
    """Exact per-row replication of _pq_code_terms for one row of
    subvector lists (list of n_sub lists or Nones): returns
    (codes [n_sub, int|None], bests [n_sub, float|None]) with Spark's
    array_min (null-skipping, NaN-greatest) and array_position
    (null-skipping, NaN-equiv-NaN) semantics."""
    codes, bests = [], []
    for s, cents in enumerate(cents_list):
        r = None if subs_row is None else subs_row[s]
        dists = [
            _fold_pair_slow(r, list(c), lambda x, y: (x - y) * (x - y))
            if r is not None
            else None
            for c in cents
        ]
        non_null = [v for v in dists if v is not None]
        if not non_null:
            codes.append(None)
            bests.append(None)
            continue
        finite = [v for v in non_null if not np.isnan(v)]
        best = min(finite) if finite else float("nan")
        pos = None
        for i, v in enumerate(dists):
            if v is None:
                continue
            if (np.isnan(best) and np.isnan(v)) or v == best:
                pos = i
                break
        codes.append(pos)
        bests.append(best)
    return codes, bests


def pq_codes_kernel(codebooks):
    """arrow_udf factory: array(sub0..subN) (one array<array<double>>
    column) -> array<int> PQ codes — the vectorized twin of
    _pq_code_terms' code expressions (one interpreted 16-fold argmin
    per subspace per row). Call as kernel(F.array(*subs))."""
    ensure_kernels_importable()
    cents = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    n_sub = len(cents)

    def _codes(subs: pa.Array) -> pa.Array:
        if isinstance(subs, pa.ChunkedArray):  # pragma: no cover
            subs = subs.combine_chunks()
        n = len(subs)
        mats = _split_sub_matrices(subs, n_sub)
        if mats is not None and all(
            m.shape[1] == cents[s].shape[1] for s, m in enumerate(mats)
        ):
            codes = np.zeros((n, n_sub), dtype=np.int32)
            for s in range(n_sub):
                codes[:, s], _m = _argmin_first_spark(
                    _pq_dists_fast(mats[s], cents[s])
                )
            flat = pa.array(codes.ravel(), type=pa.int32())
        else:  # exact slow path (ragged / element nulls)
            rows = subs.to_pylist()
            flat_list = []
            for r in rows:
                c, _b = _pq_codes_bests_slow(r, cents)
                flat_list.extend(c)
            flat = pa.array(flat_list, type=pa.int32())
        offsets = np.arange(0, (n + 1) * n_sub, n_sub, dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), flat)

    from pyspark.sql.types import ArrayType, IntegerType

    return F.arrow_udf(_codes, ArrayType(IntegerType()))


_INT32_MIN = -(2**31)


def knn_topk_map(cand_sets, fit_X, k: int):
    """mapInArrow top-k over LSH candidate sets — the q54 hot tail.

    ``cand_sets`` rows are (_rid, arr array<double>, cand_idx
    array<bigint>); the result has (_rid, dist_1..k double,
    idx_1..k int) where dist/idx replicate the expression form

        explode(cand_idx) -> join fit_arrs -> struct(sqrt(seq-fold
        (a-b)^2), fit_idx) -> collect_list -> array_sort -> slice(k)
        -> coalesce(nan / int32-min tail padding)

    BIT-exactly: per-candidate distances are the same elementwise
    float64 (a-b)^2 then left-to-right cumsum fold with init 0.0, the
    same correctly-rounded sqrt, and the same (dist, fit_idx) struct
    ordering — NaN greater than every number, NaN tie -> fit_idx,
    NULL dist (element-null/ragged rows, slow path) FIRST like
    Catalyst's InterpretedOrdering sorts null struct fields
    (pinned by tests/test_fold_kernels.py::test_knn_topk_*). What it
    removes, per guide §4.2/§2.3: one interpreted 64-element fold PER
    CANDIDATE PAIR, the explode + broadcast-join against the fit-row
    table, and the per-row collect_list + array_sort — each query row
    crosses the Python boundary ONCE with its candidate-id set (the
    §5-rejected pair-level kernel shipped both vectors per PAIR, which
    is why it lost; this shape ships |rows|, not |pairs|).

    The fit set rides the task closure (it is broadcast-sized by
    construction — the LSH path exists for fit sets too big for a
    BROADCAST JOIN of per-row copies, but the matrix itself is one
    copy per task). Pair math runs in bounded chunks so peak memory
    is ~PAIR_CHUNK x d floats regardless of batch candidate volume."""
    import pyarrow as pa_mod

    ensure_kernels_importable()
    fX = np.ascontiguousarray(np.asarray(fit_X, dtype=np.float64))
    d_fit = fX.shape[1]
    # small chunks + preallocated in-place buffers: the pair math never
    # requests fresh pages from the OS after the first chunk (measured
    # on this host: ~100 MB of FRESH allocations can cost seconds in a
    # bad memory window, while recycled buffers are ~ms — the same
    # reason the JVM fold never hiccuped; also the 100 TB posture,
    # bounded per-task memory)
    pair_chunk = 1 << 14

    def _row_slow(arr_row, cand_row):
        """Exact fallback for one row: replicate zip_with null-padding,
        NULL-dist-first struct ordering (InterpretedOrdering: a null
        field compares SMALLEST), NaN-greatest, fit_idx tie-break."""
        cands = []
        for fi in cand_row or []:
            fi = int(fi)
            frow = fX[fi].tolist() if 0 <= fi < len(fX) else None
            s = _fold_pair_slow(arr_row, frow, lambda x, y: (x - y) * (x - y))
            dist = None if s is None else float(np.sqrt(s))
            cands.append((dist, fi))

        def key(c):
            dist, fi = c
            if dist is None:
                return (0, 0.0, fi)  # null field sorts first
            if np.isnan(dist):
                return (2, 0.0, fi)  # NaN greater than every number
            return (1, dist, fi)

        cands.sort(key=key)
        dists = [c[0] for c in cands[:k]] + [None] * max(0, k - len(cands))
        idxs = [c[1] for c in cands[:k]] + [None] * max(0, k - len(cands))
        # tail padding matches the coalesce(nan / int32-min) wrapper
        dists = [float("nan") if v is None else v for v in dists]
        idxs = [_INT32_MIN if v is None else v for v in idxs]
        return dists, idxs

    def _fn(batches):
        for batch in batches:
            rid = batch.column(0)
            arr = batch.column(1)
            cand = batch.column(2)
            if isinstance(arr, pa_mod.ChunkedArray):  # pragma: no cover
                arr = arr.combine_chunks()
            if isinstance(cand, pa_mod.ChunkedArray):  # pragma: no cover
                cand = cand.combine_chunks()
            n = len(rid)
            fa, _ = _list_to_matrix(arr)
            cand_ok = (
                cand.null_count == 0 and cand.values.null_count == 0
            )
            out_d = np.full((n, k), np.nan)
            out_i = np.full((n, k), _INT32_MIN, dtype=np.int64)
            if fa is not None and fa[1].all() and fa[2] == d_fit and cand_ok:
                Q = fa[0]
                co = cand.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                cflat = cand.values.to_numpy(zero_copy_only=False).astype(np.int64)
                # offsets are absolute child positions (sliced batches)
                lo, hi = co[0], co[-1]
                counts = co[1:] - co[:-1]
                qidx = np.repeat(np.arange(n, dtype=np.int64), counts)
                cid = cflat[lo:hi]
                P = len(cid)
                dists = np.empty(P, dtype=np.float64)
                buf_a = np.empty((pair_chunk, d_fit))
                buf_b = np.empty((pair_chunk, d_fit))
                for s in range(0, P, pair_chunk):
                    e = min(s + pair_chunk, P)
                    m = e - s
                    a = buf_a[:m]
                    b = buf_b[:m]
                    np.take(Q, qidx[s:e], axis=0, out=a)
                    np.take(fX, cid[s:e], axis=0, out=b)
                    np.subtract(a, b, out=a)
                    np.multiply(a, a, out=a)
                    # in-place cumsum is the left-to-right float64 fold
                    # with init 0.0 (F.aggregate / LIST_REDUCE): the
                    # leading 0.0 only matters when the FIRST term is
                    # -0.0, and a square is never -0.0
                    np.cumsum(a, axis=1, out=a)
                    np.sqrt(a[:, -1], out=dists[s:e])
                order = np.lexsort((cid, dists, qidx))
                qs = qidx[order]
                starts = np.searchsorted(qs, np.arange(n), side="left")
                ranks = np.arange(P, dtype=np.int64) - starts[qs]
                keep = ranks < k
                out_d[qs[keep], ranks[keep]] = dists[order][keep]
                out_i[qs[keep], ranks[keep]] = cid[order][keep]
            else:  # exact slow path: ragged / element-null rows
                arrs = arr.to_pylist()
                cands = cand.to_pylist()
                for i in range(n):
                    out_d[i], out_i[i] = _row_slow(arrs[i], cands[i])
            cols = {"_rid": rid}
            for j in range(k):
                cols[f"dist_{j + 1}"] = pa_mod.array(
                    out_d[:, j], type=pa_mod.float64()
                )
            for j in range(k):
                cols[f"idx_{j + 1}"] = pa_mod.array(
                    out_i[:, j].astype(np.int32), type=pa_mod.int32()
                )
            yield pa_mod.record_batch(cols)

    schema = "_rid long, " + ", ".join(
        [f"dist_{j + 1} double" for j in range(k)]
        + [f"idx_{j + 1} int" for j in range(k)]
    )
    return cand_sets.mapInArrow(_fn, schema)


def _ppjoin_block_pairs(ids_a, na_a, rn_a, ids_b, na_b, rn_b, threshold, upper_only):
    """Vectorized PPJoin length + positional pruning over the cross of
    two posting lists (one token's inverted-list group). Exactly the
    predicates of dedup.ppjoin_pair_pruning: J >= t forces
    t*|x| <= |y| <= |x|/t, and a prefix collision at (pa, pb) can add
    at most 1 + min(na-pa, nb-pb) overlap, which must reach
    alpha = ceil(t/(1+t)*(na+nb)). Same float64 arithmetic (int *
    double literal, double ceil) as the Catalyst form. ``upper_only``
    emits only id_a < id_b (the self-join orientation; the predicates
    themselves are symmetric). Blocked so per-iteration temporaries
    stay ~1 MB (allocator-recycled; see knn_topk_map note)."""
    tcoef = threshold / (1.0 + threshold)
    out_a, out_b = [], []
    n_b = len(ids_b)
    if n_b == 0 or len(ids_a) == 0:
        return out_a, out_b
    block = max(1, (1 << 20) // n_b)
    for s in range(0, len(ids_a), block):
        e = min(s + block, len(ids_a))
        ai = na_a[s:e, None].astype(np.float64)
        bj = na_b[None, :].astype(np.float64)
        ok = (bj * threshold <= ai) & (ai * threshold <= bj)
        alpha = np.ceil(tcoef * (ai + bj))
        pos = 1 + np.minimum(
            na_a[s:e, None] - rn_a[s:e, None], na_b[None, :] - rn_b[None, :]
        )
        ok &= pos >= alpha
        if upper_only:
            ok &= ids_a[s:e, None] < ids_b[None, :]
        ii, jj = np.nonzero(ok)
        if len(ii):
            out_a.append(ids_a[s:e][ii])
            out_b.append(ids_b[jj])
    return out_a, out_b


def ppjoin_pairs_self(prefixed, threshold: float, group_cols):
    """Grouped-Arrow PPJoin candidate enumeration — the q51 self-join's
    equi-join on (carry..., tok) re-shaped as groupBy + applyInArrow.

    Why (guide §2.5/§4.2): the SMJ form enumerates every same-token
    collision ROW-AT-A-TIME inside the join operator, and its
    parallelism is bounded by distinct (carry, tok) key groups — on a
    degenerate (small-vocabulary) corpus a handful of hot tokens hold
    most postings and AQE cannot split a single key. Grouping ships
    the SAME slim posting rows once and enumerates the cross
    vectorized; the pruning predicates are numerically identical, the
    emitted multiset of (id_a < id_b) pairs is exactly the join's
    output (pinned by tests/test_fold_kernels.py::test_ppjoin_*), and
    the caller's distinct()/verify are untouched, so the final result
    cannot move. NULL carry keys are filtered first — a NULL never
    equi-joins, and a grouped kernel WOULD otherwise pair them.

    ``prefixed`` must have (doc_id, ntok, _rn, *group_cols)."""
    import pyarrow as pa_mod

    from pyspark.sql import functions as FF

    ensure_kernels_importable()
    thr = float(threshold)

    def fn(table: "pa_mod.Table") -> "pa_mod.Table":
        ids = np.asarray(
            table.column("doc_id").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        na = np.asarray(
            table.column("ntok").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        rn = np.asarray(
            table.column("_rn").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        order = np.argsort(ids, kind="stable")
        ids, na, rn = ids[order], na[order], rn[order]
        out_a, out_b = _ppjoin_block_pairs(ids, na, rn, ids, na, rn, thr, True)
        if not out_a:
            return pa_mod.table(
                {
                    "id_a": pa_mod.array([], type=pa_mod.int64()),
                    "id_b": pa_mod.array([], type=pa_mod.int64()),
                }
            )
        return pa_mod.table(
            {
                "id_a": pa_mod.array(np.concatenate(out_a), type=pa_mod.int64()),
                "id_b": pa_mod.array(np.concatenate(out_b), type=pa_mod.int64()),
            }
        )

    src = prefixed
    for c in group_cols:
        src = src.filter(FF.col(c).isNotNull())
    return src.groupBy(*group_cols).applyInArrow(fn, "id_a long, id_b long")


def ppjoin_pairs_asym(prefixed, threshold: float, left_mask_col):
    """Asymmetric (batch x corpus) variant for q122: group by tok,
    pair rows where ``left_mask_col`` is true against rows where it is
    false — exactly the ip x cp equi-join with ppjoin_pair_pruning, no
    id ordering. Returns (id_a=left/batch id, id_b=right/corpus id)."""
    import pyarrow as pa_mod

    ensure_kernels_importable()
    thr = float(threshold)

    def fn(table: "pa_mod.Table") -> "pa_mod.Table":
        ids = np.asarray(
            table.column("doc_id").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        na = np.asarray(
            table.column("ntok").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        rn = np.asarray(
            table.column("_rn").combine_chunks().to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        lm = np.asarray(
            table.column("_lm").combine_chunks().to_numpy(zero_copy_only=False)
        ).astype(bool)
        out_a, out_b = _ppjoin_block_pairs(
            ids[lm], na[lm], rn[lm], ids[~lm], na[~lm], rn[~lm], thr, False
        )
        if not out_a:
            return pa_mod.table(
                {
                    "id_a": pa_mod.array([], type=pa_mod.int64()),
                    "id_b": pa_mod.array([], type=pa_mod.int64()),
                }
            )
        return pa_mod.table(
            {
                "id_a": pa_mod.array(np.concatenate(out_a), type=pa_mod.int64()),
                "id_b": pa_mod.array(np.concatenate(out_b), type=pa_mod.int64()),
            }
        )

    from pyspark.sql import Column
    from pyspark.sql import functions as FF

    mask = left_mask_col if isinstance(left_mask_col, Column) else FF.col(left_mask_col)
    src = prefixed.withColumn("_lm", mask)
    return src.groupBy("tok").applyInArrow(fn, "id_a long, id_b long")


def pq_lut_kernel(codebooks):
    """arrow_udf factory: array(sub0..subN) -> array<array<double>>
    per-query ADC lookup tables — lut[s][c] = sequential-fold squared
    distance from the row's subvector s to codebook centroid c, the
    exact values of q160's per-subspace lut_col fold expressions (same
    elementwise (a-b)^2, same left-to-right sum). The expression form
    embedded ~S*C centroid literal arrays into the plan; analyzing and
    compiling that tree dominated the whole query (measured ~5 s at
    sf0.1 for FIVE query rows) — the kernel carries the codebooks as
    ordinary Python state instead."""
    ensure_kernels_importable()
    cents = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    n_sub = len(cents)

    def _lut(subs: pa.Array) -> pa.Array:
        if isinstance(subs, pa.ChunkedArray):  # pragma: no cover
            subs = subs.combine_chunks()
        n = len(subs)
        mats = _split_sub_matrices(subs, n_sub)
        rows = []
        if mats is not None and all(
            m.shape[1] == cents[s].shape[1] for s, m in enumerate(mats)
        ):
            dists = [_pq_dists_fast(mats[s], cents[s]) for s in range(n_sub)]
            for i in range(n):
                rows.append([dists[s][i].tolist() for s in range(n_sub)])
        else:
            for r in subs.to_pylist():
                row = []
                for s in range(n_sub):
                    sub_r = None if r is None else r[s]
                    row.append(
                        [
                            _fold_pair_slow(
                                sub_r, list(c), lambda x, y: (x - y) * (x - y)
                            )
                            if sub_r is not None
                            else None
                            for c in cents[s]
                        ]
                    )
                rows.append(row)
        return pa.array(rows, type=pa.list_(pa.list_(pa.float64())))

    from pyspark.sql.types import ArrayType

    return F.arrow_udf(_lut, ArrayType(ArrayType(DoubleType())))


def pq_sqerr_kernel(codebooks):
    """arrow_udf factory: array(sub0..subN) -> double total
    quantization error — sum over subspaces (in subspace order) of the
    row's min squared distance, matching q135's ``b0 + b1 + ...``
    chain of array_min terms exactly (sequential float64 adds)."""
    ensure_kernels_importable()
    cents = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    n_sub = len(cents)

    def _sqerr(subs: pa.Array) -> pa.Array:
        if isinstance(subs, pa.ChunkedArray):  # pragma: no cover
            subs = subs.combine_chunks()
        mats = _split_sub_matrices(subs, n_sub)
        if mats is not None and all(
            m.shape[1] == cents[s].shape[1] for s, m in enumerate(mats)
        ):
            acc = None
            for s in range(n_sub):
                _c, m = _argmin_first_spark(_pq_dists_fast(mats[s], cents[s]))
                acc = m if acc is None else acc + m
            return pa.array(acc, type=pa.float64())
        out = []
        for r in subs.to_pylist():
            _c, bests = _pq_codes_bests_slow(r, cents)
            acc = 0.0
            for b in bests:
                if b is None:
                    acc = None
                    break
                acc = acc + b
            out.append(acc)
        return pa.array(out, type=pa.float64())

    return F.arrow_udf(_sqerr, DoubleType())
