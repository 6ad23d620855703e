"""Corpus-hygiene operators for LLM training data: boilerplate-passage
detection, incremental (batch-vs-corpus) deduplication, and a
count-min-sketch heavy-hitter surface.

These close the gap between one-shot dedup (operators/dedup.py — a
static corpus deduped against itself) and the way a 100 TB pipeline
actually runs: a boilerplate pass strips over-represented passages
(C4/RefinedWeb-style), every NEW crawl batch is deduped against the
EXISTING corpus without re-processing it, and corpus-wide token
statistics come from fixed-size mergeable sketches because exact
counts no longer fit anywhere.

No reference analog (the reference is a single-snapshot inference
engine, `datasets/_base.py`); the designs are Spark-first:

- boilerplate (q121): shingle document frequency is one explode +
  groupBy; the "boilerplate set" (df >= threshold) is tiny by Zipf's
  law and joined back over the shingle stream. Nothing here holds
  per-doc state: two linear passes and one join.
- incremental dedup (q122): the corpus side is touched exactly once
  (tokenize + explode); the batch side is small. Candidate generation
  joins batch tokens to corpus tokens on the PPJoin prefix (tokens
  rare enough to appear in a prefix under the Jaccard threshold), so
  the join degree is bounded by token rarity, not corpus size — the
  same sub-quadratic argument as q51, but asymmetric (batch x corpus
  instead of corpus x corpus).
- count-min sketch (q123): d x w integer counters built by one
  map-side-combinable groupBy — the sketch is mergeable across
  partitions/days/shards by construction, which is why it (and not an
  exact count) is the 100 TB object. Hash functions are md5-derived so
  the DuckDB oracle reproduces the sketch BIT-FOR-BIT: a sketch
  operator with a full value-level hash grade, not a rows-only waiver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.operators.pipeline import (
    _oracle_bucket,
    hash_bucket,
    word_shingles,
)
from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage

# --- q121: boilerplate passage detection -------------------------------

BOILER_N = 2  # shingle width (words)
BOILER_DF = 40  # a shingle in >= this many distinct docs is boilerplate


@query(
    "q121_boilerplate_passages",
    oracle=f"""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS shingle
        FROM toks, UNNEST(RANGE(1, LEN(ws))) AS t(i)
        WHERE LEN(ws) >= {BOILER_N}
    ),
    boiler AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
    ),
    per AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(*) FILTER (WHERE b.shingle IS NOT NULL) AS n_boiler
        FROM sh s LEFT JOIN boiler b ON s.shingle = b.shingle
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_boiler,
           ROUND(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_frac,
           CAST(n_boiler AS DOUBLE) / n_shingles > 0.5 AS mostly_boiler
    FROM per
    """,
    doc=f"Boilerplate-passage detection (the C4/RefinedWeb cleaning "
        f"step): word {BOILER_N}-gram shingles occurring in >= "
        f"{BOILER_DF} distinct documents are 'boilerplate'; each doc "
        "reports what fraction of its shingle positions are covered by "
        "them. Plan: one tokenize-explode pass (narrow), one "
        "(shingle -> distinct-doc-count) aggregate whose df>=K output "
        "is small by Zipf's law and joins back, one hash aggregate "
        "back per doc. Linear in corpus size, no self-join anywhere — "
        "at 100 TB the boilerplate set is the only globally-shared "
        "state.",
)
def q121_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    with_ws = docs.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= BOILER_N)
    shingles = with_ws.select(
        "doc_id",
        word_shingles(BOILER_N).alias("shingle"),
    )
    # the tokenize+slide lineage feeds both the df aggregate and the
    # per-doc coverage join. LAZY persist (the q149 pattern): the
    # boiler side's build stage runs first and populates the cache as
    # a side effect, so an eager count() materialization pass would be
    # pure overhead; lineage is deterministic (split+slide of parquet
    # text, no RNG/generated ids)
    shingles = shared_lineage(shingles, eager=False)
    boiler = (
        shingles.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("shingle", F.lit(1).alias("_hit"))
    )
    per = (
        shingles.join(boiler, "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"), F.count("_hit").alias("n_boiler"))
    )
    frac = F.col("n_boiler").cast("double") / F.col("n_shingles")
    return per.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(frac, 6).alias("boiler_frac"),
        (frac > 0.5).alias("mostly_boiler"),
    )


# --- q122: incremental batch-vs-corpus dedup ---------------------------

INC_BUCKET = 80  # hash buckets >= this form the "incoming batch" (20%)
INC_JACCARD = 0.9  # near-dup gate vs the existing corpus


@query(
    "q122_incremental_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, {_oracle_bucket('doc_id')} AS b FROM documents
    ),
    t AS (
        SELECT doc_id, b, MD5(text) AS h,
               LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS ts
        FROM d
    ),
    inc AS (SELECT * FROM t WHERE b >= {INC_BUCKET}),
    cor AS (SELECT * FROM t WHERE b < {INC_BUCKET}),
    exact AS (SELECT DISTINCT i.doc_id FROM inc i JOIN cor c ON i.h = c.h),
    near AS (
        SELECT i.doc_id,
               COUNT(*) AS n_near,
               MAX(ROUND(CAST(LEN(LIST_INTERSECT(i.ts, c.ts)) AS DOUBLE)
                   / (LEN(i.ts) + LEN(c.ts) - LEN(LIST_INTERSECT(i.ts, c.ts))), 6))
                   AS best_jaccard
        FROM inc i CROSS JOIN cor c
        WHERE CAST(LEN(LIST_INTERSECT(i.ts, c.ts)) AS DOUBLE)
              / (LEN(i.ts) + LEN(c.ts) - LEN(LIST_INTERSECT(i.ts, c.ts)))
              >= {INC_JACCARD}
        GROUP BY i.doc_id
    )
    SELECT i.doc_id,
           COALESCE(n.n_near, 0) AS n_near,
           COALESCE(n.best_jaccard, 0.0) AS best_jaccard,
           CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
                WHEN n.doc_id IS NOT NULL THEN 'dup_near'
                ELSE 'new' END AS verdict
    FROM inc i
    LEFT JOIN exact e ON i.doc_id = e.doc_id
    LEFT JOIN near n ON i.doc_id = n.doc_id
    """,
    doc=f"Incremental corpus dedup: the {100 - INC_BUCKET}% 'incoming "
        "batch' (deterministic hash split) is deduped AGAINST the "
        "existing corpus — exact (md5 content match) then near "
        f"(token-set Jaccard >= {INC_JACCARD}) — without the corpus "
        "ever joining itself. Candidate pairs come from a PPJoin "
        "prefix join (both sides rank tokens by global document "
        "frequency; a qualifying pair must collide within the first "
        "|d| - ceil(t|d|) + 1 tokens) with length and positional "
        "pruning, then the exact Jaccard verifies candidates only via "
        "array_intersect — q51's sub-quadratic machinery, asymmetric "
        "(batch x corpus). Scale: the corpus side is tokenized once "
        "per batch; join degree is bounded by prefix-token rarity, "
        "not corpus row count. The oracle replicates both gates with "
        "LIST_INTERSECT.",
)
def q122_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # tokens hashed to longs up front (q51's trick: joins/sorts on
    # fixed-width longs; only set SIZES feed the Jaccard)
    base = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).alias("b"),
        F.md5("text").alias("h"),
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        ).alias("ts"),
    )
    # LAZY persist: the exact gate's build stage (inc side) populates
    # the cache before the main action; deterministic lineage
    # (md5/xxhash of parquet text)
    base = shared_lineage(base, eager=False)
    inc = base.filter(F.col("b") >= INC_BUCKET)
    cor = base.filter(F.col("b") < INC_BUCKET)

    # exact gate: content-hash semi join of the small batch side
    exact = (
        inc.join(cor.select(F.col("h").alias("h")), "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_ex", F.lit(1))
    )

    # near gate, PPJoin-pruned (a naive token equi-join degenerates to
    # a cross product when vocab is small — measured 13 s vs 4 s at
    # sf0.1): the SHARED machinery from dedup.py (ppjoin_prefix_index +
    # ppjoin_pair_pruning — q51's exact index and filters, so a pruning
    # fix lands in both graded queries at once), applied asymmetrically:
    # df is computed over batch+corpus so both sides agree on the global
    # token order, then the index splits into batch/corpus sides and
    # only batch x corpus joins — the corpus never self-joins.
    from sklearn_raster_spark.operators.dedup import ppjoin_prefix_index

    # NOTE (r12, measured and rejected): persisting this prefix index
    # for the ip/cp sides halved wall locally at 5-10x the CPU (the
    # q51 finding — cached-stats join planning + lost AQE coalescing);
    # the lazy form keeps the shuffle map side deduped by AQE stage
    # reuse and the CPU budget flat.
    prefixed = ppjoin_prefix_index(base.select("doc_id", "b", "ts"), INC_JACCARD, carry=("b",))
    # r12 OPT (guide §2.5/§4.2): the batch x corpus candidate equi-join
    # on tok is replaced by grouped-Arrow enumeration
    # (fold_kernels.ppjoin_pairs_asym) — identical pruning predicates
    # vectorized per token group instead of a row-at-a-time SMJ whose
    # parallelism is capped by distinct-token count (q51's rationale;
    # the pair multiset is pinned by tests, distinct + exact verify
    # unchanged). The old join form (ip x cp with ppjoin_pair_pruning)
    # remains the semantic reference in git history and q51's comment.
    from sklearn_raster_spark.utils.fold_kernels import ppjoin_pairs_asym

    candidates = (
        ppjoin_pairs_asym(prefixed, INC_JACCARD, left_mask_col=F.col("b") >= INC_BUCKET)
        .select(F.col("id_a").alias("i_id"), F.col("id_b").alias("c_id"))
        .distinct()
    )
    ti = inc.select(
        F.col("doc_id").alias("i_id"), F.col("ts").alias("ts_i"), F.size("ts").alias("i_n")
    )
    tc = cor.select(
        F.col("doc_id").alias("c_id"), F.col("ts").alias("ts_c"), F.size("ts").alias("c_n")
    )
    inter = F.size(F.array_intersect("ts_i", "ts_c"))
    jac = inter.cast("double") / (F.col("i_n") + F.col("c_n") - inter)
    near = (
        candidates.join(ti, "i_id")
        .join(tc, "c_id")
        .filter(jac >= INC_JACCARD)
        .groupBy("i_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.max(F.round(jac, 6)).alias("best_jaccard"),
        )
        .withColumnRenamed("i_id", "doc_id")
    )

    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            F.when(F.col("_ex").isNotNull(), "dup_exact")
            .when(F.col("n_near") > 0, "dup_near")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# --- q123: count-min sketch heavy hitters ------------------------------

CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


def _cms_bucket(row: int, tok) -> F.Column:
    """Bucket of token ``tok`` in sketch row ``row``: md5 of the salted
    token, 8 hex chars (32 bits — exact in BIGINT in both engines),
    mod the row width. Salting by row index gives CMS_D independent
    hash functions from one md5."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(row)), tok)), 1, 8), 16, 10
    ).cast("bigint")
    return F.pmod(h, F.lit(CMS_W))


def _oracle_cms_bucket(row: int, expr: str) -> str:
    return (
        f"CAST(('0x' || SUBSTR(MD5('{row}' || ':' || {expr}), 1, 8)) AS BIGINT) % {CMS_W}"
    )


@query(
    "q123_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
        SELECT tok, i AS row,
               CASE i {' '.join(f"WHEN {i} THEN {_oracle_cms_bucket(i, 'tok')}" for i in range(CMS_D))} END AS bucket
        FROM toks, UNNEST(RANGE({CMS_D})) AS r(i)
    ),
    cms AS (
        SELECT row, bucket, COUNT(*) AS cnt FROM hashed GROUP BY row, bucket
    ),
    exact AS (SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok),
    est AS (
        SELECT e.tok, e.exact_n, MIN(c.cnt) AS est_n
        FROM exact e
        JOIN (
            SELECT tok, i AS row,
                   CASE i {' '.join(f"WHEN {i} THEN {_oracle_cms_bucket(i, 'tok')}" for i in range(CMS_D))} END AS bucket
            FROM exact, UNNEST(RANGE({CMS_D})) AS r(i)
        ) k ON k.tok = e.tok
        JOIN cms c ON c.row = k.row AND c.bucket = k.bucket
        GROUP BY e.tok, e.exact_n
    )
    SELECT tok, CAST(exact_n AS BIGINT) AS exact_n, CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - exact_n AS BIGINT) AS overcount
    FROM est
    """,
    doc=f"Count-min-sketch token frequencies ({CMS_D} rows x {CMS_W} "
        "counters, md5-derived hash family): the bounded-memory "
        "mergeable dual of an exact token count — the object a 100 TB "
        "corpus actually aggregates, since the sketch is a fixed "
        f"{CMS_D}x{CMS_W} integer grid combinable map-side across any "
        "partitioning (days, shards, crawls) while exact vocab counts "
        "keep growing. Deterministic hashing makes the whole sketch "
        "and every min-over-rows estimate reproducible in ANSI SQL, so "
        "this sketch is HASH-GRADED against DuckDB (unlike HLL/KLL "
        "whose internals are engine-specific — q32/q92's rows-only "
        "waivers). The exact count joined beside it is the test-scale "
        "anchor pinning the CMS one-sided error (est >= exact always; "
        "overcount bounded by row collisions).",
)
def q123_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    # LAZY persist (r12 opt, guide §5): the cms BROADCAST build job
    # populates the cache before the exact-count side scans it;
    # deterministic lineage (explode of parquet text)
    toks = shared_lineage(toks, eager=False)

    # sketch: every token occurrence lands in CMS_D (row, bucket) cells;
    # partial aggregation collapses this to <= d*w rows per partition
    # before any shuffle — the mergeability that makes it scale.
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"), _cms_bucket(i, F.col("tok")).alias("bucket")
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.bucket")
    cms = cells.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    keys = exact.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"), _cms_bucket(i, F.col("tok")).alias("bucket")
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("k"),
    ).select("tok", "exact_n", "k.row", "k.bucket")
    est = (
        keys.join(cms, ["row", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        "tok", "exact_n", "est_n", (F.col("est_n") - F.col("exact_n")).alias("overcount")
    )
