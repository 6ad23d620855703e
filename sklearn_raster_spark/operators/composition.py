"""End-to-end training-data pipeline composition (round-4 VERDICT.md
item 8 — depth over breadth): ONE query chains the corpus-hygiene
stages a 100 TB crawl actually runs, graded by ONE DuckDB oracle that
reproduces every stage:

    crawl (documents)
      -> clean        (q121's boilerplate coverage, drop mostly-boiler)
      -> exact dedup  (q50's digest keeper, min doc_id wins)
      -> split        (q72's deterministic hash split)
      -> decontaminate(q101's shingle join, REVERSED: drop train docs
                       that leak any eval 5-gram — the production
                       direction: protect the eval set)
      -> mix          (q114's source weights as per-source quotas in
                       md5-pseudorandom order)
      -> pack         (q102's integer concat-and-chunk bins)
      -> summary      (per (split, source): docs, bins, tokens, and a
                       doc_id checksum pinning MEMBERSHIP, not just
                       counts)

No reference analog (SURVEY.md §2.4 [extension]); the single-query
form exists because stage boundaries are where real pipelines silently
diverge (a dedup that runs before cleaning keeps different docs than
one after). Composing them in one DAG under one oracle pins the exact
stage ORDER, not just each stage alone.

Scale shape: the whole chain is linear passes + broadcast joins +
per-key windows — tokenize feeds both shingle widths from one scan
lineage, the boilerplate and eval-shingle sets are the only global
state (both Zipf-small, broadcast), dedup/quota/pack are per-key
windows (WindowGroupLimit-prunable), and nothing self-joins. Each
stage strictly shrinks the data, so the expensive early passes run on
the full corpus exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.operators.pipeline import (
    PACK_TARGET_TOKENS,
    SHINGLE_N,
    SPLIT_BOUNDS,
    _mix_weight_sql,
    _oracle_bucket,
    mix_weight_col,
    train_val_test,
    word_shingles,
)
from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage

CLEAN_MAX_BOILER = 0.5  # q121's mostly_boiler threshold
# Boilerplate document-frequency threshold as a PERCENT of corpus
# size (8% = q121's absolute BOILER_DF=40 at its 500-doc fixture).
# q121 keeps the absolute form (its operator contract); the
# composition MUST use the relative form — the first derived-sf1 run
# of this query returned ZERO rows because an absolute df=40 marks
# essentially every common bigram as boilerplate in a 50k-doc corpus
# and the clean stage then dropped all 50k docs. An absolute
# threshold is a fixture constant; a pipeline constant must scale
# with the corpus it cleans. Kept as an integer percent so both
# engines evaluate df*100 >= pct*N in exact integer arithmetic (a
# float 0.08*N differs between engines at the boundary).
CLEAN_BOILER_PCT = 8
MIX_QUOTA_UNIT = 15  # docs kept per (split, source) per unit of weight


def _shingle_expr(n: int):
    """n-word shingles of the pre-split ws array — the shared
    definition from pipeline.word_shingles (q121/q101's expression)."""
    return word_shingles(n)


@query(
    "q149_pipeline_composition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, text, STRING_SPLIT(text, ' ') AS ws
        FROM documents
    ),
    sh2 AS (
        SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS shingle
        FROM toks, UNNEST(RANGE(1, LEN(ws))) AS t(i)
        WHERE LEN(ws) >= 2
    ),
    boiler AS (
        SELECT shingle FROM sh2 GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) * 100 >=
               {CLEAN_BOILER_PCT} * (SELECT COUNT(*) FROM documents)
    ),
    frac AS (
        SELECT s.doc_id,
               CAST(COUNT(*) FILTER (WHERE b.shingle IS NOT NULL) AS DOUBLE)
                   / COUNT(*) AS boiler_frac
        FROM sh2 s LEFT JOIN boiler b ON s.shingle = b.shingle
        GROUP BY s.doc_id
    ),
    clean AS (
        SELECT t.* FROM toks t LEFT JOIN frac f ON t.doc_id = f.doc_id
        WHERE COALESCE(f.boiler_frac, 0) <= {CLEAN_MAX_BOILER}
    ),
    dedup AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY MD5(text) ORDER BY doc_id) AS rd
            FROM clean
        ) WHERE rd = 1
    ),
    assigned AS (
        SELECT *,
               CASE WHEN {_oracle_bucket('doc_id')} < {SPLIT_BOUNDS[0]} THEN 'train'
                    WHEN {_oracle_bucket('doc_id')} < {SPLIT_BOUNDS[1]} THEN 'val'
                    ELSE 'test' END AS split
        FROM dedup
    ),
    shn AS (
        SELECT doc_id, split,
               ARRAY_TO_STRING(ws[i:i+{SHINGLE_N - 1}], ' ') AS shingle
        FROM assigned, UNNEST(RANGE(1, LEN(ws) - {SHINGLE_N - 2})) AS t(i)
        WHERE LEN(ws) >= {SHINGLE_N}
    ),
    eval_sh AS (SELECT DISTINCT shingle FROM shn WHERE split <> 'train'),
    contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM shn s JOIN eval_sh e ON s.shingle = e.shingle
        WHERE s.split = 'train'
    ),
    decon AS (
        SELECT * FROM assigned
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    quota AS (
        SELECT * FROM (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY split, source
                       ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rq,
                   {_mix_weight_sql('source')} AS w
            FROM decon
        ) WHERE rq <= w * {MIX_QUOTA_UNIT}
    ),
    packed AS (
        SELECT split, source, doc_id, LEN(ws) AS n_tokens,
               CAST(FLOOR(CAST(SUM(LEN(ws)) OVER (
                   PARTITION BY split, source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - LEN(ws) AS DOUBLE) / {PACK_TARGET_TOKENS}) AS BIGINT) AS bin_id
        FROM quota
    )
    SELECT split, source,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS docid_sum
    FROM packed
    GROUP BY split, source
    """,
    doc="END-TO-END pipeline composition: clean (drop docs whose "
        "coverage by boilerplate bigrams — those in >= "
        f"{CLEAN_BOILER_PCT}% of the CORPUS, a relative threshold "
        "because an absolute one empties the pipeline at 100x scale "
        f"— exceeds {CLEAN_MAX_BOILER}) -> "
        "exact-dedup (min doc_id per md5 digest) -> deterministic "
        "hash split -> decontaminate (drop any TRAIN doc sharing a "
        f"{SHINGLE_N}-gram with a val/test doc — q101 reversed, the "
        "production direction) -> source-weighted mix quota "
        f"({MIX_QUOTA_UNIT} docs per weight unit per (split, source) "
        "in md5-pseudorandom order) -> per-(split, source) "
        "concat-and-chunk packing -> per-(split, source) summary "
        "whose docid_sum checksum pins stage-order-sensitive "
        "MEMBERSHIP, not just counts. One DAG, one oracle: the stage "
        "boundaries (dedup AFTER clean, decontaminate AFTER split, "
        "quota BEFORE pack) are exactly what the composed grade "
        "verifies that the per-stage grades (q121/q50/q72/q101/q114/"
        "q102) cannot. Every stage is a linear pass, a broadcast of a "
        "Zipf-small set, or a per-key window; data strictly shrinks "
        "stage over stage.",
)
def q149_pipeline_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # corpus size for the relative boilerplate threshold: one
    # driver-side count job at plan-build time (answered from parquet
    # metadata for a bare scan; still a job, and a real scan if
    # read_table ever gains a filter/transform).
    # df*100 >= pct*N in integers == the oracle's HAVING, exactly
    n_docs = docs.count()
    base = docs.select("doc_id", "source", "text", F.split("text", " ").alias("ws"))
    base = shared_lineage(base, eager=False)  # feeds stage 1, dedup, shingles, packing
    # r12 OPT (guide §2.3, shuffle fewer bytes): nothing past
    # stage_dedup reads `text` (split/quota key on doc_id, decon and
    # packing on ws), yet it rode the decon anti-join and the quota
    # window shuffles — the heaviest column in the carrier. Dropping
    # it here cannot change any aggregate (column is unused) and the
    # oracle hash pins that. The stages themselves keep the full
    # carrier contract for recomposition (tests/test_round6.py).
    return stage_pack_summary(
        stage_quota(
            stage_decontaminate(
                stage_split(stage_dedup(stage_clean(base, n_docs)).drop("text"))
            )
        )
    )


# Each stage is (DataFrame in, DataFrame out) over the carrier schema
# (doc_id, source, text, ws [, split]) so tests can recompose them —
# tests/test_round6.py chains them in the WRONG order and asserts the
# summary checksum moves, proving the oracle pins stage order.


def stage_clean(base: DataFrame, n_docs: int) -> DataFrame:
    """Drop docs whose boilerplate-bigram coverage exceeds the q121
    threshold; boilerplate = bigram in >= CLEAN_BOILER_PCT% of docs."""
    boiler_df_min = -(-CLEAN_BOILER_PCT * n_docs // 100)
    sh2 = base.filter(F.size("ws") >= 2).select(
        "doc_id", _shingle_expr(2).alias("shingle")
    )
    sh2 = shared_lineage(sh2, eager=False)
    boiler = (
        sh2.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= boiler_df_min)
        .select("shingle", F.lit(1).alias("_hit"))
    )
    frac = (
        sh2.join(boiler, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            (F.count("_hit").cast("double") / F.count(F.lit(1))).alias("boiler_frac")
        )
    )
    return (
        base.join(frac, "doc_id", "left")
        .filter(F.coalesce("boiler_frac", F.lit(0.0)) <= CLEAN_MAX_BOILER)
        .drop("boiler_frac")
    )


def stage_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup, min doc_id keeps (q50's keeper rule)."""
    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        df.withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") == 1)
        .drop("rd")
    )


def stage_split(df: DataFrame) -> DataFrame:
    """Assign the deterministic hash split (q72)."""
    return df.withColumn("split", train_val_test(df, F.col("doc_id")))


def stage_decontaminate(df: DataFrame) -> DataFrame:
    """Drop TRAIN docs sharing any SHINGLE_N-gram with a val/test doc
    (q101 reversed); expects the split column assigned."""
    assigned = shared_lineage(df, eager=False)
    shn = assigned.filter(F.size("ws") >= SHINGLE_N).select(
        "doc_id", "split", _shingle_expr(SHINGLE_N).alias("shingle")
    )
    shn = shared_lineage(shn, eager=False)
    eval_sh = shn.filter(F.col("split") != "train").select("shingle").distinct()
    contaminated = (
        shn.filter(F.col("split") == "train")
        .join(eval_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return assigned.join(contaminated, "doc_id", "left_anti")


def stage_quota(df: DataFrame) -> DataFrame:
    """Source-weighted mix quota (q114's weights via the shared
    mix_weight_col) per (split, source) in md5-pseudorandom order."""
    weight = mix_weight_col("source")
    wq = Window.partitionBy("split", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        df.withColumn("rq", F.row_number().over(wq))
        .filter(F.col("rq") <= weight * MIX_QUOTA_UNIT)
        .drop("rq")
    )


def stage_pack_summary(df: DataFrame) -> DataFrame:
    """Pack per (split, source) into q102's integer bins, then the
    per-(split, source) summary with the docid_sum membership pin."""
    wp = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = df.select(
        "split",
        "source",
        "doc_id",
        F.size("ws").alias("n_tokens"),
    ).withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(wp) - F.col("n_tokens")).cast("double")
            / PACK_TARGET_TOKENS
        ).cast("bigint"),
    )
    return packed.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("doc_id").cast("bigint").alias("docid_sum"),
    )
