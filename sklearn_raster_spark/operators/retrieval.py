"""Lexical retrieval operators: inverted-index construction and BM25
scoring — the keyword-search half of the retrieval surface (the
embedding half is operators/similarity.py: q55/q56/q69/q128).

No reference analog (SURVEY.md §2.4 [extension]). Spark-first design:

- the inverted index (q131) is one explode + one groupBy; posting
  lists are per-token arrays, which at 100 TB become the per-shard
  posting segments a search engine actually stores (the groupBy key
  IS the shard key, so segment construction is map-side combinable
  and each token's postings land on one reducer).
- BM25 (q132) needs only (tf, df, dl, avgdl) — all from two hash
  aggregates over one tokenize pass; the query term list is a literal
  broadcast. The classical idf uses log(); engines differ in libm, so
  the score here uses the LOG-FREE rarity ratio (N - df + .5)/(df + .5)
  (the same monotone core inside the BM25 idf — ordering-equivalent
  for ranking; q96's tf-idf uses the same trick, citing the engine
  determinism argument). Per-term scores are rounded to 6 dp into
  DECIMAL before summation so aggregation order cannot flip a bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage

POSTINGS_CAP = 100  # posting-list prefix kept in the graded output


@query(
    "q131_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    dt AS (SELECT DISTINCT tok, doc_id FROM toks),
    idx AS (
        SELECT tok,
               COUNT(*) AS df,
               ARRAY_TO_STRING(
                   (LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id))[1:{POSTINGS_CAP}],
                   ' '
               ) AS postings
        FROM dt GROUP BY tok
    ),
    occ AS (SELECT tok, COUNT(*) AS n_occurrences FROM toks GROUP BY tok)
    SELECT i.tok, i.df, o.n_occurrences, i.postings
    FROM idx i JOIN occ o ON i.tok = o.tok
    """,
    doc=f"Inverted-index construction (the retrieval-index build step): "
        "token -> (document frequency, total occurrences, sorted "
        f"posting list, graded to the first {POSTINGS_CAP} entries to "
        "bound row width). Plan: one tokenize-explode pass feeds both "
        "the distinct-(token, doc) postings aggregate and the "
        "occurrence counts; the groupBy(token) key is exactly the "
        "posting-segment shard key, so at 100 TB each reducer emits "
        "one token's (or token-range's) complete segment and partial "
        "aggregation combines map-side. Posting lists sort "
        "ascending — delta-encodable, the layout real indexes store — "
        "and are graded as a space-joined STRING (scalar schema: the "
        "driver's canonicalizer cannot sort array cells, round-4 "
        "VERDICT.md item 1), which still checks the posting VALUES "
        "element-for-element, not just counts.",
)
def q131_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # LAZY persist (r12 opt, guide §5): idx and occ race to populate in
    # one job — worst case the cheap explode computes twice in parallel,
    # still cheaper than the serial eager materialization pass
    toks = shared_lineage(toks, eager=False)
    idx = (
        toks.distinct()
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_CAP).cast(
                    "array<string>"
                ),
                " ",
            ).alias("postings"),
        )
    )
    occ = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return idx.join(occ, "tok").select("tok", "df", "n_occurrences", "postings")


BM25_QUERY = ("spark", "query", "fast")  # fixed query term list
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


@query(
    "q132_bm25_retrieval",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) AS n_docs
        FROM dl
    ),
    q(term) AS (VALUES {", ".join(f"('{t}')" for t in BM25_QUERY)}),
    tf AS (
        SELECT doc_id, tok AS term, COUNT(*) AS tf
        FROM toks WHERE tok IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
        GROUP BY doc_id, tok
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * ({BM25_K1} + 1.0))
                   / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
               , 6) AS DECIMAL(18, 6)) AS term_score
        FROM tf t
        JOIN df d ON t.term = d.term
        JOIN dl l ON t.doc_id = l.doc_id
        CROSS JOIN stats s
    ),
    total AS (
        SELECT doc_id,
               CAST(SUM(term_score) AS DOUBLE) AS bm25,
               COUNT(*) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        FROM total
    ) WHERE rn <= {BM25_TOP}
    """,
    doc=f"BM25 keyword retrieval (k1={BM25_K1}, b={BM25_B}): score every "
        f"document against the fixed query {BM25_QUERY!r}, return the "
        f"top {BM25_TOP}. All inputs (tf, df, dl, avgdl) come from two "
        "hash aggregates over ONE tokenize pass with the term filter "
        "pushed into the scan projection; the per-(doc, term) scoring "
        "join touches only docs containing a query term — never the "
        "full corpus per query. The idf uses the LOG-FREE rarity ratio "
        "(N - df + .5)/(df + .5) — the monotone core of BM25's idf, "
        "ranking-equivalent, and deterministic across engines where "
        "libm log() is not (q96's trick). Per-term scores round to "
        "6 dp into DECIMAL before the per-doc sum, so the float "
        "pipeline is hash-graded; top-k executes as "
        "TakeOrderedAndProject, not a global sort.",
)
def q132_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # LAZY persists x3 (r12 opt, guide §5): the stats and df BROADCAST
    # builds are separate jobs that run first and populate toks/dl/tf
    # as a side effect — the three eager count() materialization passes
    # were pure overhead; deterministic lineages (token explode +
    # counting aggregates of parquet text)
    toks = shared_lineage(toks, eager=False)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dl = shared_lineage(dl, eager=False)
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*BM25_QUERY))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = shared_lineage(tf, eager=False)
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    term_score = (
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.round(term_score, 6).cast("decimal(18,6)").alias("term_score"),
        )
    )
    total = scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("double").alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return (
        total.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOP)
        .select("doc_id", "bm25", "n_terms_hit", F.col("rn").cast("int"))
    )
