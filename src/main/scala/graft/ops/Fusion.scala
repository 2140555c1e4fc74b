package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.search.{BM25Weighting, Searcher, Weighting}

/** Rank fusion for hybrid retrieval — combining the engine's lexical BM25
  * top-k with embedding-cosine top-k over the same document ids.
  *
  * Method: Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009
  * — public method): fused(d) = sum over lists L of 1 / (kRrf + rank_L(d)),
  * the standard kRrf = 60. RRF is score-scale-free, which is exactly what a
  * lexical x vector combination needs (BM25 and cosine live on unrelated
  * scales), and is the fusion every current hybrid-search system ships.
  *
  * Scale shape: the INPUTS are already bounded top-k lists (k rows each —
  * the distributed work is the upstream search/ANN probe), so ranking them
  * with an unpartitioned window over <= sum(k) rows is the right plan: the
  * window, union and group-by all run over driver-bounded row counts while
  * the heavy scans stay in the upstream operators. Nothing here is ever
  * O(corpus).
  */
object Fusion {

  /** RRF over ranked lists. Each input df carries (id, score); rank within
    * a list = row_number by (score desc, id asc). Returns (id, rrf,
    * n_lists) for every id present in at least one list. */
  def rrf(lists: Seq[DataFrame], kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrf of zero lists")
    require(kRrf >= 1, s"kRrf must be >= 1: $kRrf")
    val contribs = lists.map { df =>
      df.select(col("id").cast("long").as("id"),
          col("score").cast("double").as("score"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("id").asc)))
        .select(col("id"),
          (lit(1.0) / (lit(kRrf.toDouble) + col("rank"))).as("contrib"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy("id")
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_lists"))
  }

  /** Deterministic ICT-style positive pairs for retriever training (the
    * Inverse Cloze Task, Lee et al. 2019 "Latent Retrieval for Weakly
    * Supervised Open Domain QA" §3.3, the shape Contriever-style
    * self-supervised training consumes: a crop of a document as the
    * pseudo-query, the remainder as its positive passage). The paper
    * crops a RANDOM sentence; a 100 TB pipeline wants the crop to be a
    * pure function of content so re-runs and retries emit identical
    * pairs — so the crop is pinned: the first ceil(n·cropFrac) word
    * tokens are the query, the rest the passage. Docs with < 2 tokens
    * produce no pair (nothing to hold out). Output (id, query, passage,
    * n_tokens). A narrow per-row transform — no shuffle, no UDF, all
    * codegen'd array built-ins; pairs with a hard-negative column can be
    * had by joining [[hardNegatives]] output on id. */
  def ictPairs(df: DataFrame, idCol: String, textCol: String,
               cropFrac: Double = 0.5): DataFrame = {
    require(cropFrac > 0.0 && cropFrac < 1.0, s"cropFrac in (0,1): $cropFrac")
    val toks = expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)")
    val n = size(col("w"))
    df.select(col(idCol).cast("long").as("id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("q",
        least(ceil(n.cast("double") * lit(cropFrac)).cast("int"), n - 1))
      .select(col("id"),
        array_join(slice(col("w"), lit(1), col("q")), " ").as("query"),
        array_join(slice(col("w"), col("q") + 1, n - col("q")), " ").as("passage"),
        n.cast("long").as("n_tokens"))
  }

  /** Hard-negative mining for retrieval-model training (the DPR recipe,
    * Karpukhin et al. 2020 §3.2, refined by ANCE: the strongest training
    * negatives are docs the lexical retriever ranks high that are NOT
    * semantically relevant). Input `lexical` is a bounded ranked list
    * (id, score) — normally the engine's BM25 top-k; every candidate gets
    * its embedding cosine to the query vector, and ids with
    * sim >= simCutoff (likely positives) are dropped. Output
    * (id, bm25_rank, bm25_score, sim) ordered by bm25_rank — the
    * (query, negative) pair shape contrastive training consumes.
    *
    * Scale shape: the corpus-sized work is the upstream top-k search; here
    * the candidate list is k rows, broadcast into the embedding join, so
    * the cosine touches only k vectors — never a corpus scan. The
    * rank window runs over the same k rows. Candidates without an
    * embedding row are dropped (inner join — pinned). */
  def hardNegatives(lexical: DataFrame, emb: DataFrame, idCol: String,
                    vecCol: String, queryVec: Array[Float],
                    simCutoff: Double): DataFrame = {
    val lex = lexical.select(col("id").cast("long").as("id"),
        col("score").cast("double").as("bm25_score"))
      .withColumn("bm25_rank",
        row_number().over(Window.orderBy(col("bm25_score").desc, col("id").asc)))
    val sims = emb
      .join(broadcast(lex.select(col("id"))), emb(idCol).cast("long") === col("id"))
      .select(col("id"), Similarity.cosineCol(col(vecCol), queryVec).as("sim"))
    lex.join(sims, Seq("id"))
      .filter(col("sim") < simCutoff)
      .select(col("id"), col("bm25_rank"), col("bm25_score"), col("sim"))
      .orderBy(col("bm25_rank"))
  }

  /** Hybrid top-k: the engine's BM25 hits for `query` fused with exact
    * cosine top-k around `queryVec`, RRF-combined on a shared id space.
    *
    * `idMap` maps the index's dense docId to the embedding table's id
    * (docId, id) — e.g. parsed from a stored field; pass null when the
    * index was built with docId == embedding id. Each side contributes its
    * top `kPer` candidates; output is the fused top `k`.
    */
  def hybridTopK(spark: SparkSession, handle: Searcher.IndexHandle,
                 query: String, idMap: DataFrame,
                 emb: DataFrame, idCol: String, vecCol: String,
                 queryVec: Array[Float], k: Int = 10, kPer: Int = 100,
                 kRrf: Int = 60,
                 weighting: Weighting = BM25Weighting): DataFrame = {
    val hits0 = Searcher.search(spark, handle, query, kPer, weighting = weighting)
    val lexical =
      (if (idMap == null) hits0.select(col("docId").as("id"), col("score"))
       else hits0.join(idMap, Seq("docId")).select(col("id"), col("score")))
    val vector = Similarity.cosineTopK(emb, idCol, vecCol, queryVec, kPer)
      .select(col("id"), col("sim").as("score"))
    rrf(Seq(lexical, vector), kRrf)
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
  }
}
