package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.IndexBuilder
import graft.model.CorpusRow

/** Key-term extraction + more-like-this (the reference's classify surface:
  * [W] whoosh/classify.py `Expander`/`Bo1Model`, `Searcher.key_terms` /
  * `key_terms_from_text` / `more_like`; reconstruction per SURVEY.md §0 —
  * the reference tree is empty, semantics pinned by the in-repo oracle).
  *
  * Decision D11 (pinned): Bo1 divergence-from-randomness scores,
  * UN-normalized (Whoosh's normalizer divides every score by the same
  * constant — rank-invariant — so we pin the raw form):
  *
  *   f        = cf / N            (term's collection frequency / doc count)
  *   score(t) = wt * log2((1+f)/f) + log2(1+f)
  *
  * where wt = the term's total weight (sum of tf) within the selected
  * docs/text. log2(x) is computed as ln(x)/ln(2) in exactly that order on
  * every path (driver, executor column expressions, and the DuckDB oracle)
  * so scores are bit-comparable under the r4/r6 rounding protocol.
  * Candidate terms must exist in the lexicon (cf > 0); ties break
  * (score desc, term asc).
  *
  * Scale shape: `forDocs` is fully relational — a pruned docstats key
  * lookup, a broadcast semi-join against the corpus (the content table is
  * never scanned for more than the requested keys' columns), executor-side
  * tokenization, one groupBy-term aggregation, and one narrow lexicon scan.
  * Nothing corpus-sized ever reaches the driver.
  */
object KeyTerms {

  private val Ln2 = math.log(2.0)

  /** Bo1 score of one term (decision D11). */
  def bo1(weightInTop: Double, cf: Long, numDocs: Long): Double = {
    val f = cf.toDouble / numDocs
    weightInTop * (math.log((1.0 + f) / f) / Ln2) + (math.log(1.0 + f) / Ln2)
  }

  /** pruned lexicon lookup: term -> (df, cf) for the given terms (terms
    * absent from the lexicon are dropped — they can't be key terms) */
  def lexStats(spark: SparkSession, handle: Searcher.IndexHandle,
               terms: Set[String]): Map[String, (Long, Long)] =
    Searcher.termStats(spark, handle, terms).map { case (t, s) => t -> ((s.df, s.cf)) }

  /** Whoosh `key_terms_from_text`: top `numTerms` Bo1-scored terms of one
    * analyzed text. Driver-side — bounded by a single document's vocabulary
    * plus one pruned lexicon scan. */
  def fromText(spark: SparkSession, handle: Searcher.IndexHandle, text: String,
               numTerms: Int = 5): Seq[(String, Double)] = {
    val tf = scala.collection.mutable.HashMap.empty[String, Int]
    handle.chain.tokenize(text).foreach(t => tf.update(t.term, tf.getOrElse(t.term, 0) + 1))
    val stats = lexStats(spark, handle, tf.keySet.toSet)
    val n = handle.stats.numDocs
    tf.iterator.flatMap { case (t, w) =>
      stats.get(t).collect { case (_, cf) if cf > 0 => t -> bo1(w.toDouble, cf, n) }
    }.toSeq.sortBy { case (t, s) => (-s, t) }.take(numTerms)
  }

  /** Whoosh `Searcher.key_terms(docnums, ...)`: Bo1 key terms of a doc set.
    * Driver-held id lists go through the small-set overload below; this
    * Dataset form is the scale path — the doc set may be arbitrarily large
    * (e.g. `Searcher.matchingIds` output), joined relationally, never a
    * Catalyst IN-literal. Returns (term, score) top `numTerms`. */
  def forDocs(spark: SparkSession, handle: Searcher.IndexHandle,
              corpus: Dataset[CorpusRow], docIds: Dataset[java.lang.Long],
              numTerms: Int): DataFrame = {
    import spark.implicits._
    val keys = handle.docstats
      .join(docIds.toDF("docId"), Seq("docId"))
      .select("repo", "path", "commit")
    val chain = handle.chain
    val weights = corpus.toDF()
      .join(keys, Seq("repo", "path", "commit"))
      .select($"content").as[String]
      .flatMap(c => chain.tokenize(c).iterator.map(_.term))
      .groupBy($"value".as("term"))
      .agg(count(lit(1)).cast("double").as("wt"))
    scoreWeights(handle, weights, numTerms)
  }

  /** small driver-held id sets (hit lists): pruned pushed-IN docstats
    * lookup + broadcast of the <=|ids| keys */
  def forDocs(spark: SparkSession, handle: Searcher.IndexHandle,
              corpus: Dataset[CorpusRow], docIds: Seq[Long],
              numTerms: Int = 5): DataFrame = {
    import spark.implicits._
    require(docIds.size <= 100000,
      "driver-held id list too large - pass a Dataset[java.lang.Long] instead")
    val keys = handle.docstats
      .filter(col("docId").isin(docIds: _*))
      .select("repo", "path", "commit")
    val chain = handle.chain
    val weights = corpus.toDF()
      .join(broadcast(keys), Seq("repo", "path", "commit"))
      .select($"content").as[String]
      .flatMap(c => chain.tokenize(c).iterator.map(_.term))
      .groupBy($"value".as("term"))
      .agg(count(lit(1)).cast("double").as("wt"))
    scoreWeights(handle, weights, numTerms)
  }

  /** Bo1-score a (term, wt) relation against the lexicon and keep the top
    * `numTerms`. The lexicon side is a narrow (term, df, cf) scan; the
    * weights side is broadcast when small (Catalyst decides via AQE). */
  private def scoreWeights(handle: Searcher.IndexHandle, weights: DataFrame,
                           numTerms: Int): DataFrame = {
    val n = handle.stats.numDocs.toDouble
    val f = col("cf").cast("double") / lit(n)
    val score =
      col("wt") * (log((lit(1.0) + f) / f) / lit(Ln2)) + (log(lit(1.0) + f) / lit(Ln2))
    weights.join(handle.lexicon.select("term", "cf"), Seq("term"))
      .filter(col("cf") > 0)
      .withColumn("score", score)
      .select(col("term"), col("score"))
      .orderBy(col("score").desc, col("term").asc)
      .limit(numTerms)
  }

  /** the expansion query behind more-like-this: OR of the source doc's key
    * terms, each boosted by its Bo1 score ([W] whoosh/searching.py
    * `more_like`: Or([Term(field, word, boost=weight)])) */
  def moreLikeThisQuery(spark: SparkSession, handle: Searcher.IndexHandle,
                        corpus: Dataset[CorpusRow], docId: Long,
                        numTerms: Int = 5): Q = {
    import spark.implicits._
    val keys = handle.docstats
      .filter(col("docId") === docId)
      .select("repo", "path", "commit")
    val texts = corpus.toDF()
      .join(broadcast(keys), Seq("repo", "path", "commit"))
      .select($"content").as[String].collect()
    if (texts.isEmpty) return QEmpty
    val kts = fromText(spark, handle, texts.head, numTerms)
    if (kts.isEmpty) QEmpty
    else QOr(kts.iterator.map { case (t, w) => QTerm(t, Q.DefaultField, w) }.toList)
  }

  /** Whoosh `more_like`: top-k docs scoring highest on the source doc's
    * boosted key-term OR query, the source doc itself masked out. */
  def moreLikeThis(spark: SparkSession, handle: Searcher.IndexHandle,
                   corpus: Dataset[CorpusRow], docId: Long,
                   numTerms: Int = 5, k: Int = 10): Dataset[Searcher.SearchHit] = {
    import spark.implicits._
    val q = moreLikeThisQuery(spark, handle, corpus, docId, numTerms)
    Searcher.searchQ(spark, handle, q, k + 1)
      .filter($"docId" =!= docId)
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }
}
