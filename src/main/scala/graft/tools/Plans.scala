package graft.tools

import org.apache.spark.sql.SparkSession

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.search.Searcher

/** Physical-plan inspection (SURVEY.md §4.2 evidence): prints
  * explain("formatted") for the query path so pushdown / pruning /
  * exchange structure is reviewable. Not part of the driver contract. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ix = "/tmp/graft-plans-ix"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(ix), spark.sparkContext.hadoopConfiguration)
    // rebuild when absent OR a stale on-disk format (Searcher.open fails
    // fast on foreign layouts, so the cache must migrate here)
    val record = new org.apache.hadoop.fs.Path(IndexBuilder.statsPath(ix))
    val stale = fs.exists(record) &&
      IndexBuilder.readStats(fs, ix).formatVersion != graft.model.IndexStats.CurrentFormat
    if (stale) fs.delete(new org.apache.hadoop.fs.Path(ix), true)
    if (stale || !fs.exists(record)) {
      IndexBuilder.build(spark, CorpusSource.synth(spark, 20000, 42L, 8), ix,
        IndexConfig(segSize = 2048))
    }
    val handle = Searcher.open(spark, ix)

    println("==== lexicon df lookup plan (expect PushedFilters: In(term, ...)) ====")
    handle.lexiconRows.filter(org.apache.spark.sql.functions.col("term")
      .isin("w0001", "w0042")).explain("formatted")

    // each query's tasks: whole segments, packed by the bytes the commit
    // record lists, then its plan (kernel + TakeOrderedAndProject, no
    // Exchange)
    Seq("w0001 OR w0042" -> "full search",
      "* NOT w0001" -> "match-all (D14: PERSISTED Every pseudo rows, no docstats relation)",
      "w0001 ONEAR/4 w0042" -> "span query (same read + kernel shape as AND/OR)").foreach {
      case (q, title) =>
        println(s"==== $title: '$q' ====")
        Searcher.segmentGroups(spark, Seq(graft.search.Q.DefaultField -> handle))
          .zipWithIndex.foreach { case (g, i) =>
            println(s"task $i: segments ${g.map(_._1).mkString(",")}, " +
              s"${g.flatMap(_._2).map(_._3).sum} bytes")
          }
        Searcher.search(spark, handle, q, 10).explain("formatted")
    }

    println("==== ANN probe plan (expect PushedFilters: In(sig, ...), no object map) ====")
    import spark.implicits._
    val annDir = "/tmp/graft-plans-ann"
    val afs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(annDir), spark.sparkContext.hadoopConfiguration)
    if (!afs.exists(new org.apache.hadoop.fs.Path(annDir, "ann.json"))) {
      val vecs = (0 until 2000).map { i =>
        (i.toLong, Array.tabulate(16)(j =>
          (graft.corpus.SynthCorpus.hash64(5L, i.toLong, j.toLong) % 1000L).toFloat / 1000f))
      }
      graft.ops.Similarity.buildAnnIndex(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", annDir, numFiles = 8)
    }
    val qv = Array.tabulate(16)(j =>
      (graft.corpus.SynthCorpus.hash64(5L, 3L, j.toLong) % 1000L).toFloat / 1000f)
    graft.ops.Similarity.srpTopKIndexed(spark, annDir, qv, 10, radius = 2)
      .explain("formatted")

    println("==== batch search plan (ONE segment read for many queries; the " +
      "only exchange feeds the per-query window over the tiny candidate set) ====")
    Searcher.searchMany(spark, handle,
      Seq("a" -> "w0001", "b" -> "w0042 AND w0007", "c" -> "w0003 OR w0009"), 10)
      .explain("formatted")

    println("==== facet plan (kernel match pass + docId join on docstats, " +
      "content never read) ====")
    Searcher.facetCounts(spark, handle, "w0001", "lang").explain("formatted")

    spark.stop()
  }
}
