package graft.tools

import org.apache.spark.sql.SparkSession

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.search.Searcher

/** spark-submit entry points (the north rule's deployment shape: the same
  * jar drives builds and queries on a real cluster via
  * `spark-submit --class graft.tools.BuildIndex ...`). Neither main sets a
  * master or parallelism — that is spark-submit's job; local runs inherit
  * the session defaults (`sbt "runMain graft.tools.BuildIndex ..."`). */
object Cli {
  private[tools] def session(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    // default the master only when spark-submit didn't supply one
    val withMaster =
      if (sys.props.contains("spark.master") || sys.env.contains("MASTER")) b
      else b.master("local[*]").config("spark.driver.host", "localhost")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Build (or resume) an index over a parquet/iceberg-shaped corpus table:
  * `BuildIndex <corpusPath> <indexDir> [segSize] [format]`. The corpus must
  * have the authoritative (repo, path, commit, lang, content) columns
  * (BASELINE.json input_hint); resume is automatic — segments the commit
  * record lists are never rebuilt. */
object BuildIndex {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BuildIndex <corpusPath> <indexDir> [segSize] [format]")
    val Array(corpusPath, indexDir) = args.take(2)
    val segSize = if (args.length > 2) args(2).toInt else 1 << 16
    val format = if (args.length > 3) args(3) else "parquet"
    val spark = Cli.session("graft-build")
    val report = IndexBuilder.build(spark,
      CorpusSource.read(spark, format, corpusPath), indexDir,
      IndexConfig(segSize = segSize))
    println(s"""{"numDocs":${report.stats.numDocs},""" +
      s""""numSegments":${report.stats.numSegments},""" +
      s""""built":${report.builtSegments.size},""" +
      s""""skipped":${report.skippedSegments.size}}""")
    spark.stop()
  }
}

/** Query an index: `SearchIndex <indexDir> <query> [k]` — prints one JSON
  * line per hit (docId, score, stored fields). */
object SearchIndex {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SearchIndex <indexDir> <query> [k]")
    val indexDir = args(0)
    val query = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = Cli.session("graft-search")
    val handle = Searcher.open(spark, indexDir)
    Searcher.searchWithFields(spark, handle, query, k)
      .toJSON.collect().foreach(println)
    spark.stop()
  }
}
