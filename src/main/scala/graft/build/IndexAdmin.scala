package graft.build

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.model.IndexStats

/** Index lifecycle admin — the reference's index-management REST surface
  * minus the serving layer ([R] cockatrice: create_index / get_index /
  * delete_index; create = `IndexBuilder.build` or `SchemaConfig` +
  * `MultiFieldIndex.build`). Driver-side metadata operations only. */
object IndexAdmin {

  private[graft] def fsOf(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** an index exists where its commit record (stats.json) does. A
    * single-shot build commits once, at its end; a multi-batch build
    * commits after every batch, so an unfinished one exists too, and
    * Searcher.open refuses it until IndexBuilder.build is rerun to finish
    * it. */
  def exists(spark: SparkSession, indexDir: String): Boolean =
    fsOf(spark, indexDir).exists(new Path(IndexBuilder.statsPath(indexDir)))

  /** the reference's get_index: corpus-level stats */
  def stats(spark: SparkSession, indexDir: String): IndexStats =
    IndexBuilder.readStats(fsOf(spark, indexDir), indexDir)

  /** the reference's delete_index: remove the whole tree (idempotent) */
  def delete(spark: SparkSession, indexDir: String): Boolean =
    fsOf(spark, indexDir).delete(new Path(indexDir), true)
}
