package graft.tools

import org.apache.spark.sql.SparkSession

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.search.Searcher

/** Continuous-ingestion benchmark: N append batches (the foreachBatch body)
  * with the size-tiered MERGE_SMALL policy every K batches, vs no policy.
  * Reports total wall, docs/sec, final live segment count, and post-ingest
  * query latency — the evidence that the round-4 policy keeps segment
  * count (and so query fan-out) bounded without full-index rewrites.
  *
  * Env: SPARK_GRAFT_CPUS (default 8), GRAFT_STREAM_DOCS (total, default
  * 400000), GRAFT_STREAM_BATCHES (default 16), GRAFT_STREAM_MERGE_EVERY
  * (0 = policy off, default 4). One JSON line to stdout.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val totalDocs = sys.env.getOrElse("GRAFT_STREAM_DOCS", "400000").toLong
    val numBatches = sys.env.getOrElse("GRAFT_STREAM_BATCHES", "16").toInt
    val mergeEvery = sys.env.getOrElse("GRAFT_STREAM_MERGE_EVERY", "4").toInt
    val tmpfs = new java.io.File("/dev/shm").isDirectory
    val scratch = if (tmpfs) "/dev/shm/graft-sbench" else "/tmp/graft-sbench"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val ixDir = s"$scratch/ix-m$mergeEvery-c$cpus-n$totalDocs"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(ixDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ixDir), true)

    val perBatch = totalDocs / numBatches
    // each append lands as ONE small segment; the policy graduates ~4
    // adjacent appends into a full segment (segSize = 4 batches) — the
    // continuous-ingestion shape MERGE_SMALL exists for
    val segSize = (perBatch * 4).toInt
    val cfg = IndexConfig(segSize = segSize, sortPartitions = cpus * 2)

    // batches materialized UNTIMED (the production input is a stream/table)
    val batchPaths = (0 until numBatches).map { b =>
      val p = s"$scratch/batch-n$totalDocs-b$numBatches-$b"
      val bfs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
      if (!bfs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
        spark.range(b * perBatch, (b + 1) * perBatch, 1L, cpus * 2)
          .map(i => graft.corpus.SynthCorpus.row(42L, i))
          .write.mode("overwrite").parquet(p)
      }
      p
    }

    val t0 = System.nanoTime()
    var maxSegs = 0
    batchPaths.zipWithIndex.foreach { case (p, b) =>
      graft.streaming.StreamingIngest.append(spark,
        CorpusSource.read(spark, "parquet", p), ixDir, cfg)
      if (mergeEvery > 0 && b > 0 && b % mergeEvery == 0) {
        graft.merge.Merger.mergeSmall(spark, ixDir)
        ()
      }
      maxSegs = math.max(maxSegs,
        IndexBuilder.readManifests(fs, ixDir).size)
    }
    if (mergeEvery > 0) { graft.merge.Merger.mergeSmall(spark, ixDir); () }
    val ingestSec = (System.nanoTime() - t0) / 1e9

    val finalSegs = IndexBuilder.readManifests(fs, ixDir).size
    val handle = Searcher.open(spark, ixDir)
    // post-ingest query latency (fan-out scales with live segment count)
    Searcher.search(spark, handle, "w0000", 10).collect() // warm
    val reps = 5
    val qSec = (0 until reps).map { _ =>
      val s = System.nanoTime()
      Searcher.search(spark, handle, "w0000", 10).collect()
      (System.nanoTime() - s) / 1e9
    }.sum / reps
    val n = handle.stats.numDocs

    println(
      s"""{"metric":"stream_ingest","value":${f"$ingestSec%.3f"},"unit":"sec",""" +
        s""""cpus":$cpus,"total_docs":$n,"batches":$numBatches,""" +
        s""""merge_every":$mergeEvery,"docs_per_sec":${f"${n / ingestSec}%.1f"},""" +
        s""""final_segments":$finalSegs,"max_segments":$maxSegs,""" +
        s""""query_after_ms":${f"${qSec * 1000}%.1f"}}""")
    spark.stop()
  }
}
