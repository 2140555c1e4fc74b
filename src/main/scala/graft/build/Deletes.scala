package graft.build

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.codec.Varint

/** Deletion sets (SURVEY.md S6): tombstoned docIds are hidden at query time
  * and physically purged at merge/compaction (M2), mirroring the
  * reference's per-segment deletion sets ([W] whoosh/writing.py).
  *
  * Representation: one sidecar file per BUILD-LAYOUT docId range
  * (`deletes/range-<rid>.dlv`, rid = docId / segSize) holding the range's
  * sorted tombstones delta-varint-coded. Nothing is ever collected driver-
  * side on the query path: each segment kernel loads only the sidecars for
  * the ranges its manifest `covers` (bounded by segSize tombstones per
  * file), and merges purge only their group's ranges. Ranges are keyed by
  * the build layout — not the physical segId — so tombstones stay
  * addressable across compactions that mint fresh segIds.
  *
  * `add` rewrites only the affected range files (read-union-write, atomic
  * tmp+rename). It takes a driver-side id batch — the shape of the
  * reference's delete RPCs and of the upsert path; a bulk variant at
  * 10^9-tombstone scale would groupByKey(rid) and write per range from
  * executor tasks against the same file format.
  */
object Deletes {
  def dir(indexDir: String): String = s"$indexDir/deletes"
  private def rangePath(indexDir: String, rid: Long) =
    new Path(dir(indexDir), s"range-$rid.dlv")

  /** the index's file system and segSize, with the deletes dir made */
  private def prepare(spark: SparkSession, indexDir: String): (FileSystem, Int) = {
    val fs = FileSystem.get(new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val segSize = IndexBuilder.readStats(fs, indexDir).segSize
    val d = new Path(dir(indexDir))
    if (!fs.exists(d)) fs.mkdirs(d)
    (fs, segSize)
  }

  def add(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val (fs, segSize) = prepare(spark, indexDir)
    ids.groupBy(_ / segSize).foreach { case (rid, newIds) =>
      val merged = (readRange(fs, indexDir, rid) ++ newIds).distinct.sorted
      writeRange(fs, indexDir, rid, merged.toArray)
    }
  }

  /** Distributed bulk tombstone write (the scale path for delete-by-query):
    * ids shuffle ONCE on their build-layout range id and each range's
    * sidecar is read-union-written from an executor task — a 10^8-row
    * delete result never funnels through the driver. File format and
    * overwrite-rename atomicity identical to `add`. */
  def addBulk(spark: SparkSession, indexDir: String,
              ids: org.apache.spark.sql.Dataset[Long]): Unit = {
    import spark.implicits._
    val segSize = prepare(spark, indexDir)._2
    // executors open the sidecars through the session's Hadoop conf
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    ids.groupByKey(_ / segSize).mapGroups { (rid, it) =>
      val efs = FileSystem.get(new java.net.URI(indexDir), conf.value)
      val merged = (readRange(efs, indexDir, rid) ++ it).distinct.sorted
      writeRange(efs, indexDir, rid, merged)
      rid
    }.count() // force the writes; nothing ships to the driver
    ()
  }

  /** Delete-by-query (reference surface: cockatrice deletes documents by id
    * or query): every doc matching `query` is tombstoned. Matching ids
    * stream from the per-segment kernels (Searcher.matchingIds — no top-k,
    * no sort) straight into the bulk range writer. */
  def byQuery(spark: SparkSession, indexDir: String, query: String): Unit = {
    val handle = graft.search.Searcher.open(spark, indexDir)
    addBulk(spark, indexDir,
      graft.search.Searcher.matchingIds(spark, handle, query))
  }

  /** rids that currently have tombstones (one cheap listing) */
  def listRanges(fs: FileSystem, indexDir: String): Set[Long] = {
    val d = new Path(dir(indexDir))
    if (!fs.exists(d)) return Set.empty
    fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("range-") && n.endsWith(".dlv") =>
        n.stripPrefix("range-").stripSuffix(".dlv").toLong
      }
      .toSet
  }

  /** sorted tombstones of one range (empty if none) — the per-file load a
    * segment kernel does executor-side */
  def readRange(fs: FileSystem, indexDir: String, rid: Long): Array[Long] = {
    val p = rangePath(indexDir, rid)
    if (!fs.exists(p)) return Array.emptyLongArray
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
    decode(bytes)
  }

  /** union of the ranges covering the given build-layout segIds — what a
    * merge group purges (bounded by the group's doc ranges, never the
    * whole index) */
  def forCovers(fs: FileSystem, indexDir: String, covers: Seq[Int]): Set[Long] = {
    val present = listRanges(fs, indexDir)
    covers.iterator.map(_.toLong).filter(present)
      .flatMap(readRange(fs, indexDir, _)).toSet
  }

  /** all tombstones (tests / small indexes only — scales with the full set) */
  def read(spark: SparkSession, indexDir: String): Set[Long] = {
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    listRanges(fs, indexDir).flatMap(readRange(fs, indexDir, _))
  }

  def clear(spark: SparkSession, indexDir: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir(indexDir)), true)
    ()
  }

  private def writeRange(fs: FileSystem, indexDir: String, rid: Long,
                         sorted: Array[Long]): Unit = {
    val w = new Varint.Writer(8 + sorted.length * 2)
    w.writeVarLong(sorted.length.toLong)
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      w.writeVarLong(sorted(i) - prev)
      prev = sorted(i)
      i += 1
    }
    val dst = rangePath(indexDir, rid)
    val tmp = new Path(dir(indexDir), s".range-$rid.dlv.tmp")
    val out = fs.create(tmp, true)
    out.write(w.toBytes)
    out.close()
    // OVERWRITING rename: a delete-then-rename pair would leave a crash
    // window with NO range file at all (tmp's dotted name is invisible to
    // listRanges), silently resurrecting every tombstone in the range
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def decode(bytes: Array[Byte]): Array[Long] = {
    val r = new Varint.Reader(bytes)
    val n = r.readVarLong().toInt
    val out = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += r.readVarLong()
      out(i) = prev
      i += 1
    }
    out
  }
}
