package graft.build

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.codec.Varint
import graft.model.SegmentManifest

/** Deletion sets (SURVEY.md S6): tombstoned docIds are hidden at query time
  * and physically purged at merge/compaction (M2), mirroring the
  * reference's per-segment deletion sets ([W] whoosh/writing.py) and
  * Lucene's per-commit delete generations.
  *
  * Representation: tombstone files in the flat `deletes/` dir, each
  * written once under a fresh name and holding one segment's sorted ids
  * delta-varint-coded. A segment's record line lists its files
  * (`SegmentManifest.deletes`); its tombstones are their union. Nothing is
  * collected driver-side on the query path: each segment kernel loads only
  * its own line's files, and a handle reads the files its record named, so
  * it keeps answering as at open.
  *
  * A delete maps each id to the live line whose build-layout covers and
  * docId range hold it (ids no live segment holds are dropped), writes one
  * new file per touched line with the ids the line does not list yet, and
  * commits the record once: all of it becomes visible, or none. A merge
  * that does not purge carries its members' files; one that purges drops
  * them (Merger).
  */
object Deletes {
  def dir(indexDir: String): String = s"$indexDir/deletes"

  /** the live line holding docId `id`, keyed by its build-layout range id
    * (id / segSize, one of the line's covers), if one holds it */
  private def lineOf(live: Seq[SegmentManifest], segSize: Int): Long => Option[SegmentManifest] = {
    val byRange = live.flatMap(m => m.coverSet.map(_.toLong -> m)).toMap
    id => byRange.get(id / segSize).filter(m => id >= m.docLo && id <= m.docHi)
  }

  def add(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val fs = IndexAdmin.fsOf(spark, indexDir)
    val rec = IndexBuilder.readRecord(fs, indexDir)
    val live = stage(fs, indexDir, rec.stats.segSize, rec.segments, ids)
    if (live != rec.segments)
      IndexBuilder.commitRecord(fs, indexDir, rec.stats, live, rec.lexicon)
    ()
  }

  /** Writes the tombstone files of `ids` for the lines of `live` they
    * touch and returns `live` with each touched line listing its new file;
    * the caller's record commit makes them visible (add, upsert). */
  private[graft] def stage(fs: FileSystem, indexDir: String, segSize: Int,
                           live: Seq[SegmentManifest], ids: Seq[Long]): Seq[SegmentManifest] = {
    val of = lineOf(live, segSize)
    val touched = ids.flatMap(id => of(id).map(_.segId -> id)).groupMap(_._1)(_._2)
    live.map { m =>
      touched.get(m.segId).flatMap(fresh => write(fs, indexDir, m, fresh))
        .fold(m)(f => m.copy(deletes = m.deletes :+ f))
    }
  }

  /** Distributed bulk tombstone write (the scale path for delete-by-query):
    * ids shuffle ONCE on the segment that holds them (the live lines' cover
    * ranges ride a broadcast), and each segment's file is written from an
    * executor task, so a 10^8-row delete result never funnels through the
    * driver. The driver collects one (segId, name, bytes) per touched
    * segment and commits the record once, like `add`. */
  def addBulk(spark: SparkSession, indexDir: String,
              ids: org.apache.spark.sql.Dataset[Long]): Unit = {
    import spark.implicits._
    val fs = IndexAdmin.fsOf(spark, indexDir)
    val rec = IndexBuilder.readRecord(fs, indexDir)
    val linesB = spark.sparkContext.broadcast((rec.stats.segSize, rec.segments))
    // executors open the files through the session's Hadoop conf
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val written = try ids
      .mapPartitions { it =>
        val (segSize, live) = linesB.value
        val of = lineOf(live, segSize)
        it.flatMap(id => of(id).map(m => (m.segId, id)))
      }
      .groupByKey(_._1)
      .flatMapGroups { (segId, it) =>
        val efs = FileSystem.get(new java.net.URI(indexDir), conf.value)
        val m = linesB.value._2.find(_.segId == segId).get
        write(efs, indexDir, m, it.map(_._2).toSeq).iterator.map { case (n, b) => (segId, n, b) }
      }
      .collect()
    finally linesB.destroy()
    if (written.nonEmpty) {
      val bySeg = written.map { case (segId, n, b) => segId -> (n -> b) }.toMap
      IndexBuilder.commitRecord(fs, indexDir, rec.stats, rec.segments.map { m =>
        bySeg.get(m.segId).fold(m)(f => m.copy(deletes = m.deletes :+ f))
      }, rec.lexicon)
    }
    ()
  }

  /** Delete-by-query (reference surface: cockatrice deletes documents by id
    * or query): every doc matching `query` is tombstoned. Matching ids
    * stream from the per-segment kernels (Searcher.matchingIds — no top-k,
    * no sort) straight into the bulk writer. */
  def byQuery(spark: SparkSession, indexDir: String, query: String): Unit = {
    val handle = graft.search.Searcher.open(spark, indexDir)
    addBulk(spark, indexDir,
      graft.search.Searcher.matchingIds(spark, handle, query))
  }

  /** The sorted tombstones of one record line: the union of its files, read
    * through `fs` (executor-side in a segment kernel). A file that is gone
    * fails, naming it: the record that named it has been replaced. */
  def ofLine(fs: FileSystem, indexDir: String, m: SegmentManifest): Array[Long] =
    m.deletes.iterator.flatMap { case (name, _) =>
      val p = new Path(dir(indexDir), name)
      val in = try fs.open(p) catch {
        case e: java.io.FileNotFoundException => throw new IllegalStateException(
          s"segment ${m.segId}: tombstone file $p is gone — the index changed since its " +
            "record was read (a merge purged it); reopen it with Searcher.open", e)
      }
      try decode(in.readAllBytes()) finally in.close()
    }.toArray.distinct.sorted

  /** all tombstones of the record's live segments (tests / small indexes
    * only — scales with the full set) */
  def read(spark: SparkSession, indexDir: String): Set[Long] = {
    val fs = IndexAdmin.fsOf(spark, indexDir)
    IndexBuilder.readRecord(fs, indexDir).segments.flatMap(ofLine(fs, indexDir, _)).toSet
  }

  /** Writes the ids of `fresh` that line `m` does not list yet into a new
    * file under a fresh name, and returns its (name, bytes); None when
    * every id is listed already. */
  private def write(fs: FileSystem, indexDir: String, m: SegmentManifest,
                    fresh: Seq[Long]): Option[(String, Long)] = {
    val listed = ofLine(fs, indexDir, m)
    val sorted = fresh.distinct.filter(id => java.util.Arrays.binarySearch(listed, id) < 0)
      .sorted.toArray
    if (sorted.isEmpty) return None
    val w = new Varint.Writer(8 + sorted.length * 2)
    w.writeVarLong(sorted.length.toLong)
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      w.writeVarLong(sorted(i) - prev)
      prev = sorted(i)
      i += 1
    }
    val bytes = w.toBytes
    val name = s"${m.segId}-${java.util.UUID.randomUUID()}.dlv"
    val out = fs.create(new Path(dir(indexDir), name), false)
    try out.write(bytes) finally out.close()
    Some(name -> bytes.length.toLong)
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
