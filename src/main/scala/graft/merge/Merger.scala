package graft.merge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.IndexBuilder
import graft.codec.PostingsCodec
import graft.model._

/** Segment merge / compaction (SURVEY.md §2.5 M1-M2, §3.3): the reference's
  * `optimize()` — k-way merge of term dictionaries, posting lists of shared
  * terms concatenated in docId order ([W] whoosh/writing.py merge policies).
  * Because docIds are global and segments are disjoint docId ranges
  * (decision D1), no docnum remap is needed — runs concatenate in docLo
  * order (`mergeRuns`).
  *
  * Two merge shapes share that per-term concatenation and one commit
  * protocol; the CALLER picks the shape, no option does:
  *  - COGROUP (`mergeGroup`, used by `compact`/`optimize`): a sort-merge
  *    cogroup on `term` — pairwise KeyValueGroupedDataset.cogroup
  *    (BASELINE.json:6), wider groups one union + groupByKey pass (an n-ary
  *    cogroup in a single shuffle). Output is `max(2, group.size)`
  *    term-range-partitioned files, so a full compaction never funnels the
  *    index through one task.
  *    Hierarchy: `compact(groupSize)` repeatedly merges adjacent groups —
  *    log_groupSize(n) levels to a single segment.
  *  - TAIL (`mergeSmall`): a MERGE_SMALL group totals under two segments'
  *    worth of docs, so ONE task merges it: the members' rows are coalesced
  *    into one partition and sorted by term (a spillable local sort, no
  *    exchange), same-term runs fold with `mergeRuns`, and one file is
  *    written.
  *
  * Queries read a segment's recorded files whole in one task either way,
  * so the shape is chosen for the merge's cost, not for the query layout.
  */
object Merger {

  /** Merge a group of segIds into one NEW segment with the COGROUP shape
    * (fresh segId = max live segId + 1 — never an in-place overwrite),
    * optionally dropping a deletion set (M2: purge at merge). The merged
    * postings are written as `max(2, group.size)` term-range-partitioned,
    * term-sorted files inside the one segment dir (parquet min/max stats on
    * `term` stay sharp per file).
    *
    * Crash-safe commit protocol (mirrors the build's promote-then-commit,
    * shared with the TAIL shape):
    *   1. write merged postings + docstats to staging, promote both into
    *      place under the FRESH segId (no collision with live dirs);
    *   2. commit the record with `live - group + merged` and the header
    *      counts carried over — THE commit point; the merged segment's
    *      `covers` carries the transitive build-layout lineage for resume;
    *   3. delete the group's segment dirs — pure GC. A crash before step 2
    *      leaves promoted dirs no record lists, which the next merge's
    *      gcOrphanDirs sweeps; a crash anywhere leaves a readable, correct
    *      index. */
  def mergeGroup(spark: SparkSession, indexDir: String, group: Seq[Int],
                 deletes: Set[Long] = Set.empty): Int = {
    // fold first: the merged segment must not mix covers the base lexicon
    // holds with covers it does not
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    merge(spark, indexDir, group, deletes, tail = false)
  }

  /** one merge of `group` in the COGROUP or TAIL shape; returns the fresh
    * segId */
  private def merge(spark: SparkSession, indexDir: String, group: Seq[Int],
                    deletes: Set[Long], tail: Boolean): Int = {
    require(group.nonEmpty)
    require(!tail || deletes.isEmpty, "a tail merge purges no deletes")
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val sorted = group.sorted
    val (st, live) = IndexBuilder.readCurrentRecord(fs, indexDir)
    // GC crash leftovers BEFORE picking the target id: a crash between
    // promote and record commit leaves segId dirs no record lists — a
    // rerun recomputes the same target (max live segId + 1). Readers open
    // only recorded files, so this sweep only frees disk.
    gcOrphanDirs(fs, indexDir, live.map(_.segId).toSet)
    val targetId = live.map(_.segId).max + 1
    val manifests = live.filter(m => sorted.contains(m.segId))
    require(manifests.size == sorted.size, s"missing segments for $sorted")

    // tombstones ride as a broadcast SORTED ARRAY probed by binary search
    // (exactly like the query kernel) — never as Catalyst literals: a full
    // compaction of a heavily-deleted index can carry 10^5-10^6 ids, and an
    // `isin` of that many literals bloats the plan toward driver OOM. Only
    // a purge broadcasts, and destroys it once the writes are done.
    val delB = Option.when(deletes.nonEmpty)(spark.sparkContext.broadcast(deletes.toArray.sorted))

    // concatenation order = docId order = the segments' docLo order. With
    // fresh merge segIds this is NOT segId order: a second-level merge can
    // pair a high-segId merged segment holding LOW docIds with a low-segId
    // original holding high ones.
    val docLoRank: Map[Int, Int] = manifests.sortBy(m => (m.docLo, m.segId))
      .map(_.segId).zipWithIndex.toMap
    // whole-run concatenation cannot interleave docIds: group members must
    // not straddle each other's ranges (compact() guarantees this by
    // grouping docLo-adjacent segments; reject misuse fast)
    manifests.filter(_.docCount > 0).sortBy(_.docLo).sliding(2).foreach {
      case Seq(a, b) => require(a.docHi < b.docLo,
        s"segments ${a.segId} [${a.docLo},${a.docHi}] and ${b.segId} " +
          s"[${b.docLo},${b.docHi}] interleave; merge docLo-adjacent groups")
      case _ => ()
    }

    val mergeRuns: (String, Seq[SegRead]) => Option[SegRow] = (term, runs) => {
      // concatenate in docLo order (== docId order); re-encode; drop deletes
      val ordered = runs.sortBy(r => docLoRank(r.segId))
      val it = ordered.iterator.flatMap(r => PostingsCodec.decodeIterator(r.blocks))
      val enc = PostingsCodec.encode(delB.fold(it) { b =>
        val dels = b.value
        it.filterNot(p => java.util.Arrays.binarySearch(dels, p.docId) >= 0)
      })
      if (enc.df == 0) None
      else Some(SegRow(targetId, term, enc.df, enc.maxTf, enc.cf, enc.bytes))
    }

    val staging = s"${IndexBuilder.stagingDir(indexDir)}-merge"
    val dsStaging = s"$staging-docstats"
    fs.delete(new Path(staging), true)
    fs.delete(new Path(dsStaging), true)
    val purgedCounts =
      try {
        if (tail) {
          writeTail(spark, indexDir, manifests, targetId, mergeRuns, staging, dsStaging)
          None
        } else writeCogroup(spark, indexDir, manifests, targetId, mergeRuns, staging, dsStaging,
          delB)
      } finally delB.foreach(_.destroy())
    // one count rule for both shapes: a merge that purges nothing keeps
    // every member doc, so the members' line sums are the merged counts
    val (mergedDocCount, mergedRawLen) = purgedCounts.getOrElse(
      (manifests.map(_.docCount).sum, manifests.map(_.rawLenSum).sum))

    // real metrics for the merged manifest — same digest/row/byte contract
    // as a fresh build (BASELINE.json "per-partition lineage and
    // row-count/sha256 metrics" must survive compaction) — and the files
    // the merge staged, listed once for the record. A fully-tombstoned
    // group writes no files at all — empty metrics.
    val files = IndexBuilder.listFiles(fs, s"$staging/segId=$targetId")
    val docstats = IndexBuilder.listFiles(fs, s"$dsStaging/segId=$targetId")
    val (postRows, postBytes, digest) =
      if (files.isEmpty) (0L, 0L, "0" * 32)
      else IndexBuilder.postingMetrics(spark, staging, Seq(targetId -> files))
        .getOrElse(targetId, (0L, 0L, "0" * 32))

    // 1. promote into place under the fresh segId (a group whose docs were
    // ALL tombstoned writes no partition dir — commit an empty segment)
    IndexBuilder.promoteDir(fs, s"$staging/segId=$targetId",
      s"${IndexBuilder.segmentsDir(indexDir)}/segId=$targetId")
    IndexBuilder.promoteDir(fs, s"$dsStaging/segId=$targetId",
      s"${IndexBuilder.docstatsDir(indexDir)}/segId=$targetId")
    fs.delete(new Path(staging), true)
    fs.delete(new Path(dsStaging), true)

    // 2. the commit point: the merged segment replaces the group
    val m = SegmentManifest(
      segId = targetId,
      docLo = manifests.map(_.docLo).min,
      docHi = manifests.map(_.docHi).max,
      docCount = mergedDocCount,
      rawLenSum = mergedRawLen,
      postingRows = postRows, postingBytes = postBytes,
      digest = digest,
      source = s"merge(${sorted.mkString(",")})",
      covers = manifests.flatMap(_.coverSet).distinct.sorted,
      files = files, docstats = docstats)
    IndexBuilder.commitRecord(fs, indexDir, st,
      live.filterNot(l => sorted.contains(l.segId)) :+ m)

    // 3. GC the group's dirs
    sorted.foreach { id =>
      fs.delete(new Path(s"${IndexBuilder.segmentsDir(indexDir)}/segId=$id"), true)
      fs.delete(new Path(s"${IndexBuilder.docstatsDir(indexDir)}/segId=$id"), true)
    }
    targetId
  }

  /** COGROUP shape: shuffle the group's rows by term, fold each term's runs,
    * write `max(2, group.size)` term-range files under `staging/segId=N`;
    * the docstats sidecars are re-keyed under the fresh segId (the sidecar
    * is keyed by docId; segId is only physical placement) minus the purged
    * docs (`delB`). Returns the merged (docCount, rawLenSum) when it purged
    * deletes (one count job over the kept docstats), else None. */
  private def writeCogroup(spark: SparkSession, indexDir: String, group: Seq[SegmentManifest],
                           targetId: Int, mergeRuns: (String, Seq[SegRead]) => Option[SegRow],
                           staging: String, dsStaging: String,
                           delB: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]])
      : Option[(Long, Long)] = {
    import spark.implicits._
    val segs = group.map { m =>
      IndexBuilder.segmentRows(spark, indexDir, Seq(m))
        .select($"term", $"df", $"maxTf", $"blocks", $"segId")
        .as[SegRead]
    }
    val merged =
      if (segs.size == 2) {
        // the pinned pairwise sort-merge cogroup
        segs(0).groupByKey(_.term).cogroup(segs(1).groupByKey(_.term)) {
          (term, as, bs) => mergeRuns(term, (as ++ bs).toSeq).iterator
        }
      } else {
        segs.reduce(_ union _).groupByKey(_.term).flatMapGroups { (term, it) =>
          mergeRuns(term, it.toSeq).iterator
        }
      }
    merged.repartitionByRange(math.max(2, group.size), $"term")
      .sortWithinPartitions("term")
      .write.mode(SaveMode.Overwrite).partitionBy("segId").parquet(staging)

    val docstats = IndexBuilder.docstatsRows(spark, indexDir, group)
    // same broadcast binary-search probe as mergeRuns (bounded by the
    // group's ranges but NOT by literal-count — see delB note above)
    val filtered = delB.fold(docstats) { b =>
      val docIdIdx = docstats.schema.fieldIndex("docId")
      docstats.filter((r: org.apache.spark.sql.Row) =>
        java.util.Arrays.binarySearch(b.value, r.getLong(docIdIdx)) < 0)
    }
    filtered.withColumn("segId", lit(targetId))
      .write.mode(SaveMode.Overwrite).partitionBy("segId").parquet(dsStaging)
    Option.when(delB.nonEmpty) {
      val r = filtered.agg(count(lit(1)), sum($"rawLen")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  /** TAIL shape: ONE task merges the whole group — the members' rows are
    * coalesced into one partition and sorted by term (spillable, no
    * exchange), consecutive same-term rows fold with `mergeRuns`, and one
    * file with one row group lands in `staging/segId=N`. The docstats
    * sidecars are coalesced into one docId-sorted file the same way, in a
    * concurrent job. */
  private def writeTail(spark: SparkSession, indexDir: String,
                        group: Seq[SegmentManifest], targetId: Int,
                        mergeRuns: (String, Seq[SegRead]) => Option[SegRow],
                        staging: String, dsStaging: String): Unit = {
    import spark.implicits._
    IndexBuilder.concurrently("graft-merge-docstats")(
      IndexBuilder.segmentRows(spark, indexDir, group)
        .select($"term", $"df", $"maxTf", $"blocks", $"segId").as[SegRead]
        .coalesce(1)
        .sortWithinPartitions("term")
        .mapPartitions { it =>
          val rows = it.buffered
          Iterator.continually(rows).takeWhile(_.hasNext).flatMap { r =>
            val term = r.head.term
            val run = scala.collection.mutable.ArrayBuffer.empty[SegRead]
            while (r.hasNext && r.head.term == term) run += r.next()
            mergeRuns(term, run.toSeq)
          }
        }
        .drop("segId")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/segId=$targetId"),
      IndexBuilder.docstatsRows(spark, indexDir, group)
        .drop("segId")
        .coalesce(1)
        .sortWithinPartitions("docId")
        .write.mode(SaveMode.Overwrite).parquet(s"$dsStaging/segId=$targetId"))
    ()
  }

  /** delete segments/docstats `segId=N` dirs whose N the record does not
    * list (single-writer assumption: no build or merge runs concurrently):
    * the one code that lists these dirs, freeing disk no reader reads */
  private[graft] def gcOrphanDirs(fs: FileSystem, indexDir: String,
                                  live: Set[Int]): Unit = {
    Seq(IndexBuilder.segmentsDir(indexDir), IndexBuilder.docstatsDir(indexDir))
      .foreach { d =>
        val p = new Path(d)
        if (fs.exists(p)) fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("segId=") &&
              n.stripPrefix("segId=").toIntOption.exists(id => !live.contains(id)))
            fs.delete(st.getPath, true)
        }
      }
  }

  /** Size-tiered incremental merge policy ([W] whoosh/writing.py
    * MERGE_SMALL: "merge only small segments, leave big ones alone" — the
    * default policy of every Whoosh writer commit): merge runs of ADJACENT
    * (docLo-ordered) segments whose docCount < `smallDocs` (default: the
    * index's segSize, i.e. "not yet a full segment") into one fresh
    * segment each, leaving large segments untouched.
    *
    * This is the continuous-ingestion policy: work per invocation is
    * proportional to the small TAIL, never the index, so segment count
    * stays bounded (large segments + at most one growing small run)
    * without the compact-to-one full rewrite — at 10^12 docs an optimize
    * per N micro-batches would rewrite the whole index; this rewrites only
    * the freshly appended data. Deletes are NOT purged here (a pure
    * concatenation keeps every term's global df, so the lexicon needs no
    * rebuild); purge stays with compact(applyDeletes)/optimize.
    *
    * It first folds the delta lexicon (the segments appended since the
    * last fold, IndexBuilder.writeLexicon) into the base: the per-append
    * work stays delta-sized, the vocab-sized rewrite is paid at this
    * cadence, and a merged run never mixes folded and unfolded segments.
    *
    * Each run merges with the TAIL shape: every member is below `smallDocs`
    * and a run is flushed once it reaches `smallDocs`, so a run totals
    * under 2 x `smallDocs` docs — small enough for one task. The commit
    * protocol is mergeGroup's: each run's merge commits the record.
    *
    * Returns the freshly minted segIds. */
  def mergeSmall(spark: SparkSession, indexDir: String, smallDocs: Long = 0,
                 groupSize: Int = 8): Seq[Int] = {
    require(groupSize >= 2)
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val (st, ms) = IndexBuilder.readCurrentRecord(fs, indexDir)
    val target = if (smallDocs > 0) smallDocs else st.segSize.toLong
    // the fold writes no record, so `ms` stays the live set
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    val minted = scala.collection.mutable.ArrayBuffer.empty[Int]
    var run = List.empty[SegmentManifest]
    def flush(): Unit = {
      if (run.size >= 2)
        minted += merge(spark, indexDir, run.map(_.segId), Set.empty, tail = true)
      run = Nil
    }
    ms.sortBy(m => (m.docLo, m.segId)).foreach { m =>
      if (m.docCount >= target) flush() // a large segment breaks the run
      else {
        run = run :+ m
        // the accumulated run has reached full-segment size (its merge
        // graduates to "large") or the fan-in cap: merge it now
        if (run.size == groupSize || run.map(_.docCount).sum >= target) flush()
      }
    }
    flush()
    minted.toSeq
  }

  /** Whoosh `writer.optimize()` / the reference's optimize endpoint
    * ([R] cockatrice optimize): hierarchically compact the whole index to
    * ONE segment, physically purging tombstones and refreshing stats. */
  def optimize(spark: SparkSession, indexDir: String): Unit =
    compact(spark, indexDir, applyDeletes = true)

  /** hierarchical compaction with the COGROUP shape: repeatedly merge
    * adjacent groups of `groupSize` until one segment remains (reference
    * `optimize_index`). With `applyDeletes`, the index's tombstone set is
    * purged during the merge and cleared once fully compacted (M2). */
  def compact(spark: SparkSession, indexDir: String, groupSize: Int = 8,
              applyDeletes: Boolean = false): Unit = {
    require(groupSize >= 2)
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    var ms = IndexBuilder.readCurrentRecord(fs, indexDir)._2
    // fold before merging (see mergeSmall)
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    val delRids = if (applyDeletes) graft.build.Deletes.listRanges(fs, indexDir)
      else Set.empty[Long]
    val hadDeletes = delRids.nonEmpty
    val purged = scala.collection.mutable.Set.empty[Int]
    while (ms.size > 1) {
      // group segments ADJACENT IN docId ORDER (docLo), the LSM invariant:
      // merged ranges stay concatenable at every level regardless of the
      // fresh segIds merges mint
      val byId = ms.map(m => m.segId -> m).toMap
      ms.sortBy(m => (m.docLo, m.segId)).map(_.segId).grouped(groupSize).foreach { g =>
        if (g.size > 1) {
          // purge set bounded by THIS group's doc ranges (per-range
          // sidecars), never the index-wide tombstone count
          val dels = if (applyDeletes)
            graft.build.Deletes.forCovers(fs, indexDir, g.flatMap(byId(_).coverSet))
          else Set.empty[Long]
          val merged = merge(spark, indexDir, g, dels, tail = false)
          if (applyDeletes) purged += merged
        }
      }
      ms = IndexBuilder.readManifests(fs, indexDir)
    }
    if (hadDeletes) {
      // segments the merge loop never rewrote (odd leftovers, or an index
      // already compacted to one segment) still hold tombstoned postings:
      // rewrite each one whose covered ranges intersect the tombstones —
      // without this, the clear() below would silently DROP deletions
      IndexBuilder.readManifests(fs, indexDir)
        .filterNot(m => purged.contains(m.segId))
        .filter(m => m.coverSet.exists(r => delRids.contains(r.toLong)))
        .foreach { m =>
          val dels = graft.build.Deletes.forCovers(fs, indexDir, m.coverSet)
          if (dels.nonEmpty) merge(spark, indexDir, Seq(m.segId), dels, tail = false)
        }
    }
    if (hadDeletes) {
      // stats refresh after physical purge (N/avgfl shrink with the purge)
      val (st, live) = IndexBuilder.readCurrentRecord(fs, indexDir)
      IndexBuilder.commitRecord(fs, indexDir, st.copy(
        numDocs = live.map(_.docCount).sum,
        totalFieldLen = live.map(_.rawLenSum).sum), live)
      // the purge shrank dfs: full lexicon rebuild
      IndexBuilder.writeLexiconOf(spark, fs, indexDir, live)
      graft.build.Deletes.clear(spark, indexDir)
    }
  }
}
