package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.build.{Deletes, IndexAdmin, IndexBuilder, SegmentFacts}
import graft.codec.PostingsCodec
import graft.model._

/** Segment merge / compaction (SURVEY.md §2.5 M1-M2, §3.3): the reference's
  * `optimize()` — k-way merge of term dictionaries, posting lists of shared
  * terms concatenated in docId order ([W] whoosh/writing.py merge policies).
  * Because docIds are global and segments are disjoint docId ranges
  * (decision D1), no docnum remap is needed — runs concatenate in docLo
  * order (`mergeRuns`).
  *
  * Two merge shapes share that per-term concatenation, one commit protocol
  * and the build's one count rule (their write tasks fold the merged
  * line's counts and digest, `SegmentFacts`, purge or not); the CALLER
  * picks the shape, no option does:
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
    * optionally dropping a deletion set (M2: purge at merge). A purge drops
    * the group's recorded tombstones too, so the merged line lists none;
    * without `deletes` the merged line carries its members' tombstone
    * files. The merged postings are written as `max(2, group.size)`
    * term-range-partitioned, term-sorted files inside the one segment dir
    * (parquet min/max stats on `term` stay sharp per file).
    *
    * Crash-safe commit protocol (the build's promote-then-commit, shared
    * with the TAIL shape):
    *   1. write merged postings + docstats to staging, folding the
    *      merged line's facts, and promote both into place under the
    *      FRESH segId (no record lists it; a crash leftover there goes);
    *   2. commit the record with `live - group + merged` and the header
    *      counts and lexicon carried over — THE commit point; the merged
    *      segment's `covers` carries the transitive build-layout lineage
    *      for resume;
    *   3. `gc`: the group's dirs and any tombstone file the record stopped
    *      naming go. A crash before step 2 leaves files no record names,
    *      which the next gc deletes; a crash anywhere leaves a readable,
    *      correct index, and a rerun mints the same segId.
    * Every merge folds the delta lexicon first, so an unfinished
    * multi-batch build (no lexicon yet) is refused before anything is
    * written or a segId the build's rerun would build is minted. */
  def mergeGroup(spark: SparkSession, indexDir: String, group: Seq[Int],
                 deletes: Set[Long] = Set.empty): Int = {
    members(IndexBuilder.readManifests(IndexAdmin.fsOf(spark, indexDir), indexDir), group)
    // fold first: every member of the merged segment must be inside the
    // lexicon
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    merge(spark, indexDir, group, deletes, purge = deletes.nonEmpty, tail = false)
  }

  /** The record lines of `group`, sorted by segId; fails, naming the ids,
    * unless `group` names live segments, each once. */
  private def members(live: Seq[SegmentManifest], group: Seq[Int]): Seq[SegmentManifest] = {
    val byId = live.map(m => m.segId -> m).toMap
    val notLive = group.filterNot(byId.contains).distinct
    val repeated = group.diff(group.distinct).distinct
    require(group.nonEmpty && notLive.isEmpty && repeated.isEmpty,
      s"cannot merge segments [${group.mkString(",")}]: not live: ${notLive.mkString(",")}; " +
        s"repeated: ${repeated.mkString(",")}")
    group.sorted.map(byId)
  }

  /** one merge of `group` in the COGROUP or TAIL shape, purging (with
    * `purge`) the group's recorded tombstones plus `extra`; returns the
    * fresh segId */
  private def merge(spark: SparkSession, indexDir: String, group: Seq[Int],
                    extra: Set[Long], purge: Boolean, tail: Boolean): Int = {
    require(!tail || !purge, "a tail merge purges no deletes")
    val fs = IndexAdmin.fsOf(spark, indexDir)
    val rec = IndexBuilder.readRecord(fs, indexDir)
    val live = rec.segments
    val manifests = members(live, group)
    require(manifests.forall(_.inLexicon),
      s"segments [${group.mkString(",")}]: fold the delta lexicon before merging")
    val sorted = manifests.map(_.segId)
    val targetId = live.map(_.segId).max + 1
    val deletes =
      if (purge) extra ++ manifests.flatMap(Deletes.ofLine(fs, indexDir, _)) else Set.empty[Long]

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
    fs.delete(new Path(staging), true)
    val facts = new SegmentFacts
    spark.sparkContext.register(facts)
    try {
      if (tail) writeTail(spark, indexDir, manifests, targetId, mergeRuns, staging, facts)
      else writeCogroup(spark, indexDir, manifests, targetId, mergeRuns, staging, delB, facts)
    } finally delB.foreach(_.destroy())

    // 1. promote into place under the fresh segId (a group whose docs were
    // ALL tombstoned writes no partition dir — commit an empty segment)
    val (files, docstats) = IndexBuilder.promoteSegment(fs, staging, indexDir, targetId, live)
    fs.delete(new Path(staging), true)

    // 2. the commit point: the merged segment, with its folded facts
    // (BASELINE.json "row-count/sha256 metrics"), the members' docId range
    // and, unless it purged them, their tombstone files, replaces the group
    val m = facts(targetId).line(targetId, manifests.map(_.docLo).min,
      manifests.map(_.docHi).max, s"merge(${sorted.mkString(",")})", files, docstats,
      covers = manifests.flatMap(_.coverSet).distinct.sorted)
      .copy(deletes = if (purge) Nil else manifests.flatMap(_.deletes), inLexicon = true)
    val committed = live.filterNot(l => sorted.contains(l.segId)) :+ m
    IndexBuilder.commitRecord(fs, indexDir, rec.stats, committed, rec.lexicon)

    // 3. GC what the record stopped naming
    IndexBuilder.gc(fs, indexDir, rec.copy(segments = committed))
    targetId
  }

  /** COGROUP shape: shuffle the group's rows by term, fold each term's runs,
    * write `max(2, group.size)` term-range files under
    * `staging/segments/segId=N`;
    * the docstats sidecars are re-keyed under the fresh segId (the sidecar
    * is keyed by docId; segId is only physical placement) minus the purged
    * docs (`delB`). `facts` folds after the range exchange, never in its
    * sampling job. */
  private def writeCogroup(spark: SparkSession, indexDir: String, group: Seq[SegmentManifest],
                           targetId: Int, mergeRuns: (String, Seq[SegRead]) => Option[SegRow],
                           staging: String,
                           delB: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]],
                           facts: SegmentFacts): Unit = {
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
      .mapPartitions(facts.postings)
      .write.mode(SaveMode.Overwrite).partitionBy("segId").parquet(s"$staging/segments")

    val docstats = IndexBuilder.docstatsRows(spark, indexDir, group).as[DocStat]
    // same broadcast binary-search probe as mergeRuns (bounded by the
    // group's ranges but NOT by literal-count — see delB note above)
    delB.fold(docstats)(b =>
        docstats.filter(d => java.util.Arrays.binarySearch(b.value, d.docId) < 0))
      .mapPartitions(it => facts.docs(it.map(_.copy(segId = targetId))))
      .write.mode(SaveMode.Overwrite).partitionBy("segId").parquet(s"$staging/docstats")
  }

  /** TAIL shape: ONE task merges the whole group — the members' rows are
    * coalesced into one partition and sorted by term (spillable, no
    * exchange), consecutive same-term rows fold with `mergeRuns`, and one
    * file with one row group lands in `staging/segments/segId=N`. The docstats
    * sidecars are coalesced into one docId-sorted file the same way, in a
    * concurrent job. Both jobs are one stage, so `facts` folds there. */
  private def writeTail(spark: SparkSession, indexDir: String,
                        group: Seq[SegmentManifest], targetId: Int,
                        mergeRuns: (String, Seq[SegRead]) => Option[SegRow],
                        staging: String, facts: SegmentFacts): Unit = {
    import spark.implicits._
    IndexBuilder.concurrently("graft-merge-docstats")(
      IndexBuilder.segmentRows(spark, indexDir, group)
        .select($"term", $"df", $"maxTf", $"blocks", $"segId").as[SegRead]
        .coalesce(1)
        .sortWithinPartitions("term")
        .mapPartitions { it =>
          val rows = it.buffered
          facts.postings(Iterator.continually(rows).takeWhile(_.hasNext).flatMap { r =>
            val term = r.head.term
            val run = scala.collection.mutable.ArrayBuffer.empty[SegRead]
            while (r.hasNext && r.head.term == term) run += r.next()
            mergeRuns(term, run.toSeq)
          })
        }
        .drop("segId")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/segments/segId=$targetId"),
      IndexBuilder.docstatsRows(spark, indexDir, group).as[DocStat]
        .coalesce(1)
        .mapPartitions(it => facts.docs(it.map(_.copy(segId = targetId))))
        .drop("segId")
        .sortWithinPartitions("docId")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/docstats/segId=$targetId"))
    ()
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
    val rec = IndexBuilder.readRecord(IndexAdmin.fsOf(spark, indexDir), indexDir)
    val target = if (smallDocs > 0) smallDocs else rec.stats.segSize.toLong
    // the fold commits the same segments, so `rec.segments` stays the live set
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    val minted = scala.collection.mutable.ArrayBuffer.empty[Int]
    var run = List.empty[SegmentManifest]
    def flush(): Unit = {
      if (run.size >= 2)
        minted += merge(spark, indexDir, run.map(_.segId), Set.empty, purge = false, tail = true)
      run = Nil
    }
    rec.segments.sortBy(m => (m.docLo, m.segId)).foreach { m =>
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
    * `optimize_index`). With `applyDeletes`, every merge purges its group's
    * tombstones (M2), the lines the merges left that still have tombstones
    * are purged alone, and the stats and the lexicon are refreshed in one
    * commit. */
  def compact(spark: SparkSession, indexDir: String, groupSize: Int = 8,
              applyDeletes: Boolean = false): Unit = {
    require(groupSize >= 2)
    val fs = IndexAdmin.fsOf(spark, indexDir)
    var ms = IndexBuilder.readManifests(fs, indexDir)
    // fold before merging (see mergeSmall)
    IndexBuilder.foldLexiconDeltas(spark, indexDir)
    val hadDeletes = applyDeletes && ms.exists(_.deletes.nonEmpty)
    while (ms.size > 1) {
      // group segments ADJACENT IN docId ORDER (docLo), the LSM invariant:
      // merged ranges stay concatenable at every level regardless of the
      // fresh segIds merges mint; a purge set is bounded by its group's
      // tombstones, never the index-wide count
      ms.sortBy(m => (m.docLo, m.segId)).map(_.segId).grouped(groupSize).foreach { g =>
        if (g.size > 1) merge(spark, indexDir, g, Set.empty, purge = applyDeletes, tail = false)
      }
      ms = IndexBuilder.readManifests(fs, indexDir)
    }
    if (hadDeletes) {
      // segments the merge loop never rewrote (odd leftovers, or an index
      // already compacted to one segment) still hold tombstoned postings
      ms.filter(_.deletes.nonEmpty).foreach { m =>
        merge(spark, indexDir, Seq(m.segId), Set.empty, purge = true, tail = false)
      }
      // stats refresh after physical purge (N/avgfl shrink with the purge)
      // and a full lexicon rebuild (the purge shrank dfs), one commit
      val rec = IndexBuilder.readRecord(fs, indexDir)
      IndexBuilder.writeLexiconOf(spark, fs, indexDir, rec.stats.copy(
        numDocs = rec.segments.map(_.docCount).sum,
        totalFieldLen = rec.segments.map(_.rawLenSum).sum), rec.segments)
    }
  }
}
