package graft.streaming

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.build.{Deletes, IndexBuilder}
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.model.{CorpusRow, IndexStats, SegmentManifest}

/** Micro-batch ingestion (SURVEY.md §2.9): the reference's incremental
  * `put_document` stream is honestly a sequence of writer commits appending
  * immutable segments ([R] cockatrice/indexer.py via Raft log -> Whoosh
  * writer). Spark-native mapping: Structured Streaming `foreachBatch`, each
  * micro-batch appended as NEW segments in fresh docId/segId ranges, with
  * periodic hierarchical compaction (Merger) exactly like the reference's
  * merge policy. No watermark/event-time semantics exist to replicate.
  *
  * docId layout: every append starts at the next segment boundary
  * (docIdBase = (maxSegId+1) * segSize). Gaps in docId space are harmless —
  * N and avgfl come from the segments' doc counts, never from max docId.
  *
  * An append runs no separate counting job: the batch's row count (how
  * many segments it fills) comes from the docId stamp's offsets job, and
  * the new segments' doc metrics from the job that materializes the
  * analyzed docs. It writes no lexicon: the appended segments ARE the
  * delta lexicon (their lines are outside it, and readers fold the
  * lexicon with their own term stats, IndexBuilder.writeLexicon), so an
  * append promotes its segment dirs and commits them with the new counts
  * in one rename of the index's record (stats.json): the whole batch
  * becomes visible at once, or none of it. The small segments appends
  * leave are merged by MERGE_SMALL's single-task tail merge, which first
  * folds the deltas into the lexicon.
  */
object StreamingIngest {

  /** Append a static batch of new documents as fresh segments: every new
    * segment dir is promoted first, then ONE record commit makes the whole
    * batch and the new counts visible together. A crash before it leaves
    * promoted dirs no record lists (the next merge's gc deletes them); a
    * rerun rebuilds the same segIds. */
  def append(spark: SparkSession, batch: Dataset[CorpusRow], indexDir: String,
             cfg: IndexConfig = IndexConfig()): IndexStats =
    appendWith(spark, batch, indexDir, cfg, deleteIds = Seq.empty)

  /** `append`, with the tombstones of `deleteIds` (upsert's replaced
    * versions) written first and committed in the same record rename */
  private def appendWith(spark: SparkSession, batch: Dataset[CorpusRow], indexDir: String,
                         cfg: IndexConfig, deleteIds: Seq[Long]): IndexStats = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    // an index created empty (Engine.createIndex) carries authoritative
    // stats before its first segment exists — appended segments MUST use
    // the INDEX's segSize and analyzer chain, not the caller's cfg
    val prior =
      if (fs.exists(new org.apache.hadoop.fs.Path(IndexBuilder.statsPath(indexDir))))
        Some(IndexBuilder.readRecord(fs, indexDir))
      else None
    val existing = prior.fold(Seq.empty[SegmentManifest])(_.segments)
    val segIdBase = if (existing.isEmpty) 0 else existing.map(_.segId).max + 1
    val (segSize, analyzer) = prior.fold((cfg.segSize, cfg.analyzer))(r =>
      (r.stats.segSize, graft.analysis.AnalyzerSpec.fromString(r.stats.analyzer)))
    val docIdBase = segIdBase.toLong * segSize

    // stamp within the batch (D1 rank), then shift into the fresh range;
    // the stamp's offsets job also yields the batch's row count
    val (batchDocs, n) = IndexBuilder.stampDocIdsCounted(batch, cfg.sortPartitions)
    if (n == 0) return prior.fold(IndexBuilder.readStats(fs, indexDir))(_.stats)
    val numNewSegs = ((n + segSize - 1) / segSize).toInt
    val newSegs = segIdBase until (segIdBase + numNewSegs)
    val stamped = batchDocs.map(d => d.copy(docId = d.docId + docIdBase))

    val kept = Deletes.stage(fs, indexDir, segSize, existing, deleteIds)
    val added = newSegs.grouped(cfg.segmentsPerBatch).flatMap { group =>
      IndexBuilder.buildBatch(spark, fs, stamped, indexDir, Some(group),
        cfg.copy(segSize = segSize, analyzer = analyzer), existing)
    }.toSeq
    val live = kept ++ added
    val st = IndexStats(numDocs = live.map(_.docCount).sum,
      totalFieldLen = live.map(_.rawLenSum).sum, numSegments = live.size,
      segSize = segSize, analyzer = analyzer.asString)
    // the new segments are the delta lexicon; only an index with no
    // segments yet (Engine.createIndex) gets its lexicon, in the same commit
    if (existing.isEmpty) IndexBuilder.writeLexiconOf(spark, fs, indexDir, st, live)
    else IndexBuilder.commitRecord(fs, indexDir, st, live, prior.flatMap(_.lexicon))
  }

  /** Upsert by unique key (the reference's `put_document` semantics:
    * putting an existing id is delete-then-add — [R] cockatrice/indexer.py
    * via Whoosh update_document). Unique key = (repo, path, commit).
    *
    * 1. look up the batch keys in the docstats sidecar (broadcast semi-join
    *    — the collected id set is bounded by the BATCH size, never the
    *    index size); 2. write the old docIds' tombstone files; 3. append
    *    the batch as fresh segments; ONE record rename commits 2 and 3, so
    *    a crash leaves the old version live or the new one, never neither.
    *    Like the reference, the replaced docs stay in N/avgfl until a
    *    compaction purges them (stats refresh on optimize is a separate
    *    pass). */
  def upsert(spark: SparkSession, batch: Dataset[CorpusRow], indexDir: String,
             cfg: IndexConfig = IndexConfig()): IndexStats = {
    import spark.implicits._
    val keys = batch.select($"repo", $"path", $"commit").distinct()
    // the live segments' recorded docstats files only (readManifests
    // refuses a foreign format before anything is written)
    val live = IndexBuilder.readManifests(FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration), indexDir)
    val existing = IndexBuilder.docstatsRows(spark, indexDir, live)
      .select($"docId", $"repo", $"path", $"commit")
      .join(org.apache.spark.sql.functions.broadcast(keys), Seq("repo", "path", "commit"))
      .select($"docId").as[Long].collect()
    appendWith(spark, batch, indexDir, cfg, existing.toSeq)
  }

  /** Start a streaming ingest: every micro-batch commits new segments;
    * every `compactEvery` batches the size-tiered MERGE_SMALL policy
    * (Merger.mergeSmall) folds the small tail into full segments — large
    * segments are never rewritten, so per-trigger merge work is bounded by
    * the recent appends, not the index (the round-3 wiring ran a full
    * compact-to-one here: an O(index) rewrite every N batches). */
  def start(spark: SparkSession, stream: Dataset[CorpusRow], indexDir: String,
            checkpointDir: String, cfg: IndexConfig = IndexConfig(),
            compactEvery: Int = 0, groupSize: Int = 8,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[CorpusRow], batchId: Long) =>
        append(spark, batch, indexDir, cfg)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          graft.merge.Merger.mergeSmall(spark, indexDir, groupSize = groupSize)
          ()
        }
        ()
      }
      .start()
  }
}
