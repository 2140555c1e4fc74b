package graft.build

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.analysis.Analyzer
import graft.codec.{LengthByte, PostingsCodec, TermsBlob}
import graft.model._

/** Distributed inverted-index build (SURVEY.md §3.1, §7.1 steps 4-5).
  *
  * Pipeline (one Catalyst plan per batch):
  *   corpus -> deterministic docId stamp (D1) -> analyze once per doc ->
  *   explode to postings -> SALTED two-phase groupBy-(segment,term)
  *   aggregation (G1/G2) -> block-encoded posting lists (C1-C3) ->
  *   term-sorted parquet segments + one commit record (S3/S5).
  *
  * Scale design (10^12 files, BASELINE.json:14):
  *  - segments are docId ranges (doc-partitioned index): every segment is a
  *    complete mini-index, so queries are partition-local and fan out
  *    without a global norms/postings shuffle;
  *  - skew (G2, salted aggregation): the two-phase aggregation salts on the
  *    SOURCE-PARTITION id — phase 1 builds one compressed run per (input
  *    split, segment, term) map-side, so a Zipf-hot term never concentrates
  *    raw postings anywhere: each phase-1 group is bounded by the split
  *    size, and phase 2 k-way-merges the <=splits-per-segment runs
  *    streamingly; run-boundary invariance is property-tested;
  *  - commit: `stats.json` is the index's one commit record ([W]
  *    whoosh/index.py TOC, Lucene `segments_N`): the stats header naming
  *    the lexicon's files, then one manifest line per live segment,
  *    listing its files, its tombstone files and the counts and digest its
  *    write tasks folded (`SegmentFacts`). Every file is written once;
  *    writers put new files in place, then commit the whole record with
  *    one overwriting rename, so a reader sees the old record or the new
  *    one; readers open only the files it names, and `gc` deletes the
  *    rest;
  *  - resume: a segment the record lists is never rebuilt; a multi-batch
  *    build commits after every batch (its checkpoint);
  *  - shuffles: ONE wide exchange per batch (compressed runs -> segments),
  *    plus the one-off docId-stamp range sort. Raw postings never shuffle:
  *    the exchange moves ~compressed-index bytes only.
  */
object IndexBuilder {

  final case class IndexConfig(
      segSize: Int = 1 << 16,
      /** segments per build job = checkpoint granularity; the default
        * (MaxValue) builds everything in ONE count-free pass — set a finite
        * batch size to opt into mid-build checkpoints */
      segmentsPerBatch: Int = Int.MaxValue,
      /** partitions for the docId-stamp range sort; 0 = spark default */
      sortPartitions: Int = 0,
      /** partitions for the phase-2 run merge (the one wide exchange);
        * 0 = auto (shuffle.partitions x 4 for single-shot builds) */
      phase2Partitions: Int = 0,
      /** persist the analyzed docs between the docstats and postings
        * consumers; false re-analyzes (trades CPU for memory bandwidth —
        * see BENCH/BASELINE.md measurements) */
      persistAnalyzed: Boolean = true,
      /** the field's analysis chain ([R] cockatrice/schema.py registry);
        * persisted in stats.json so the query side analyzes identically */
      analyzer: graft.analysis.AnalyzerSpec = graft.analysis.AnalyzerSpec.Standard)

  final case class BuildReport(stats: IndexStats, builtSegments: Seq[Int],
                               skippedSegments: Seq[Int])

  // ---- layout ----
  def segmentsDir(ix: String) = s"$ix/segments"
  def docstatsDir(ix: String) = s"$ix/docstats"
  def lexiconDir(ix: String) = s"$ix/lexicon"
  def lexgramsDir(ix: String) = s"$ix/lexgrams"
  def statsPath(ix: String) = s"$ix/stats.json"
  def stagingDir(ix: String) = s"$ix/staging"

  // ---- table schemas ----
  //
  // The schema of every parquet table graft writes, exactly as Spark would
  // infer it from the files (columns nullable, segId the trailing
  // partition column). Every read of graft's own files passes its table's
  // schema (readFiles, readFlat), so no read opens a footer or runs a
  // one-task schema-inference job; StreamingIngestSpec checks each
  // constant against a fresh inference, so a writer change cannot silently
  // diverge.
  private def table(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
  /** segments/segId=N: one posting-list row per (segment, term) */
  val SegmentsSchema: StructType = table("term" -> StringType, "df" -> IntegerType,
    "maxTf" -> IntegerType, "cf" -> LongType, "blocks" -> BinaryType, "segId" -> IntegerType)
  /** docstats/segId=N: the per-doc sidecar (DocStat) */
  val DocstatsSchema: StructType = table("docId" -> LongType, "repo" -> StringType,
    "path" -> StringType, "commit" -> StringType, "lang" -> StringType, "sha" -> StringType,
    "rawLen" -> IntegerType, "lenByte" -> IntegerType, "segId" -> IntegerType)
  /** lexicon/: term -> global df, cf, maxTf */
  val LexiconSchema: StructType = table("term" -> StringType, "df" -> LongType,
    "cf" -> LongType, "maxTf" -> LongType)
  /** lexgrams/: 3-gram -> term */
  val LexgramsSchema: StructType = table("gram" -> StringType, "term" -> StringType)

  /** A segment table's rows (SegmentsSchema or DocstatsSchema under
    * `root`) from the files of the given segments, (segId, [(name, bytes)])
    * as their record lines name them, with their `segId` partition values. */
  private[graft] def readFiles(spark: SparkSession, schema: StructType, root: String,
                               segs: Seq[(Int, Seq[(String, Long)])]): DataFrame = {
    val dirs = segs.collect { case (segId, files) if files.nonEmpty =>
      (new Path(s"$root/segId=$segId"), files, segId)
    }
    seeded(spark, schema, dirs.map(d => d._1 -> d._2),
      dirs.map { case (dir, _, segId) => PartitionPath(InternalRow(segId), dir) })
  }

  /** An unpartitioned table (the lexicon, the gram sidecar) from the files
    * (name, bytes) the record names under `root`. Its root is qualified:
    * Spark looks an unpartitioned table's files up by its qualified root. */
  private[graft] def readFlat(spark: SparkSession, schema: StructType, root: String,
                              files: Seq[(String, Long)]): DataFrame = {
    val dir = new Path(root)
    val q = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)
    seeded(spark, schema, Seq(q -> files), Nil)
  }

  /** A parquet relation over exactly the files of `dirs` (dir -> [(name,
    * bytes)]) and the partitions `parts`: its file index is seeded with
    * them, so building, planning and scanning it lists nothing and starts
    * no discovery job; a named file that is gone fails the read, naming
    * the file. */
  private def seeded(spark: SparkSession, schema: StructType,
                     dirs: Seq[(Path, Seq[(String, Long)])], parts: Seq[PartitionPath]): DataFrame = {
    val leafFiles = dirs.map { case (dir, files) =>
      dir -> files.map { case (n, b) => new FileStatus(b, false, 1, b, 0L, new Path(dir, n)) }.toArray
    }.toMap
    val recorded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leafFiles.get(path)
      def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val (partCols, dataCols) = schema.partition(_.name == "segId")
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, dirs.map(_._1), Map.empty, Some(schema), recorded,
        Some(PartitionSpec(StructType(partCols), parts))),
      StructType(partCols), StructType(dataCols), None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** the posting / docstats rows of `segs`, from the files their record lines list */
  private[graft] def segmentRows(spark: SparkSession, ix: String,
                                 segs: Seq[SegmentManifest]): DataFrame =
    readFiles(spark, SegmentsSchema, segmentsDir(ix), segs.map(m => m.segId -> m.files))
  private[graft] def docstatsRows(spark: SparkSession, ix: String,
                                  segs: Seq[SegmentManifest]): DataFrame =
    readFiles(spark, DocstatsSchema, docstatsDir(ix), segs.map(m => m.segId -> m.docstats))

  /** Deterministic dense docIds (decision D1): global rank in
    * (repo, path, commit) order. Range-partitioned sort keeps it scalable;
    * zipWithIndex assigns per-partition offsets via one lightweight count
    * job (the single, documented RDD drop-down — Dataset has no
    * order-preserving index primitive). The assignment is independent of
    * partition count: boundaries move, global order doesn't. */
  def stampDocIds(corpus: Dataset[CorpusRow], partitions: Int = 0): Dataset[Doc] =
    stampDocIdsCounted(corpus, partitions)._1

  /** stampDocIds plus the corpus row count, which the offsets job already
    * collects per partition (an append sizes its new segments from it
    * without a count job of its own) */
  private[graft] def stampDocIdsCounted(corpus: Dataset[CorpusRow],
                                        partitions: Int = 0): (Dataset[Doc], Long) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val sorted = corpus
      .repartitionByRange(p, $"repo", $"path", $"commit")
      .sortWithinPartitions("repo", "path", "commit")
    // ONE InternalRow RDD shared by the offsets job and the stamp job (the
    // zipWithIndex contract, r6 at the Tungsten level): the count job
    // iterates binary UnsafeRows without touching a field — the r1-r5
    // rdd.zipWithIndex deserialized every content-bearing CorpusRow twice
    // (once to count, once to stamp). Same shuffle files feed both jobs;
    // docIds are unchanged (same sort, same prefix-sum offsets).
    val internal = sorted.queryExecution.toRdd
    val counts = internal.mapPartitions(it => Iterator(it.size.toLong)).collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = sorted.schema
    val iRepo = schema.fieldIndex("repo")
    val iPath = schema.fieldIndex("path")
    val iCommit = schema.fieldIndex("commit")
    val iLang = schema.fieldIndex("lang")
    val iContent = schema.fieldIndex("content")
    val stamped = internal.mapPartitionsWithIndex { (pid, it) =>
      var i = offsets(pid)
      it.map { row =>
        // getString copies out of the reused UnsafeRow buffer before next();
        // null guard matches the encoder's null -> null String behavior
        @inline def s(ord: Int): String =
          if (row.isNullAt(ord)) null else row.getString(ord)
        val content = s(iContent)
        val d = Doc(i, s(iRepo), s(iPath), s(iCommit), s(iLang), content,
          sha256Hex(content))
        i += 1
        d
      }
    }
    (spark.createDataset(stamped), offsets.last)
  }

  private val HexDigits = "0123456789abcdef".toCharArray
  /** lowercase hex of a byte array — same output as the r1-r5
    * `map(b => f"$b%02x").mkString`, minus the per-byte format-string parse
    * and String boxing that made it a top build-phase stack sample (one
    * call per doc on the analyze path) */
  def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexDigits(b >>> 4)
      out(i * 2 + 1) = HexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  private val Sha256Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("SHA-256"))

  def sha256Hex(s: String): String = {
    val md = Sha256Local.get()
    md.reset()
    toHex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Runs `side` on a daemon thread named `sideThread` while `main` runs
    * on the caller, and returns both results. Both sides are ALWAYS joined
    * before this returns, even when one fails: an orphaned side job must
    * not race a retry's staging cleanup. A failure is rethrown as the
    * original exception (never an ExecutionException wrapper); when both
    * sides fail, `main`'s failure wins and carries the side's as
    * suppressed. The side runs inside a FutureTask, so the call sites of
    * its Spark jobs carry that frame (a per-phase trace attributes the
    * overlapped jobs by it). On return, both sides' `SegmentFacts` are in. */
  private[graft] def concurrently[A, B](sideThread: String)(main: => A, side: => B): (A, B) = {
    val task = new java.util.concurrent.FutureTask[B](() => side)
    val t = new Thread(task, sideThread)
    t.setDaemon(true)
    t.start()
    // every Throwable, fatal ones too: the side is joined whatever happens
    def attempt[T](f: => T): Either[Throwable, T] =
      try Right(f) catch { case e: Throwable => Left(e) }
    val a = attempt(main)
    val b = attempt(task.get()).left.map {
      case e: java.util.concurrent.ExecutionException => e.getCause
      case e => e
    }
    (a, b) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), sideResult) =>
        sideResult.left.foreach(e.addSuppressed)
        throw e
      case (_, Left(e)) => throw e
    }
  }

  /** Full build with resume: segments the commit record lists are skipped.
    *
    * The content-bearing corpus is NEVER rewritten (at 10^12-file scale the
    * input table IS the doc store): stamping happens in-flight, persisted
    * for the duration of the run, and only a content-free doc-key map
    * (docId, repo, path, commit, lang, sha) is materialized for lookups.
    * docIds are a pure function of the corpus (D1), so a resumed run
    * re-derives identical ids.
    *
    * A single-shot build commits once, with its lexicon, so a record means
    * a finished index. A multi-batch build commits after every batch (its
    * checkpoint) and writes the lexicon last: until a record names one,
    * Searcher.open and the merges refuse the index and ask for this build
    * to be rerun. A directory holding another on-disk format is refused,
    * naming it for deletion. */
  def build(spark: SparkSession, corpus: Dataset[CorpusRow], indexDir: String,
            cfg: IndexConfig = IndexConfig()): BuildReport = {
    val fs = FileSystem.get(new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val prior = if (!fs.exists(new Path(statsPath(indexDir)))) None else {
      val fv = readStats(fs, indexDir).formatVersion
      require(fv == IndexStats.CurrentFormat,
        s"$indexDir holds an index in on-disk format $fv, this code builds format " +
          s"${IndexStats.CurrentFormat} and cannot resume it — delete $indexDir and " +
          "rerun IndexBuilder.build")
      Some(readRecord(fs, indexDir))
    }

    // NOT cached: at scale the stamped corpus is too large to pin, and the
    // stamp is a cheap deterministic recompute (gen/scan + range sort);
    // each batch re-derives it. The docstats sidecar doubles as the doc-key
    // map (docId, repo, path, commit, lang, sha) — no separate write.
    def stampedDocs: Dataset[Doc] = stampDocIds(corpus, cfg.sortPartitions)
    def stats(live: Seq[SegmentManifest]) = IndexStats(numDocs = live.map(_.docCount).sum,
      totalFieldLen = live.map(_.rawLenSum).sum, numSegments = live.size,
      segSize = cfg.segSize, analyzer = cfg.analyzer.asString)

    // resume skips every BUILD-LAYOUT segId already covered by a live
    // segment — after compaction the merged segment's `covers` keeps the
    // merged ranges from being re-ingested (docIds are a pure function
    // of the corpus, so coverage by range == coverage by layout segId)
    val committed = prior.fold(Seq.empty[SegmentManifest])(_.segments)
    val done = committed.flatMap(_.coverSet).toSet
    val (live, todo) =
      if (done.isEmpty && cfg.segmentsPerBatch == Int.MaxValue) {
        // fresh single-shot build: NO corpus count, no docId predicate —
        // one pass builds every segment, segIds discovered from the output
        // (a count of a generated/typed-mapped source costs a full scan)
        val built = buildBatch(spark, fs, stampedDocs, indexDir, None, cfg, committed)
        (built, built.map(_.segId))
      } else {
        // resume / explicit checkpoint batching: layout from the row count;
        // each checkpoint keeps the lexicon the record names (none yet for
        // a fresh build), its new segments outside it
        val numDocs = corpus.count()
        val numSegments = math.max(1, ((numDocs + cfg.segSize - 1) / cfg.segSize).toInt)
        val remaining = (0 until numSegments).filterNot(done)
        val all = remaining.grouped(cfg.segmentsPerBatch).foldLeft(committed) { (live, batch) =>
          val next = (live ++ buildBatch(spark, fs, stampedDocs, indexDir, Some(batch), cfg, live))
            .sortBy(_.segId)
          commitRecord(fs, indexDir, stats(next), next, prior.flatMap(_.lexicon))
          next
        }
        (all, remaining)
      }

    // the lexicon (cheap relative to the build) is redone at the end of
    // every (re)run so a resumed build finishes identically; it commits
    // with the segments
    BuildReport(writeLexiconOf(spark, fs, indexDir, stats(live), live), todo, done.toSeq.sorted)
  }

  /** one pseudo posting: tf 1, position 0, the doc's real lenByte (Every
    * scores are constant, but the list shares the block wire format) */
  private val PseudoPos = Array(0)
  @inline private def pseudoAdd(builders: java.util.HashMap[String, PostingsCodec.Encoder],
                                term: String, docId: Long, lenByte: Int): Unit = {
    var enc = builders.get(term)
    if (enc == null) { enc = new PostingsCodec.Encoder; builders.put(term, enc) }
    enc.add(docId, 1, lenByte, PseudoPos)
  }

  /** Builds and promotes the segments of `batch` (None: ALL segments found
    * in `docs`, in one pass) and returns their manifests, sorted by segId.
    * Nothing is committed: the caller (build, or a streaming append with
    * an already stamped, docId-shifted batch) puts them in the record,
    * whose lines are `live` now (no promote replaces one of them).
    * The write tasks fold the manifests' facts (`SegmentFacts`). */
  private[graft] def buildBatch(spark: SparkSession, fs: FileSystem, docs: Dataset[Doc],
                                indexDir: String, batch: Option[Seq[Int]],
                                cfg: IndexConfig,
                                live: Seq[SegmentManifest]): Seq[SegmentManifest] = {
    import spark.implicits._
    val segSize = cfg.segSize
    val staging = stagingDir(indexDir)
    fs.delete(new Path(staging), true)

    // contiguous segId runs -> docId range predicate over the stamped corpus
    val filtered = batch match {
      case None => docs
      case Some(ids) =>
        val ranges = contiguousRuns(ids).map { case (lo, hi) =>
          (lo.toLong * segSize, (hi.toLong + 1L) * segSize)
        }
        docs.filter(ranges.map { case (lo, hi) => $"docId" >= lo && $"docId" < hi }
          .reduce(_ || _))
    }

    // analyze ONCE per doc; both consumers read the persisted result
    // (persistAnalyzed=false re-analyzes per consumer instead — measured
    // tradeoff in BENCH/BASELINE.md). The pinned standard chain uses the
    // allocation-free scanner fast path; any other spec runs its compiled
    // chain (semantics property-tested equal for the standard spec).
    val spec = cfg.analyzer
    val analyzeFn: String => Analyzer.Analyzed =
      if (spec == graft.analysis.AnalyzerSpec.Standard) Analyzer.analyze
      else {
        val chain = new graft.analysis.Chain(spec)
        chain.analyze
      }
    val analyzed = filtered.map { d =>
      val a = analyzeFn(d.content)
      AnalyzedDoc(
        segId = (d.docId / segSize).toInt, docId = d.docId,
        repo = d.repo, path = d.path, commit = d.commit, lang = d.lang,
        sha = d.sha, rawLen = a.fieldLen, lenByte = LengthByte.encode(a.fieldLen),
        blob = TermsBlob.encode(a))
    }
    if (cfg.persistAnalyzed) analyzed.persist(StorageLevel.MEMORY_AND_DISK)
    val facts = new SegmentFacts
    spark.sparkContext.register(facts)

    try {
      // materialize the analyzed cache (ONE job, no exchange: an RDD count
      // of no columns; Dataset.count plans one), so the two consumers
      // below run CONCURRENTLY against it (guide §2.6 overlap: the small
      // docstats write back-fills executors left idle by the postings
      // job's tail) without racing the cache computation
      if (cfg.persistAnalyzed) analyzed.select().queryExecution.toRdd.count()

      // Phase 1 (map-side combine, G1/G2): per input partition, stream docs
      // in docId order and append each (docId, tf, lenByte, positions) to a
      // per-(segment, term) incremental block encoder; flush a compressed
      // RUN per term at every segment boundary. Salt = source-partition id:
      // a hot term never materializes more than one input split's postings
      // in memory, and only COMPRESSED runs ever hit the shuffle.
      lazy val runs: Dataset[Run] = analyzed.mapPartitions { docsIt =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        new Iterator[Run] {
          private val pending = new java.util.ArrayDeque[Run]()
          private var curSeg = -1
          private var lastDocId = Long.MinValue
          private var builders = new java.util.HashMap[String, PostingsCodec.Encoder]()

          private def flushSeg(): Unit = {
            val it = builders.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val enc = e.getValue.finish()
              pending.add(Run(curSeg, e.getKey, pid, enc.df, enc.maxTf, enc.cf, enc.bytes))
            }
            builders = new java.util.HashMap[String, PostingsCodec.Encoder]()
          }
          private def fill(): Unit = {
            while (pending.isEmpty && docsIt.hasNext) {
              val a = docsIt.next()
              // flush on segment boundary OR when docIds run backwards (a
              // read partition can pack multiple parquet files out of docId
              // order) — each run must stay docId-ascending
              if (a.segId != curSeg || a.docId <= lastDocId) {
                if (curSeg >= 0) flushSeg()
                curSeg = a.segId
              }
              lastDocId = a.docId
              TermsBlob.foreachEntryFields(a.blob) { (term, tf, posOff, posLen) =>
                var enc = builders.get(term)
                if (enc == null) { enc = new PostingsCodec.Encoder; builders.put(term, enc) }
                enc.addEncoded(a.docId, tf, a.lenByte, a.blob, posOff, posLen)
              }
              // D14: persisted match-all pseudo lists. Every doc joins the
              // segment's all-docs list; docs with >= 1 token also join the
              // non-empty ("field has a value") list. They ride the
              // ordinary run/merge/write machinery and end up as two
              // reserved-term rows per segment, so NOT/`*`/`field:*`
              // queries read them through the same pruned `term IN` scan as
              // real terms instead of scanning docstats per query.
              pseudoAdd(builders, graft.search.Q.EveryTerm, a.docId, a.lenByte)
              if (a.rawLen > 0)
                pseudoAdd(builders, graft.search.Q.EveryNonEmptyTerm, a.docId, a.lenByte)
            }
            if (pending.isEmpty && !docsIt.hasNext && !builders.isEmpty) flushSeg()
          }
          def hasNext: Boolean = { fill(); !pending.isEmpty }
          def next(): Run = { fill(); pending.poll() }
        }
      }

      // Phase 2 (reduce): ONE shuffle — partition runs by segment, sort by
      // (segId, term, salt), and stream-merge consecutive runs of the same
      // term (k-way docId merge). Output rows leave the task already
      // term-sorted, so the write needs no further exchange and parquet
      // min/max stats on `term` stay sharp (SURVEY.md §4.2).
      val numParts =
        if (cfg.phase2Partitions > 0) cfg.phase2Partitions
        else batch.map(b => math.max(1, b.size))
          .getOrElse(spark.sessionState.conf.numShufflePartitions * 4)
      // posting facts fold here: the result stage, after the one exchange
      lazy val segRows = runs
        .repartition(numParts, $"segId")
        .sortWithinPartitions("segId", "term", "salt")
        .mapPartitions { it =>
          facts.postings(new Iterator[SegRow] {
            private var lookahead: Run = if (it.hasNext) it.next() else null
            def hasNext: Boolean = lookahead != null
            def next(): SegRow = {
              val first = lookahead
              lookahead = null
              var group = List(first)
              var continue = true
              while (continue && it.hasNext) {
                val r = it.next()
                if (r.segId == first.segId && r.term == first.term) group = r :: group
                else { lookahead = r; continue = false }
              }
              if (group.tail.isEmpty)
                SegRow(first.segId, first.term, first.df, first.maxTf, first.cf,
                  first.blocks)
              else {
                val enc = PostingsCodec.merge(group.reverse.map(_.blocks))
                SegRow(first.segId, first.term, enc.df, enc.maxTf, enc.cf, enc.bytes)
              }
            }
          })
        }

      // the big postings job, overlapped with the docstats write. The two
      // Datasets above are lazy so they are built on this thread after the
      // docstats writer has started: its small job reaches the scheduler
      // first instead of queueing behind the postings job's tasks.
      concurrently("graft-docstats-write")(
        segRows.write.mode(SaveMode.Overwrite).partitionBy("segId")
          .parquet(s"$staging/segments"),
        analyzed
          .mapPartitions(it => facts.docs(it.map(a => DocStat(a.segId, a.docId, a.repo,
            a.path, a.commit, a.lang, a.sha, a.rawLen, a.lenByte))))
          .write.mode(SaveMode.Overwrite).partitionBy("segId")
          .parquet(s"$staging/docstats"))

      // promote staging -> final, each segment's files listed once for the
      // record; the caller's record commit makes them live
      val built = batch.getOrElse(facts.value.keySet.toSeq).sorted.map { segId =>
        val f = facts(segId)
        val (lo, hi) = if (f.docCount > 0) (f.docLo, f.docHi)
          else (segId.toLong * segSize, segId.toLong * segSize)
        val (files, docstats) = promoteSegment(fs, staging, indexDir, segId, live)
        f.line(segId, lo, hi, "corpus", files, docstats)
      }
      fs.delete(new Path(staging), true)
      built
    } finally analyzed.unpersist()
  }

  /** The parquet files of a staged segment dir as (name, bytes), sorted:
    * one listing, which writers pay for the dir they staged so that readers
    * never list. A segment with no rows has no dir and no files. */
  private[graft] def listFiles(fs: FileSystem, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.map(f => f.getPath.getName -> f.getLen).filter { case (n, _) =>
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_._1)
  }

  /** Global lexicon: term -> corpus-wide df, cf and maxTf,
    * range-partitioned + sorted so query-term lookups prune to one file /
    * few row groups. A 3-gram sidecar (gram -> term, gram-sorted) makes
    * UNPREFIXED multiterm expansion (fuzzy, infix wildcards) a pruned gram
    * lookup instead of a full lexicon pass (Searcher.scanMulti).
    *
    * LSM shape, Whoosh-style ([W] whoosh/reading.py MultiReader sums
    * doc_frequency over its segments' own term tables): the record's header
    * names the lexicon's files, and each line says whether the lexicon
    * holds its stats (`inLexicon`). The lines outside it are the DELTA
    * lexicon: their own (term, df, cf, maxTf) columns are read from their
    * recorded files (`segmentLexicon`; `blocks` is never read), so an
    * append writes no lexicon file at all. Readers fold base + delta
    * segments (Searcher.open); MERGE_SMALL / compact fold them into the
    * base (foldLexiconDeltas) BEFORE they merge, so a merged segment never
    * mixes segments inside and outside the lexicon.
    *
    * This full rebuild covers every live segment and commits the record. */
  def writeLexicon(spark: SparkSession, indexDir: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val rec = readRecord(fs, indexDir)
    writeLexiconOf(spark, fs, indexDir, rec.stats, rec.segments)
    ()
  }

  /** writeLexicon over the segments `live`, committed with them and the
    * stats `st` as the index's record */
  private[graft] def writeLexiconOf(spark: SparkSession, fs: FileSystem, indexDir: String,
                                    st: IndexStats, live: Seq[SegmentManifest]): IndexStats =
    // the segments' recorded files only: dirs a crashed merge left behind
    // are never read, so they cannot double-count into the global df
    commitLexicon(spark, fs, indexDir, st, live,
      aggregateLexicon(segmentLexicon(spark, indexDir, live)), grams = None)

  /** The lexicon rows of the given segments, read from their recorded
    * files (D14 pseudo rows excluded; `blocks` pruned away): one row per
    * (segment, term) — aggregate with `aggregateLexicon`, or sum on the
    * driver for a pruned lookup. `segs` are the delta lexicon (the live
    * segments outside the lexicon), or every live segment for a full
    * rebuild. */
  private[graft] def segmentLexicon(spark: SparkSession, indexDir: String,
                                    segs: Seq[SegmentManifest]): DataFrame =
    segmentRows(spark, indexDir, segs).filter(col("term") >= graft.search.Q.RealTermMin)
      .select(col("term"), col("df").cast("long").as("df"), col("cf"),
        col("maxTf").cast("long").as("maxTf"))

  /** term -> summed df and cf, max maxTf ([W] whoosh TermInfo max_weight:
    * the driver-side query upper-bound input, Searcher.termStats) */
  private[graft] def aggregateLexicon(rows: DataFrame): DataFrame =
    rows.groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"),
      sum(col("cf")).cast("long").as("cf"),
      max(col("maxTf")).cast("long").as("maxTf"))

  /** the lexicon and gram sidecar tables over the files `lex` names */
  private[graft] def lexiconTables(spark: SparkSession, indexDir: String,
                                   lex: LexiconFiles): (DataFrame, DataFrame) =
    (readFlat(spark, LexiconSchema, lexiconDir(indexDir), lex.lexicon),
      readFlat(spark, LexgramsSchema, lexgramsDir(indexDir), lex.lexgrams))

  /** Fold the delta segments into the lexicon (the LSM compaction step,
    * run by Merger.mergeSmall/compact before they merge): the lexicon ∪
    * the delta segments' rows, re-aggregated, committed with every line
    * inside it. The gram sidecar becomes the distinct union of its grams
    * and the delta terms' 3-grams. Returns true if anything was folded.
    * An unfinished build (its record names no lexicon yet) is refused. */
  def foldLexiconDeltas(spark: SparkSession, indexDir: String): Boolean = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val rec = readRecord(fs, indexDir)
    val lex = lexiconOf(rec, indexDir)
    val deltas = rec.segments.filterNot(_.inLexicon)
    if (deltas.isEmpty) return false
    val delta = segmentLexicon(spark, indexDir, deltas)
    val (lexicon, grams) = lexiconTables(spark, indexDir, lex)
    commitLexicon(spark, fs, indexDir, rec.stats, rec.segments,
      aggregateLexicon(lexicon.unionByName(delta)),
      Some(grams.unionByName(gramRowsOf(delta.select($"term").as[String])).distinct()))
    true
  }

  /** Stage the aggregated lexicon `agg` and the gram sidecar (`grams`, or
    * the 3-grams of every `agg` term), move each staged parquet file, under
    * its unique Spark-generated name, into the flat lexicon/ and lexgrams/
    * dirs, then commit `live` (every line inside the new lexicon) with the
    * stats `st`: ONE record rename makes both tables live, and `gc` deletes
    * the old files. A crash before the rename leaves the old record; the
    * moved files are garbage the next gc deletes. */
  private def commitLexicon(spark: SparkSession, fs: FileSystem, indexDir: String,
                            st: IndexStats, live: Seq[SegmentManifest],
                            agg: DataFrame, grams: Option[DataFrame]): IndexStats = {
    import spark.implicits._
    val lexPartitions = math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    val lexStaging = s"${stagingDir(indexDir)}-lexicon"
    val gramStaging = s"${stagingDir(indexDir)}-lexgrams"
    fs.delete(new Path(lexStaging), true)
    fs.delete(new Path(gramStaging), true)
    // The aggregate is persisted for the duration of the write: its
    // consumers (the range-partitioner's sampling pass, the base write and,
    // for a full rebuild, the gram-sidecar write) would otherwise each rerun
    // the segments scan + groupBy. Vocab-sized state, released before return.
    val cached = agg.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize once when both writers below read the cache
      if (grams.isEmpty) cached.count()
      val gramRows = grams.getOrElse(gramRowsOf(cached.select($"term").as[String]))
      // base and gram sidecar go to DIFFERENT staging dirs — overlap them
      concurrently("graft-lexgrams-write")(
        cached.repartitionByRange(lexPartitions, $"term")
          .sortWithinPartitions("term")
          .write.mode(SaveMode.Overwrite).parquet(lexStaging),
        gramRows.repartitionByRange(lexPartitions, $"gram")
          .sortWithinPartitions("gram", "term")
          .write.mode(SaveMode.Overwrite).parquet(gramStaging))
    } finally { cached.unpersist(); () }
    def moveInto(staged: String, dir: String): Seq[(String, Long)] = {
      val files = listFiles(fs, staged)
      fs.mkdirs(new Path(dir))
      files.foreach(f => require(fs.rename(new Path(staged, f._1), new Path(dir, f._1)),
        s"move failed: $staged/${f._1} -> $dir"))
      fs.delete(new Path(staged), true)
      files
    }
    val lex = LexiconFiles(moveInto(lexStaging, lexiconDir(indexDir)),
      moveInto(gramStaging, lexgramsDir(indexDir)))
    val committed = live.map(_.copy(inLexicon = true))
    val out = commitRecord(fs, indexDir, st, committed, Some(lex))
    gc(fs, indexDir, Record(out, Some(lex), committed))
    out
  }

  /** (gram, term) sidecar rows of `terms` */
  private def gramRowsOf(terms: Dataset[String]): DataFrame = {
    import terms.sparkSession.implicits._
    terms.flatMap(t => grams3(t).iterator.map(g => (g, t))).toDF("gram", "term")
  }

  /** distinct character 3-grams of a term (terms shorter than 3 chars have
    * none and always take the full-scan fallback) */
  def grams3(t: String): Array[String] =
    if (t.length < 3) Array.empty
    else Array.tabulate(t.length - 2)(i => t.substring(i, i + 3)).distinct

  // ---- the commit record (stats.json) ----
  //
  // Line 1 is the flat stats header, ending with the lexicon's files once
  // a lexicon is written; one manifest line per live segment follows,
  // sorted by segId (numSegments is their count). Each file list is
  // (name, bytes) as its writer listed it, and readers find every file
  // through these lists. Every commit point rewrites the whole record
  // through commitRecord, so the live files and the counts readers score
  // with change together.

  private def filesJson(key: String, files: Seq[(String, Long)]): String =
    files.map { case (n, b) => s"""{"name":"$n","bytes":$b}""" }
      .mkString(s""","$key":[""", ",", "]")

  private def manifestJson(m: SegmentManifest): String =
    s"""{"segId":${m.segId},"docLo":${m.docLo},"docHi":${m.docHi},"docCount":${m.docCount},
       |"rawLenSum":${m.rawLenSum},"postingRows":${m.postingRows},"postingBytes":${m.postingBytes},
       |"digest":"${m.digest}","source":"${m.source}",
       |"covers":[${m.coverSet.mkString(",")}]""".stripMargin.replace("\n", "") +
      filesJson("files", m.files) + filesJson("docstats", m.docstats) +
      filesJson("deletes", m.deletes) + s""","inLexicon":${m.inLexicon}}"""

  /** Commit `segments` (every live segment, its files in place already),
    * the counts of `st` and the lexicon files `lexicon` (None: none yet,
    * an unfinished build) as the index's record: written to a tmp file,
    * then renamed over stats.json — THE commit point, so a crash leaves the
    * old record or the new one. The header's numSegments is
    * `segments.size`. Returns the committed stats. */
  def commitRecord(fs: FileSystem, indexDir: String, st: IndexStats,
                   segments: Seq[SegmentManifest],
                   lexicon: Option[LexiconFiles] = None): IndexStats = {
    val committed = st.copy(numSegments = segments.size)
    val header = s"""{"formatVersion":${st.formatVersion},""" +
      s""""numDocs":${st.numDocs},"totalFieldLen":${st.totalFieldLen},""" +
      s""""numSegments":${committed.numSegments},"segSize":${st.segSize},""" +
      s""""analyzer":"${st.analyzer}"""" +
      lexicon.fold("")(l => filesJson("lexicon", l.lexicon) + filesJson("lexgrams", l.lexgrams)) +
      "}"
    val record = (header +: segments.sortBy(_.segId).map(manifestJson)).mkString("", "\n", "\n")
    val tmp = new Path(indexDir, ".stats.json.tmp")
    val out = fs.create(tmp, true)
    out.write(record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // OVERWRITING rename: a delete-then-rename pair leaves a crash window
    // with NO record, which un-commits the whole index until a rebuild
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, new Path(statsPath(indexDir)), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    committed
  }

  /** The record's live segments; none when no record exists yet. Refuses
    * an index in another on-disk format, like readRecord. */
  def readManifests(fs: FileSystem, indexDir: String): Seq[SegmentManifest] =
    if (!fs.exists(new Path(statsPath(indexDir)))) Seq.empty
    else readRecord(fs, indexDir).segments

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** the value of a required `"key":<valueRe>` field of the flat JSON
    * record `json` read from `path`; a missing key (a truncated or foreign
    * file) fails naming both */
  private def requiredField(json: String, path: String, key: String,
                            valueRe: String): String =
    s""""$key":$valueRe""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse(
      throw new IllegalStateException(
        s"$path: missing or malformed \"$key\" (truncated or foreign file?)"))

  /** the required (name, bytes) list `key` of `json` */
  private def fileList(json: String, path: String, key: String): Seq[(String, Long)] =
    """\{"name":"([^"]*)","bytes":(\d+)\}""".r
      .findAllMatchIn(requiredField(json, path, key, "\\[([^\\]]*)\\]"))
      .map(f => f.group(1) -> f.group(2).toLong).toSeq

  private def parseManifest(json: String, path: String): SegmentManifest = {
    def l(k: String): Long = requiredField(json, path, k, "(-?\\d+)").toLong
    def s(k: String): String = requiredField(json, path, k, "\"([^\"]*)\"")
    val segId = l("segId").toInt
    // fields parse in record order, so a truncated line names its first
    // missing key
    SegmentManifest(segId, l("docLo"), l("docHi"), l("docCount"),
      l("rawLenSum"), l("postingRows"), l("postingBytes"), s("digest"), s("source"),
      covers = requiredField(json, path, "covers", "\\[([0-9,]*)\\]")
        .split(',').toSeq.filter(_.nonEmpty).map(_.toInt),
      files = fileList(json, path, "files"), docstats = fileList(json, path, "docstats"),
      deletes = fileList(json, path, "deletes"),
      inLexicon = requiredField(json, path, "inLexicon", "(true|false)").toBoolean)
  }

  private def parseStats(json: String, path: String): IndexStats = {
    def l(k: String): Long = requiredField(json, path, k, "(-?\\d+)").toLong
    val analyzer = """"analyzer":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(graft.analysis.AnalyzerSpec.Standard.asString)
    // unstamped stats.json = a pre-round-5 (<=v6) layout; callers that care
    // (readRecord) reject, metadata-only readers still get the numbers
    val fv = """"formatVersion":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(0)
    IndexStats(l("numDocs"), l("totalFieldLen"), l("numSegments").toInt,
      l("segSize").toInt, analyzer, fv)
  }

  /** The record's header: the index's stats. Only line 1 is parsed, so the
    * one-line stats.json of older formats reads too (its formatVersion
    * tells them apart). */
  def readStats(fs: FileSystem, indexDir: String): IndexStats = {
    val path = statsPath(indexDir)
    parseStats(readText(fs, new Path(path)).linesIterator.nextOption().getOrElse(""), path)
  }

  /** The record of an index in THIS code's on-disk format — its stats, the
    * lexicon files its header names and its live segments, from one read —
    * else a fail-fast "rebuild" error: the one format check shared by the
    * reader (Searcher.open) and the writers (append, upsert, deletes,
    * merges, compact), so an older index is never silently relabelled as
    * the current format. Nothing is written before the check. */
  def readRecord(fs: FileSystem, indexDir: String): Record = {
    val path = statsPath(indexDir)
    val lines = readText(fs, new Path(path)).linesIterator.toVector
    val header = lines.headOption.getOrElse("")
    val st = parseStats(header, path)
    require(st.formatVersion == IndexStats.CurrentFormat,
      s"index at $indexDir has on-disk formatVersion ${st.formatVersion}, " +
        s"this code needs ${IndexStats.CurrentFormat} — " +
        "rebuild the index (IndexBuilder.build) to migrate")
    val lexicon = Option.when(header.contains("\"lexicon\":"))(
      LexiconFiles(fileList(header, path, "lexicon"), fileList(header, path, "lexgrams")))
    val segments = lines.iterator.zipWithIndex.drop(1)
      .map { case (line, i) => parseManifest(line, s"$path line ${i + 1}") }.toVector
    if (segments.size != st.numSegments) throw new IllegalStateException(
      s"$path: \"numSegments\" is ${st.numSegments} but ${segments.size} segment lines " +
        "follow (truncated or foreign file?)")
    Record(st, lexicon, segments)
  }

  /** The lexicon files `rec` names, else the "unfinished build" error: a
    * multi-batch build names its lexicon last, so until its rerun finishes
    * it, no reader opens the index and no merge rewrites it. */
  def lexiconOf(rec: Record, indexDir: String): LexiconFiles =
    rec.lexicon.getOrElse(throw new IllegalStateException(s"index at $indexDir has " +
      "segments but no lexicon: an unfinished build — rerun IndexBuilder.build to finish it"))

  /** readRecord's stats and live segments */
  def readCurrentRecord(fs: FileSystem, indexDir: String): (IndexStats, Seq[SegmentManifest]) = {
    val rec = readRecord(fs, indexDir)
    (rec.stats, rec.segments)
  }

  /** Promotes segment `segId`'s staged `staging/{segments,docstats}/segId=N`
    * dirs into place and returns their (posting, docstats) files, listed
    * once here so that readers never list. It refuses a segId a `live`
    * line has (a promote never replaces a live segment) and deletes what a
    * crash left at the target before its rename. */
  private[graft] def promoteSegment(fs: FileSystem, staging: String, indexDir: String,
                                    segId: Int, live: Seq[SegmentManifest])
      : (Seq[(String, Long)], Seq[(String, Long)]) = {
    require(!live.exists(_.segId == segId),
      s"segment $segId is live: a promote never replaces a live segment")
    def promote(table: String, root: String): Seq[(String, Long)] = {
      val src = new Path(s"$staging/$table/segId=$segId")
      val dst = new Path(s"$root/segId=$segId")
      val files = listFiles(fs, src.toString)
      fs.delete(dst, true)
      if (fs.exists(src)) {
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"promote failed: $src -> $dst")
      }
      files
    }
    (promote("segments", segmentsDir(indexDir)), promote("docstats", docstatsDir(indexDir)))
  }

  /** The one GC rule (single writer): delete every segments/ and docstats/
    * `segId=N` dir no line of `rec` lists, and every file under deletes/,
    * lexicon/ and lexgrams/ `rec` does not name (hidden checksum files go
    * with their file), crash leftovers included. Writers run it right
    * after a commit that stops naming files: a merge, a fold, a lexicon
    * write or a purge. */
  private[graft] def gc(fs: FileSystem, indexDir: String, rec: Record): Unit = {
    def sweep(dir: String)(keep: String => Boolean): Unit = {
      val p = new Path(dir)
      if (fs.exists(p)) fs.listStatus(p).foreach { f =>
        if (!keep(f.getPath.getName)) fs.delete(f.getPath, true)
      }
    }
    val live = rec.segments.map(_.segId).toSet
    Seq(segmentsDir(indexDir), docstatsDir(indexDir)).foreach(sweep(_) { n =>
      !n.startsWith("segId=") || n.stripPrefix("segId=").toIntOption.forall(live)
    })
    val lex = rec.lexicon.getOrElse(LexiconFiles(Nil, Nil))
    Seq(Deletes.dir(indexDir) -> rec.segments.flatMap(_.deletes),
      lexiconDir(indexDir) -> lex.lexicon, lexgramsDir(indexDir) -> lex.lexgrams)
      .foreach { case (dir, named) =>
        val names = named.map(_._1).toSet
        sweep(dir)(n => names(n) || n.startsWith("."))
      }
  }

  private def contiguousRuns(ids: Seq[Int]): Seq[(Int, Int)] = {
    if (ids.isEmpty) return Seq.empty
    val sorted = ids.sorted
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lo = sorted.head
    var hi = sorted.head
    sorted.tail.foreach { id =>
      if (id == hi + 1) hi = id
      else { runs += ((lo, hi)); lo = id; hi = id }
    }
    runs += ((lo, hi))
    runs.toSeq
  }
}
