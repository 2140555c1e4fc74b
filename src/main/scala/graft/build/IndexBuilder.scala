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
  *    whoosh/index.py TOC): the stats header, then one manifest line per
  *    live segment, listing its files. Writers promote staging -> final
  *    (rename), then commit the whole record with one overwriting rename,
  *    so a reader sees the old record or the new one; readers open only
  *    the files it lists, so dirs no record lists are garbage;
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
      analyzer: graft.analysis.AnalyzerSpec = graft.analysis.AnalyzerSpec.Standard,
      source: String = "corpus")

  final case class BuildReport(stats: IndexStats, builtSegments: Seq[Int],
                               skippedSegments: Seq[Int])

  // ---- layout ----
  def docsDir(ix: String) = s"$ix/docs"
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
  // schema (readTable, readFiles), so no read opens a footer or runs a
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

  /** A whole unpartitioned table (the lexicon, the gram sidecar), read
    * with its known schema */
  private[graft] def readTable(spark: SparkSession, schema: StructType, root: String): DataFrame =
    spark.read.schema(schema).parquet(root)

  /** A segment table's rows (SegmentsSchema or DocstatsSchema under
    * `root`) from the files of the given segments, (segId, [(name, bytes)])
    * as a commit record or a writer's listing of its staged dirs names
    * them. The file index is seeded with exactly those files and their
    * `segId` partition values, so building, planning and scanning the
    * relation lists nothing and starts no discovery job; a listed file that
    * is gone fails the read, naming the file. */
  private[graft] def readFiles(spark: SparkSession, schema: StructType, root: String,
                               segs: Seq[(Int, Seq[(String, Long)])]): DataFrame = {
    val dirs = segs.collect { case (segId, files) if files.nonEmpty =>
      val dir = new Path(s"$root/segId=$segId")
      PartitionPath(InternalRow(segId), dir) ->
        files.map { case (n, b) => new FileStatus(b, false, 1, b, 0L, new Path(dir, n)) }.toArray
    }
    val leafFiles = dirs.map { case (part, files) => part.path -> files }.toMap
    val recorded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leafFiles.get(path)
      def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val (partCols, dataCols) = schema.partition(_.name == "segId")
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, dirs.map(_._1.path), Map.empty, Some(schema), recorded,
        Some(PartitionSpec(StructType(partCols), dirs.map(_._1)))),
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
    * overlapped jobs by it). */
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
    * A single-shot build commits once, after its lexicon, so a record means
    * a finished index. A multi-batch build commits after every batch (its
    * checkpoint) and writes the lexicon last: until then Searcher.open
    * refuses the index and asks for this build to be rerun. A directory
    * holding another on-disk format is refused, naming it for deletion. */
  def build(spark: SparkSession, corpus: Dataset[CorpusRow], indexDir: String,
            cfg: IndexConfig = IndexConfig()): BuildReport = {
    val fs = FileSystem.get(new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(statsPath(indexDir)))) {
      val fv = readStats(fs, indexDir).formatVersion
      require(fv == IndexStats.CurrentFormat,
        s"$indexDir holds an index in on-disk format $fv, this code builds format " +
          s"${IndexStats.CurrentFormat} and cannot resume it — delete $indexDir and " +
          "rerun IndexBuilder.build")
    }

    // NOT cached: at scale the stamped corpus is too large to pin, and the
    // stamp is a cheap deterministic recompute (gen/scan + range sort);
    // each batch re-derives it. The docstats sidecar doubles as the doc-key
    // map (docId, repo, path, commit, lang, sha) — no separate write.
    def stampedDocs: Dataset[Doc] = stampDocIds(corpus, cfg.sortPartitions)
    def commit(live: Seq[SegmentManifest]): IndexStats = commitRecord(fs, indexDir,
      IndexStats(numDocs = live.map(_.docCount).sum,
        totalFieldLen = live.map(_.rawLenSum).sum, numSegments = live.size,
        segSize = cfg.segSize, analyzer = cfg.analyzer.asString), live)

    // resume skips every BUILD-LAYOUT segId already covered by a live
    // segment — after compaction the merged segment's `covers` keeps the
    // merged ranges from being re-ingested (docIds are a pure function
    // of the corpus, so coverage by range == coverage by layout segId)
    val committed = readManifests(fs, indexDir)
    val done = committed.flatMap(_.coverSet).toSet
    val (live, todo) =
      if (done.isEmpty && cfg.segmentsPerBatch == Int.MaxValue) {
        // fresh single-shot build: NO corpus count, no docId predicate —
        // one pass builds every segment, segIds discovered from the output
        // (a count of a generated/typed-mapped source costs a full scan)
        val built = buildBatch(spark, fs, stampedDocs, indexDir, None, cfg)
        (built, built.map(_.segId))
      } else {
        // resume / explicit checkpoint batching: layout from the row count
        val numDocs = corpus.count()
        val numSegments = math.max(1, ((numDocs + cfg.segSize - 1) / cfg.segSize).toInt)
        val remaining = (0 until numSegments).filterNot(done)
        val all = remaining.grouped(cfg.segmentsPerBatch).foldLeft(committed) { (live, batch) =>
          val next = (live ++ buildBatch(spark, fs, stampedDocs, indexDir, Some(batch), cfg))
            .sortBy(_.segId)
          commit(next)
          next
        }
        (all, remaining)
      }

    // the lexicon (cheap relative to the build) is redone at the end of
    // every (re)run so a resumed build finishes identically
    writeLexiconOf(spark, fs, indexDir, live)
    BuildReport(commit(live), todo, done.toSeq.sorted)
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
    * an already stamped, docId-shifted batch) puts them in the record. */
  private[graft] def buildBatch(spark: SparkSession, fs: FileSystem, docs: Dataset[Doc],
                                indexDir: String, batch: Option[Seq[Int]],
                                cfg: IndexConfig): Seq[SegmentManifest] = {
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

    try {
      // the manifest's per-segment doc metrics (docCount, docId range,
      // rawLen sum) as per-partition partials merged on the driver: ONE
      // job, no exchange, three columns decoded. It also materializes the
      // analyzed cache, so the two consumers below (docstats sidecar,
      // postings build) can run CONCURRENTLY against it (guide §2.6
      // overlap: the small docstats write back-fills executors left idle by
      // the postings job's tail) without racing the cache computation
      // partition by partition.
      val docAgg: Map[Int, (Long, Long, Long, Long)] = {
        // (count, lo, hi, rawLenSum), folded map-side and again on the driver
        val combine = (a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =>
          (a._1 + b._1, math.min(a._2, b._2), math.max(a._3, b._3), a._4 + b._4)
        analyzed.select($"segId", $"docId", $"rawLen").as[(Int, Long, Int)]
          .mapPartitions { it =>
            val acc = scala.collection.mutable.HashMap.empty[Int, (Long, Long, Long, Long)]
            it.foreach { case (segId, docId, rawLen) =>
              val one = (1L, docId, docId, rawLen.toLong)
              acc(segId) = acc.get(segId).fold(one)(combine(_, one))
            }
            acc.iterator
          }
          .collect()
          .groupMapReduce(_._1)(_._2)(combine)
      }

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
      lazy val segRows = runs
        .repartition(numParts, $"segId")
        .sortWithinPartitions("segId", "term", "salt")
        .mapPartitions { it =>
          new Iterator[SegRow] {
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
          }
        }

      // the big postings job, overlapped with the docstats write. The two
      // Datasets above are lazy so they are built on this thread after the
      // docstats writer has started: its small job reaches the scheduler
      // first instead of queueing behind the postings job's tasks.
      concurrently("graft-docstats-write")(
        segRows.write.mode(SaveMode.Overwrite).partitionBy("segId")
          .parquet(s"$staging/segments"),
        analyzed
          .map(a => DocStat(a.segId, a.docId, a.repo, a.path, a.commit, a.lang,
            a.sha, a.rawLen, a.lenByte))
          .write.mode(SaveMode.Overwrite).partitionBy("segId")
          .parquet(s"$staging/docstats"))

      // each staged segment's files, listed once for the record (a segment
      // with postings has docs, so docAgg names it), and its posting metrics
      val staged = batch.getOrElse(docAgg.keySet.toSeq).sorted.map { segId =>
        (segId, listFiles(fs, s"$staging/segments/segId=$segId"),
          listFiles(fs, s"$staging/docstats/segId=$segId"))
      }
      val segAgg = postingMetrics(spark, s"$staging/segments", staged.map(s => s._1 -> s._2))

      // promote staging -> final; the caller's record commit makes them live
      val built = staged.map { case (segId, files, docstats) =>
        val (rowsN, bytesN, digest) = segAgg.getOrElse(segId, (0L, 0L, "0" * 32))
        val (docCount, lo, hi, rawLenSum) = docAgg.getOrElse(segId,
          (0L, segId.toLong * segSize, segId.toLong * segSize, 0L))
        promoteDir(fs, s"$staging/segments/segId=$segId", s"${segmentsDir(indexDir)}/segId=$segId")
        promoteDir(fs, s"$staging/docstats/segId=$segId", s"${docstatsDir(indexDir)}/segId=$segId")
        SegmentManifest(segId, lo, hi, docCount, rawLenSum, rowsN, bytesN, digest, cfg.source,
          files, docstats)
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

  /** Per-segment posting metrics from the segment files a writer just
    * staged under `root` (segId -> its listed files):
    * segId -> (rows, bytes, digest). The digest is order-independent (XOR
    * of per-row sha256(term, df, maxTf, blocks) prefixes) so it witnesses
    * bit-determinism across parallelism levels; Merger recomputes the same
    * metrics for merged segments so the manifest contract survives
    * compaction. */
  private[graft] def postingMetrics(spark: SparkSession, root: String,
                                    files: Seq[(Int, Seq[(String, Long)])])
      : Map[Int, (Long, Long, String)] = {
    import spark.implicits._
    // The per-row fold is an order-independent XOR, i.e. a commutative
    // associative monoid — so it runs as a per-PARTITION partial (guide
    // §2.3 "aggregate before you shuffle") and the partials merge on the
    // driver. The r1-r5 groupByKey(_.segId).mapGroups shape shuffled every
    // segment's full `blocks` payload (the whole index, again) into one
    // task per segment just to fold it; this shape shuffles nothing at all
    // (zero Exchange) and collects only <= partitions x segments tiny
    // partial rows. Result is bit-identical (SparkIndexSpec asserts it
    // against an in-test reference fold; the cross-round index digest is
    // the standing witness).
    readFiles(spark, SegmentsSchema, root, files)
      // manifest metrics stay REAL-postings-only: the D14 pseudo rows are
      // derived data (a pure function of the segment's doc set), so
      // excluding them keeps digests comparable across format revisions
      // and keeps postingRows == distinct indexed terms
      .filter($"term" >= graft.search.Q.RealTermMin)
      .select($"term", $"df", $"maxTf", $"blocks", $"segId").as[SegRead]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val ints = java.nio.ByteBuffer.allocate(8)
        val acc = new java.util.HashMap[Int, (Array[Byte], Long, Long)]()
        it.foreach { r =>
          md.reset()
          md.update(r.term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          md.update(0.toByte)
          ints.clear()
          md.update(ints.putInt(r.df).putInt(r.maxTf).array())
          md.update(r.blocks)
          val h = md.digest()
          val cur = acc.get(r.segId)
          val (dig, n, bytes) =
            if (cur == null) (new Array[Byte](16), 0L, 0L) else cur
          var i = 0
          while (i < 16) { dig(i) = (dig(i) ^ h(i)).toByte; i += 1 }
          acc.put(r.segId, (dig, n + 1L, bytes + r.blocks.length.toLong))
        }
        import scala.jdk.CollectionConverters._
        acc.entrySet().iterator().asScala
          .map(e => (e.getKey.intValue(), e.getValue._2, e.getValue._3, e.getValue._1))
      }
      .collect()
      .groupBy(_._1)
      .map { case (segId, partials) =>
        val dig = new Array[Byte](16)
        partials.foreach { p =>
          var i = 0
          while (i < 16) { dig(i) = (dig(i) ^ p._4(i)).toByte; i += 1 }
        }
        segId -> ((partials.map(_._2).sum, partials.map(_._3).sum, toHex(dig)))
      }
  }

  /** Global lexicon: term -> corpus-wide df, cf and maxTf,
    * range-partitioned + sorted so query-term lookups prune to one file /
    * few row groups. A 3-gram sidecar (gram -> term, gram-sorted) makes
    * UNPREFIXED multiterm expansion (fuzzy, infix wildcards) a pruned gram
    * lookup instead of a full lexicon pass (Searcher.scanMulti).
    *
    * LSM shape, Whoosh-style ([W] whoosh/reading.py MultiReader sums
    * doc_frequency over its segments' own term tables): the base lexicon
    * records in `_covers.json` the build-layout cover ids whose stats it
    * holds. Live segments whose covers lie outside that set are the DELTA
    * lexicon: their own (term, df, cf, maxTf) columns are read from their
    * recorded files (`segmentLexicon`; `blocks` is never read), so an
    * append writes no lexicon file at all. Readers fold base + delta
    * segments (Searcher.open); MERGE_SMALL / compact fold them into the
    * base (foldLexiconDeltas) BEFORE they merge, so a merged segment never
    * mixes covered and uncovered covers.
    *
    * This full rebuild covers every live segment. */
  def writeLexicon(spark: SparkSession, indexDir: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    writeLexiconOf(spark, fs, indexDir, readManifests(fs, indexDir))
  }

  /** writeLexicon over the segments `live` (the record's, or the ones a
    * caller is about to commit) */
  private[graft] def writeLexiconOf(spark: SparkSession, fs: FileSystem, indexDir: String,
                                    live: Seq[SegmentManifest]): Unit = {
    // the segments' recorded files only: dirs a crashed merge left behind
    // are never read, so they cannot double-count into the global df
    commitLexicon(spark, fs, indexDir, aggregateLexicon(segmentLexicon(spark, indexDir, live)),
      grams = None, live.flatMap(_.coverSet).toSet)
  }

  /** The lexicon rows of the given segments, read from their recorded
    * files (D14 pseudo rows excluded; `blocks` pruned away): one row per
    * (segment, term) — aggregate with `aggregateLexicon`, or sum on the
    * driver for a pruned lookup. `segs` are the delta lexicon (the live
    * segments the base does not cover yet), or every live segment for a
    * full rebuild. */
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

  private def coversPath(indexDir: String) = new Path(lexiconDir(indexDir), "_covers.json")

  /** The cover ids whose stats the base lexicon holds (its `_covers.json`,
    * written as contiguous `lo-hi` runs); None when no base exists yet. A
    * base without the marker is not this format's and is refused. */
  private[graft] def lexiconCovers(fs: FileSystem, indexDir: String): Option[Set[Int]] = {
    if (!fs.exists(new Path(lexiconDir(indexDir)))) return None
    val p = coversPath(indexDir)
    if (!fs.exists(p)) throw new IllegalStateException(
      s"$p: missing (a lexicon from another format?) — rebuild the index " +
        "(IndexBuilder.build) to migrate")
    val runs = requiredField(readText(fs, p), p.toString, "covers", "\"([0-9,-]*)\"")
    Some(runs.split(',').iterator.filter(_.nonEmpty).flatMap { r =>
      r.split('-') match {
        case Array(lo, hi) => lo.toInt to hi.toInt
        case _ => throw new IllegalStateException(s"$p: malformed cover run \"$r\"")
      }
    }.toSet)
  }

  /** The live segments whose stats the base lexicon does not hold: those
    * whose covers are disjoint from `covered` (every segment when there is
    * no base). A segment with covers on both sides would be counted half
    * in the base and whole as a delta, so it fails, naming the segment. */
  private[graft] def lexiconDeltaSegments(live: Seq[SegmentManifest],
                                          covered: Set[Int]): Seq[SegmentManifest] =
    live.filter { m =>
      val (in, out) = m.coverSet.partition(covered)
      if (in.nonEmpty && out.nonEmpty) throw new IllegalStateException(
        s"segment ${m.segId} mixes covers the base lexicon holds (${in.mkString(",")}) " +
          s"with covers it does not (${out.mkString(",")}) — rebuild the lexicon " +
          "(IndexBuilder.writeLexicon)")
      in.isEmpty
    }

  /** Fold the delta segments into the base lexicon (the LSM compaction
    * step, run by Merger.mergeSmall/compact before they merge): base ∪ the
    * delta segments' rows, re-aggregated, committed with the new marker.
    * The gram sidecar becomes the distinct union of the base grams and the
    * delta terms' 3-grams. Returns true if anything was folded. */
  def foldLexiconDeltas(spark: SparkSession, indexDir: String): Boolean = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val live = readManifests(fs, indexDir)
    // no base yet: nothing to fold into
    val covered = lexiconCovers(fs, indexDir).getOrElse(return false)
    val deltas = lexiconDeltaSegments(live, covered)
    if (deltas.isEmpty) return false
    val delta = segmentLexicon(spark, indexDir, deltas)
    val grams = readTable(spark, LexgramsSchema, lexgramsDir(indexDir))
      .unionByName(gramRowsOf(delta.select($"term").as[String]))
      .distinct()
    commitLexicon(spark, fs, indexDir,
      aggregateLexicon(readTable(spark, LexiconSchema, lexiconDir(indexDir)).unionByName(delta)),
      Some(grams), live.flatMap(_.coverSet).toSet)
    true
  }

  /** Stage the aggregated lexicon `agg` with the marker `covers`, and the
    * gram sidecar (`grams`, or the 3-grams of every `agg` term), then
    * promote GRAMS FIRST and the base second. A crash between the two
    * promotes leaves the old base, whose marker still names the delta
    * segments, next to a sidecar that already holds their terms' grams: a
    * superset, so the gram probe still finds every term; a rerun converges.
    * A crash before either promote leaves only staging dirs, which the
    * next commit clears. */
  private def commitLexicon(spark: SparkSession, fs: FileSystem, indexDir: String,
                            agg: DataFrame, grams: Option[DataFrame],
                            covers: Set[Int]): Unit = {
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
    // the marker rides the atomic base promote (underscore prefix: parquet
    // readers skip it)
    val runs = contiguousRuns(covers.toSeq)
      .map { case (lo, hi) => s"$lo-$hi" }.mkString(",")
    val out = fs.create(new Path(lexStaging, "_covers.json"), true)
    out.write(s"""{"covers":"$runs"}""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    promoteDir(fs, gramStaging, lexgramsDir(indexDir))
    promoteDir(fs, lexStaging, lexiconDir(indexDir))
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
  // Line 1 is the flat stats header; one manifest line per live segment
  // follows, sorted by segId, and the header's numSegments is their count.
  // A manifest line ends with the segment's parquet files, name and bytes,
  // as its writer listed them: "files" (segments/) and "docstats"
  // (docstats/). Every reader finds the segment's rows through them.
  // Every commit point (build batch, append, merge, compact,
  // Engine.createIndex) rewrites the whole record through commitRecord, so
  // the segment set and the counts readers score with change together.

  private def manifestJson(m: SegmentManifest): String =
    s"""{"segId":${m.segId},"docLo":${m.docLo},"docHi":${m.docHi},"docCount":${m.docCount},
       |"rawLenSum":${m.rawLenSum},"postingRows":${m.postingRows},"postingBytes":${m.postingBytes},
       |"digest":"${m.digest}","source":"${m.source}",
       |"covers":[${m.coverSet.mkString(",")}]""".stripMargin.replace("\n", "") +
      Seq("files" -> m.files, "docstats" -> m.docstats).map { case (key, files) =>
        files.map { case (n, b) => s"""{"name":"$n","bytes":$b}""" }
          .mkString(s""","$key":[""", ",", "]")
      }.mkString + "}"

  /** Commit `segments` (every live segment, promoted already) with the
    * counts of `st` as the index's record: written to a tmp file, then
    * renamed over stats.json — THE commit point, so a crash leaves the old
    * record or the new one. The header's numSegments is `segments.size`.
    * Returns the committed stats. */
  def commitRecord(fs: FileSystem, indexDir: String, st: IndexStats,
                   segments: Seq[SegmentManifest]): IndexStats = {
    val committed = st.copy(numSegments = segments.size)
    val header = s"""{"formatVersion":${st.formatVersion},""" +
      s""""numDocs":${st.numDocs},"totalFieldLen":${st.totalFieldLen},""" +
      s""""numSegments":${committed.numSegments},"segSize":${st.segSize},""" +
      s""""analyzer":"${st.analyzer}"}"""
    val record = (header +: segments.sortBy(_.segId).map(manifestJson)).mkString("", "\n", "\n")
    val tmp = new Path(indexDir, ".stats.json.tmp")
    val out = fs.create(tmp, true)
    out.write(record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    overwriteRename(fs, tmp, new Path(statsPath(indexDir)))
    committed
  }

  /** OVERWRITING rename (same pattern as Deletes.writeRange): a
    * delete-then-rename pair leaves a crash window with NO file at the
    * destination — for the record that window un-commits the whole index
    * until a rebuild. */
  private def overwriteRename(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The record's live segments; none when no record exists yet. Refuses
    * an index in another on-disk format, like readCurrentRecord. */
  def readManifests(fs: FileSystem, indexDir: String): Seq[SegmentManifest] =
    if (!fs.exists(new Path(statsPath(indexDir)))) Seq.empty
    else readCurrentRecord(fs, indexDir)._2

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

  private def parseManifest(json: String, path: String): SegmentManifest = {
    def l(k: String): Long = requiredField(json, path, k, "(-?\\d+)").toLong
    def s(k: String): String = requiredField(json, path, k, "\"([^\"]*)\"")
    val segId = l("segId").toInt
    def files(k: String): Seq[(String, Long)] =
      """\{"name":"([^"]*)","bytes":(\d+)\}""".r
        .findAllMatchIn(requiredField(json, path, k, "\\[([^\\]]*)\\]"))
        .map(f => f.group(1) -> f.group(2).toLong).toSeq
    // fields parse in record order, so a truncated line names its first
    // missing key
    SegmentManifest(segId, l("docLo"), l("docHi"), l("docCount"),
      l("rawLenSum"), l("postingRows"), l("postingBytes"), s("digest"), s("source"),
      covers = requiredField(json, path, "covers", "\\[([0-9,]*)\\]")
        .split(',').toSeq.filter(_.nonEmpty).map(_.toInt),
      files = files("files"), docstats = files("docstats"))
  }

  private def parseStats(json: String, path: String): IndexStats = {
    def l(k: String): Long = requiredField(json, path, k, "(-?\\d+)").toLong
    val analyzer = """"analyzer":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(graft.analysis.AnalyzerSpec.Standard.asString)
    // unstamped stats.json = a pre-round-5 (<=v6) layout; callers that care
    // (readCurrentRecord) reject, metadata-only readers still get the numbers
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

  /** The record of an index in THIS code's on-disk format — its stats and
    * live segments from one read — else a fail-fast "rebuild" error: the
    * one format check shared by the reader (Searcher.open) and the writers
    * (append, upsert, merges, compact), so an older index is never
    * silently relabelled as the current format. Nothing is written before
    * the check. */
  def readCurrentRecord(fs: FileSystem, indexDir: String): (IndexStats, Seq[SegmentManifest]) = {
    val path = statsPath(indexDir)
    val lines = readText(fs, new Path(path)).linesIterator.toVector
    val st = parseStats(lines.headOption.getOrElse(""), path)
    require(st.formatVersion == IndexStats.CurrentFormat,
      s"index at $indexDir has on-disk formatVersion ${st.formatVersion}, " +
        s"this code needs ${IndexStats.CurrentFormat} — " +
        "rebuild the index (IndexBuilder.build) to migrate")
    val segments = lines.iterator.zipWithIndex.drop(1)
      .map { case (line, i) => parseManifest(line, s"$path line ${i + 1}") }.toVector
    if (segments.size != st.numSegments) throw new IllegalStateException(
      s"$path: \"numSegments\" is ${st.numSegments} but ${segments.size} segment lines " +
        "follow (truncated or foreign file?)")
    (st, segments)
  }

  /** Staging -> final dir promote. An occupied destination is replaced by a
    * RENAME SWAP (dst -> dot-prefixed trash, src -> dst, delete trash)
    * rather than delete-then-rename (round-5 hygiene, matching the
    * FileContext OVERWRITE used for the record): the no-file-at-dst
    * crash window shrinks from a full recursive delete to the instant
    * between two renames, and a crash leaves the old data recoverable in
    * the trash dir (swept on the next promote of the same destination). */
  private[graft] def promoteDir(fs: FileSystem, from: String, to: String): Unit = {
    val src = new Path(from)
    val dst = new Path(to)
    if (!fs.exists(src)) return // an empty segment has no files: nothing to read
    val parent = dst.getParent
    if (!fs.exists(parent)) fs.mkdirs(parent)
    if (fs.exists(dst)) {
      val trash = new Path(parent, s".promote-trash-${dst.getName}")
      fs.delete(trash, true) // stale leftover from a prior crash
      require(fs.rename(dst, trash), s"promote swap-out failed: $to")
      require(fs.rename(src, dst), s"promote failed: $from -> $to")
      fs.delete(trash, true)
    } else require(fs.rename(src, dst), s"promote failed: $from -> $to")
    ()
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
