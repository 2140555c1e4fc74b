package graft.build

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
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
  *   term-sorted parquet segments + per-segment manifests (S3/S5).
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
  *  - resume: a segment with a committed manifest is never rebuilt; batches
  *    promote staging -> final atomically (rename) before the manifest is
  *    written, so a crash leaves either nothing or a committed segment;
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
  /** LSM delta-lexicon dirs (round-5): each append writes one delta here
    * instead of rewriting the vocab-sized base; folded at MERGE_SMALL /
    * compact time (foldLexiconDeltas) */
  def lexdeltasDir(ix: String) = s"$ix/lexdeltas"
  def manifestsDir(ix: String) = s"$ix/manifests"
  def statsPath(ix: String) = s"$ix/stats.json"
  def tocPath(ix: String) = s"$ix/toc.json"
  def stagingDir(ix: String) = s"$ix/staging"

  // ---- table schemas ----
  //
  // The schema of every parquet table graft writes, exactly as Spark would
  // infer it from the files (columns nullable, segId the trailing
  // partition column). Every read of graft's own files passes its table's
  // schema (readTable), so no read opens a footer or runs a one-task
  // schema-inference job; StreamingIngestSpec checks each constant against
  // a fresh inference, so a writer change cannot silently diverge.
  private def table(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
  /** segments/segId=N: one posting-list row per (segment, term) */
  val SegmentsSchema: StructType = table("term" -> StringType, "df" -> IntegerType,
    "maxTf" -> IntegerType, "cf" -> LongType, "blocks" -> BinaryType, "segId" -> IntegerType)
  /** docstats/segId=N: the per-doc sidecar (DocStat) */
  val DocstatsSchema: StructType = table("docId" -> LongType, "repo" -> StringType,
    "path" -> StringType, "commit" -> StringType, "lang" -> StringType, "sha" -> StringType,
    "rawLen" -> IntegerType, "lenByte" -> IntegerType, "segId" -> IntegerType)
  /** lexicon/ and every lexdeltas/dN: term -> global df, cf, maxTf */
  val LexiconSchema: StructType = table("term" -> StringType, "df" -> LongType,
    "cf" -> LongType, "maxTf" -> LongType)
  /** lexgrams/: 3-gram -> term */
  val LexgramsSchema: StructType = table("gram" -> StringType, "term" -> StringType)

  /** One of graft's own tables, read with its known schema. A non-empty
    * `segIds` narrows the read to those `segId=N` partition dirs of `root`
    * (only they are listed); segId still comes from the directory names. */
  private[graft] def readTable(spark: SparkSession, schema: StructType, root: String,
                               segIds: Seq[Int] = Seq.empty): DataFrame =
    spark.read.schema(schema).option("basePath", root)
      .parquet((if (segIds.isEmpty) Seq(root) else segIds.map(id => s"$root/segId=$id")): _*)

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

  /** Full build with resume: segments whose manifest exists are skipped.
    *
    * The content-bearing corpus is NEVER rewritten (at 10^12-file scale the
    * input table IS the doc store): stamping happens in-flight, persisted
    * for the duration of the run, and only a content-free doc-key map
    * (docId, repo, path, commit, lang, sha) is materialized for lookups.
    * docIds are a pure function of the corpus (D1), so a resumed run
    * re-derives identical ids. */
  def build(spark: SparkSession, corpus: Dataset[CorpusRow], indexDir: String,
            cfg: IndexConfig = IndexConfig()): BuildReport = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)

    // NOT cached: at scale the stamped corpus is too large to pin, and the
    // stamp is a cheap deterministic recompute (gen/scan + range sort);
    // each batch re-derives it. The docstats sidecar doubles as the doc-key
    // map (docId, repo, path, commit, lang, sha) — no separate write.
    def stampedDocs: Dataset[Doc] = stampDocIds(corpus, cfg.sortPartitions)

    {
      // resume skips every BUILD-LAYOUT segId already covered by a live
      // manifest — after compaction the merged manifest's `covers` keeps the
      // absorbed ranges from being re-ingested (docIds are a pure function
      // of the corpus, so coverage by range == coverage by layout segId)
      val done = readManifests(fs, indexDir).flatMap(_.coverSet).toSet
      val segSize = cfg.segSize
      val todo: Seq[Int] =
        if (done.isEmpty && cfg.segmentsPerBatch == Int.MaxValue) {
          // fresh single-shot build: NO corpus count, no docId predicate —
          // one pass builds every segment, segIds discovered from the output
          // (a count of a generated/typed-mapped source costs a full scan)
          buildBatch(spark, fs, stampedDocs, indexDir, None, cfg)
          readManifests(fs, indexDir).map(_.segId)
        } else {
          // resume / explicit checkpoint batching: layout from the row count
          val numDocs = corpus.count()
          val numSegments = math.max(1, ((numDocs + segSize - 1) / segSize).toInt)
          val remaining = (0 until numSegments).filterNot(done)
          remaining.grouped(cfg.segmentsPerBatch).foreach { batch =>
            buildBatch(spark, fs, stampedDocs, indexDir, Some(batch), cfg)
          }
          remaining
        }

      // index-level stats + lexicon (cheap relative to the build; redone
      // at the end of every (re)run so a resumed build finishes identically)
      val manifests = readManifests(fs, indexDir)
      val stats = IndexStats(
        numDocs = manifests.map(_.docCount).sum,
        totalFieldLen = manifests.map(_.rawLenSum).sum,
        numSegments = manifests.size,
        segSize = segSize,
        analyzer = cfg.analyzer.asString)
      writeLexicon(spark, indexDir)
      writeStats(fs, indexDir, stats)
      writeToc(fs, indexDir)
      BuildReport(stats, todo, done.toSeq.sorted)
    }
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

  /** streaming-append entry: build the given fresh segIds from an already
    * stamped (docId-shifted) batch — see graft.streaming.StreamingIngest */
  private[graft] def buildBatchForAppend(spark: SparkSession, fs: FileSystem,
                                         docs: Dataset[Doc], indexDir: String,
                                         batch: Seq[Int], cfg: IndexConfig): Unit =
    buildBatch(spark, fs, docs, indexDir, Some(batch), cfg)

  /** batch = None builds ALL segments found in `docs` in one pass. */
  private def buildBatch(spark: SparkSession, fs: FileSystem, docs: Dataset[Doc],
                         indexDir: String, batch: Option[Seq[Int]],
                         cfg: IndexConfig): Unit = {
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

      // per-segment posting metrics for the manifest, from the written files
      val segAgg = postingMetrics(spark, s"$staging/segments")

      // promote staging -> final, then commit the manifest (the commit point)
      val toCommit = batch.getOrElse((segAgg.keySet ++ docAgg.keySet).toSeq.sorted)
      toCommit.foreach { segId =>
        val (rowsN, bytesN, digest) = segAgg.getOrElse(segId, (0L, 0L, "0" * 32))
        val (docCount, lo, hi, rawLenSum) = docAgg.getOrElse(segId,
          (0L, segId.toLong * segSize, segId.toLong * segSize, 0L))
        promoteDir(fs, s"$staging/segments/segId=$segId", s"${segmentsDir(indexDir)}/segId=$segId")
        promoteDir(fs, s"$staging/docstats/segId=$segId", s"${docstatsDir(indexDir)}/segId=$segId")
        val m = SegmentManifest(segId, lo, hi, docCount, rawLenSum, rowsN,
          bytesN, digest, cfg.source)
        writeManifest(fs, indexDir, m)
      }
      fs.delete(new Path(staging), true)
    } finally analyzed.unpersist()
  }

  /** Per-segment posting metrics from written segment files:
    * segId -> (rows, bytes, digest). The digest is order-independent (XOR
    * of per-row sha256(term, df, maxTf, blocks) prefixes) so it witnesses
    * bit-determinism across parallelism levels; Merger recomputes the same
    * metrics for merged segments so the manifest contract survives
    * compaction. */
  private[graft] def postingMetrics(spark: SparkSession,
                                    path: String): Map[Int, (Long, Long, String)] = {
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
    readTable(spark, SegmentsSchema, path)
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

  /** global lexicon: term -> corpus-wide df, range-partitioned + sorted so
    * query-term lookups prune to one file / few row groups. A 3-gram
    * sidecar (gram -> term, gram-sorted) makes UNPREFIXED multiterm
    * expansion (fuzzy, infix wildcards) a pruned gram lookup instead of a
    * full lexicon pass (Searcher.scanMulti). */
  def writeLexicon(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    // manifest-filtered segment set: superseded/orphaned dirs a crashed
    // merge left behind must not double-count into the global df
    val fsLex = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val liveLex = readManifests(fsLex, indexDir).map(_.segId)
    val seg = readTable(spark, SegmentsSchema, segmentsDir(indexDir))
      .filter(col("segId").isin(liveLex: _*))
      .filter(col("term") >= graft.search.Q.RealTermMin) // D14 pseudo rows excluded
    val lexPartitions = math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    // maxTf = the term's corpus-wide max term frequency ([W] whoosh TermInfo
    // max_weight): the driver-side query upper-bound input (Searcher.termStats)
    //
    // The aggregate is persisted for the duration of this function: THREE
    // consumers (the range-partitioner's sampling pass, the base write, the
    // gram-sidecar write) would otherwise each rerun the segments scan +
    // groupBy — measured r6 as one extra full segments pass plus a lexicon
    // parquet re-read per build. Vocab-sized (not corpus-sized) state, and
    // released before return.
    val agg = seg.groupBy($"term").agg(sum($"df").cast("long").as("df"),
        sum($"cf").cast("long").as("cf"),
        max($"maxTf").cast("long").as("maxTf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      agg.count() // materialize once; both writers below read the cache
      // base lexicon and gram sidecar write to DIFFERENT dirs from the same
      // cached aggregate — overlap them (guide §2.6)
      concurrently("graft-lexgrams-write")(
        agg.repartitionByRange(lexPartitions, $"term")
          .sortWithinPartitions("term")
          .write.mode(SaveMode.Overwrite).parquet(lexiconDir(indexDir)),
        agg.select($"term").as[String]
          .flatMap(t => grams3(t).iterator.map(g => (g, t)))
          .toDF("gram", "term")
          .repartitionByRange(lexPartitions, $"gram")
          .sortWithinPartitions("gram", "term")
          .write.mode(SaveMode.Overwrite).parquet(lexgramsDir(indexDir)))
    } finally { agg.unpersist(); () }
    // the full rebuild covers every live segment, so any pending delta
    // lexicons are superseded — GC them (a crash before this delete leaves
    // a double-count window only until the rebuild reruns; builds are the
    // retryable unit)
    fsLex.delete(new Path(lexdeltasDir(indexDir)), true)
    ()
  }

  /** Incremental lexicon maintenance for appends — LSM shape (round-5; the
    * round-4 version union-re-aggregated and REWROTE the whole vocab-sized
    * base per append, the last per-batch O(index-metadata) cost): aggregate
    * ONLY the new segments' (term, df, cf, maxTf) and commit it as a
    * term-sorted DELTA file beside the base (`lexdeltas/d<segId>`). Read
    * side (Searcher.open) folds base + live deltas with a tiny grouped
    * aggregation — the pushed `term IN` probe composes across the files for
    * free (all term-sorted parquet with sharp min/max stats). Deltas fold
    * into the base at MERGE_SMALL / compact time (foldLexiconDeltas), the
    * same cadence that bounds the segment tail. Work per append: one
    * delta-sized segment scan + delta-sized writes; the base is never read
    * or written.
    *
    * Grams: ALL the delta's terms' 3-grams are appended to the sidecar
    * (an anti-join against the base to isolate new terms would read the
    * vocab-sized term column per append, defeating the point). Duplicate
    * (gram, term) pairs are harmless — every consumer distincts the probe —
    * and are physically deduped at fold time. Grams are written BEFORE the
    * delta is promoted: a crash between the two leaves orphan grams
    * (phantom expansion candidates with df 0 — harmless), never a term the
    * gram probe can't find (which would break the superset guarantee).
    *
    * Falls back to the full build when no lexicon exists yet. */
  def updateLexicon(spark: SparkSession, indexDir: String,
                    newSegIds: Seq[Int]): Unit = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(lexiconDir(indexDir))) || newSegIds.isEmpty) {
      writeLexicon(spark, indexDir)
      return
    }
    val lexPartitions = math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    val staging = s"${stagingDir(indexDir)}/lexdelta"
    fs.delete(new Path(staging), true)
    // delta-sized aggregate persisted across its three consumers (range
    // sampler, delta write, gram write) — same r6 pattern as writeLexicon;
    // saves one pruned segments re-scan and one staging re-read per append
    val agg = readTable(spark, SegmentsSchema, segmentsDir(indexDir), newSegIds)
      .filter(col("term") >= graft.search.Q.RealTermMin) // D14 pseudo rows excluded
      .groupBy($"term").agg(sum($"df").cast("long").as("df"),
        sum($"cf").cast("long").as("cf"),
        max($"maxTf").cast("long").as("maxTf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      agg.repartitionByRange(lexPartitions, $"term")
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(staging)
      // grams BEFORE the delta promotes (crash ordering documented above)
      agg.select($"term").as[String]
        .flatMap(t => grams3(t).iterator.map(g => (g, t)))
        .toDF("gram", "term")
        .repartitionByRange(lexPartitions, $"gram")
        .sortWithinPartitions("gram", "term")
        .write.mode(SaveMode.Append).parquet(lexgramsDir(indexDir))
    } finally { agg.unpersist(); () }
    // segIds are never reused, so the delta name is collision-free
    promoteDir(fs, staging, s"${lexdeltasDir(indexDir)}/d${newSegIds.min}")
  }

  /** Delta-lexicon dirs not yet folded into the base: one listing, minus
    * the names recorded consumed by the base's `_folded.json` marker (a
    * fold crash between base promote and delta GC must not double-count —
    * the marker rides the atomic base promote, manifest-supersession
    * style). */
  def liveLexDeltaDirs(fs: FileSystem, indexDir: String): Seq[String] = {
    val root = new Path(lexdeltasDir(indexDir))
    if (!fs.exists(root)) return Seq.empty
    val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("d"))
    if (names.isEmpty) return Seq.empty
    val folded = readFoldedMarker(fs, indexDir)
    names.filterNot(folded).sorted.map(n => s"${lexdeltasDir(indexDir)}/$n")
  }

  private def foldedMarkerPath(indexDir: String) =
    new Path(lexiconDir(indexDir), "_folded.json")

  private def readFoldedMarker(fs: FileSystem, indexDir: String): Set[String] = {
    val p = foldedMarkerPath(indexDir)
    if (!fs.exists(p)) return Set.empty
    val in = fs.open(p)
    val txt = scala.io.Source.fromInputStream(in).mkString
    in.close()
    """"([^"]+)"""".r.findAllMatchIn(txt).map(_.group(1)).toSet - "consumed"
  }

  /** Fold pending delta lexicons into the base (the LSM compaction step,
    * wired into Merger.mergeSmall/compact): one vocab-sized union +
    * re-aggregate + term-sorted rewrite, paid at COMPACTION cadence instead
    * of per append. Also physically dedups the gram sidecar (appends leave
    * duplicate (gram, term) rows). Commit protocol: the folded base is
    * staged WITH a `_folded.json` marker naming every delta it consumed
    * (underscore prefix — parquet readers skip it), promoted atomically,
    * then the consumed deltas are GC'd; a crash between promote and GC
    * leaves deltas that every reader skips via the marker and the next fold
    * sweeps. Returns true if anything was folded. */
  def foldLexiconDeltas(spark: SparkSession, indexDir: String): Boolean = {
    import spark.implicits._
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(lexdeltasDir(indexDir))
    val allNames: Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName).filter(_.startsWith("d"))
    val live = liveLexDeltaDirs(fs, indexDir)
    if (live.isEmpty) {
      // nothing pending; sweep stale consumed leftovers from a prior crash
      allNames.foreach(n => fs.delete(new Path(root, n), true))
      if (allNames.nonEmpty) fs.delete(root, true)
      return false
    }
    val lexPartitions = math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    val staging = s"${stagingDir(indexDir)}/lexfold"
    fs.delete(new Path(staging), true)
    // vocab-sized folded aggregate persisted across the range sampler and
    // the write (r6; the fold runs at compaction cadence, but the base is
    // vocab-sized, so one saved union+re-aggregate pass is real money)
    val foldAgg = live.map(readTable(spark, LexiconSchema, _))
      .foldLeft(readTable(spark, LexiconSchema, lexiconDir(indexDir)))(_ unionByName _)
      .groupBy($"term").agg(sum($"df").cast("long").as("df"),
        sum($"cf").cast("long").as("cf"),
        max($"maxTf").cast("long").as("maxTf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      foldAgg.repartitionByRange(lexPartitions, $"term")
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(staging)
    } finally { foldAgg.unpersist(); () }
    // marker = EVERY delta name present (live + stale): all are covered by
    // the folded base the moment it promotes
    val marker = s"""{"consumed":[${allNames.sorted.map(n => s""""$n"""").mkString(",")}]}"""
    val out = fs.create(new Path(staging, "_folded.json"), true)
    out.write(marker.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    promoteDir(fs, staging, lexiconDir(indexDir))
    allNames.foreach(n => fs.delete(new Path(root, n), true))
    fs.delete(root, true)
    // gram sidecar: physical dedup of append-time duplicates
    val gstaging = s"${stagingDir(indexDir)}/lexgramsfold"
    fs.delete(new Path(gstaging), true)
    readTable(spark, LexgramsSchema, lexgramsDir(indexDir))
      .distinct()
      .repartitionByRange(lexPartitions, col("gram"))
      .sortWithinPartitions("gram", "term")
      .write.mode(SaveMode.Overwrite).parquet(gstaging)
    promoteDir(fs, gstaging, lexgramsDir(indexDir))
    true
  }

  /** distinct character 3-grams of a term (terms shorter than 3 chars have
    * none and always take the full-scan fallback) */
  def grams3(t: String): Array[String] =
    if (t.length < 3) Array.empty
    else Array.tabulate(t.length - 2)(i => t.substring(i, i + 3)).distinct

  // ---- manifests / stats ----

  private def manifestJson(m: SegmentManifest): String =
    s"""{"segId":${m.segId},"docLo":${m.docLo},"docHi":${m.docHi},"docCount":${m.docCount},
       |"rawLenSum":${m.rawLenSum},"postingRows":${m.postingRows},"postingBytes":${m.postingBytes},
       |"digest":"${m.digest}","source":"${m.source}",
       |"covers":[${m.coverSet.mkString(",")}],"absorbed":[${m.absorbed.mkString(",")}]}"""
      .stripMargin.replace("\n", "")

  def writeManifest(fs: FileSystem, indexDir: String, m: SegmentManifest): Unit = {
    val dir = new Path(manifestsDir(indexDir))
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new Path(dir, s".seg-${m.segId}.json.tmp")
    val dst = new Path(dir, s"seg-${m.segId}.json")
    val out = fs.create(tmp, true)
    out.write(manifestJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    overwriteRename(fs, tmp, dst)
  }

  // ---- rolled-up table of contents (round-5) ----
  //
  // Per-segment manifests stay THE commit protocol (crash-safe supersession
  // via `absorbed`), but opening an index by reading one small JSON per
  // segment costs O(segments) round trips — a long-running MERGE_SMALL
  // ingest accumulates exactly that. The TOC is a pure CACHE of the live
  // manifest set, validated by a token over the manifest-directory NAME
  // listing (one listing call, no per-file reads): manifest content is a
  // deterministic function of its name (segIds are never reused; rebuilds
  // reproduce identical manifests), so same name set == same live set.
  // Stale or missing TOC -> fall back to reading the manifests and rewrite.

  private def manifestNamesToken(fs: FileSystem, indexDir: String): String = {
    val dir = new Path(manifestsDir(indexDir))
    val names =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("seg-") && n.endsWith(".json")).sorted
    sha256Hex(names.mkString("\n"))
  }

  /** rewrite the TOC from the current manifests — called at every commit
    * point (end of build batch loop, merge commit, append) */
  def writeToc(fs: FileSystem, indexDir: String): Unit = {
    val token = manifestNamesToken(fs, indexDir)
    val live = readManifests(fs, indexDir)
    val sb = new StringBuilder
    sb.append(s"""{"token":"$token","n":${live.size}}""").append('\n')
    live.foreach(m => sb.append(manifestJson(m)).append('\n'))
    val tmp = new Path(indexDir, ".toc.json.tmp")
    val out = fs.create(tmp, true)
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    overwriteRename(fs, tmp, new Path(tocPath(indexDir)))
  }

  /** Live manifests via the TOC when fresh: O(1) reads (one dir listing for
    * the token + one TOC file) instead of one read per segment. Falls back
    * to the authoritative per-file read on any mismatch and refreshes the
    * cache. Readers only (writers about to change the set read raw). */
  def readManifestsFast(fs: FileSystem, indexDir: String): Seq[SegmentManifest] = {
    val p = new Path(tocPath(indexDir))
    if (fs.exists(p)) {
      val in = fs.open(p)
      val lines = scala.io.Source.fromInputStream(in).getLines().toList
      in.close()
      lines match {
        case header :: rest =>
          val tok = """"token":"([0-9a-f]+)"""".r.findFirstMatchIn(header).map(_.group(1))
          val n = """"n":(\d+)""".r.findFirstMatchIn(header).map(_.group(1).toInt)
          if (tok.contains(manifestNamesToken(fs, indexDir)) && n.contains(rest.size))
            return rest.map(parseManifest(_, p.toString)).sortBy(_.segId)
        case _ => ()
      }
    }
    val live = readManifests(fs, indexDir)
    writeToc(fs, indexDir)
    live
  }

  /** OVERWRITING rename (same pattern as Deletes.writeRange): a
    * delete-then-rename pair leaves a crash window with NO file at the
    * destination — for a manifest that window silently un-commits the
    * segment; for stats.json it bricks Searcher.open until a rebuild. */
  private def overwriteRename(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Live manifests: all on-disk manifests minus superseded ones. A merge
    * commits by WRITING the merged manifest (whose `absorbed` lists the
    * replaced segIds) before deleting the old ones — so after any crash the
    * union of absorbed sets identifies stale manifests deterministically
    * (segIds are never reused; an absorbed manifest's own absorptions
    * remain valid transitively). */
  def readManifests(fs: FileSystem, indexDir: String): Seq[SegmentManifest] = {
    val all = readManifestsRaw(fs, indexDir)
    val absorbed = all.iterator.flatMap(_.absorbed).toSet
    all.filterNot(m => absorbed.contains(m.segId))
  }

  def readManifestsRaw(fs: FileSystem, indexDir: String): Seq[SegmentManifest] = {
    val dir = new Path(manifestsDir(indexDir))
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.startsWith("seg-") && s.getPath.getName.endsWith(".json"))
      .map { s =>
        val in = fs.open(s.getPath)
        val txt = scala.io.Source.fromInputStream(in).mkString
        in.close()
        parseManifest(txt, s.getPath.toString)
      }
      .sortBy(_.segId)
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
    def ints(k: String): Seq[Int] = (s""""$k":\\[([0-9,]*)\\]""").r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(',').toSeq.map(_.toInt)).getOrElse(Seq.empty)
    val segId = l("segId").toInt
    SegmentManifest(segId, l("docLo"), l("docHi"), l("docCount"),
      l("rawLenSum"), l("postingRows"), l("postingBytes"), s("digest"), s("source"),
      covers = ints("covers") match { case Seq() => Seq(segId); case c => c },
      absorbed = ints("absorbed"))
  }

  def writeStats(fs: FileSystem, indexDir: String, st: IndexStats): Unit = {
    val json = s"""{"formatVersion":${st.formatVersion},""" +
      s""""numDocs":${st.numDocs},"totalFieldLen":${st.totalFieldLen},""" +
      s""""numSegments":${st.numSegments},"segSize":${st.segSize},""" +
      s""""analyzer":"${st.analyzer}"}"""
    val tmp = new Path(indexDir, ".stats.json.tmp")
    val dst = new Path(statsPath(indexDir))
    val out = fs.create(tmp, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    overwriteRename(fs, tmp, dst)
  }

  def readStats(fs: FileSystem, indexDir: String): IndexStats = {
    val path = statsPath(indexDir)
    val in = fs.open(new Path(path))
    val json = scala.io.Source.fromInputStream(in).mkString
    in.close()
    def l(k: String): Long = requiredField(json, path, k, "(-?\\d+)").toLong
    val analyzer = """"analyzer":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(graft.analysis.AnalyzerSpec.Standard.asString)
    // unstamped stats.json = a pre-round-5 (<=v6) layout; callers that care
    // (Searcher.open) reject, metadata-only readers still get the numbers
    val fv = """"formatVersion":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(0)
    IndexStats(l("numDocs"), l("totalFieldLen"), l("numSegments").toInt,
      l("segSize").toInt, analyzer, fv)
  }

  /** Staging -> final dir promote. An occupied destination is replaced by a
    * RENAME SWAP (dst -> dot-prefixed trash, src -> dst, delete trash)
    * rather than delete-then-rename (round-5 hygiene, matching the
    * FileContext OVERWRITE used for stats/manifests): the no-file-at-dst
    * crash window shrinks from a full recursive delete to the instant
    * between two renames, and a crash leaves the old data recoverable in
    * the trash dir (swept on the next promote of the same destination). */
  private[graft] def promoteDir(fs: FileSystem, from: String, to: String): Unit = {
    val src = new Path(from)
    val dst = new Path(to)
    if (!fs.exists(src)) {
      fs.mkdirs(dst) // empty segment (no docs in range): still committed
      return
    }
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
