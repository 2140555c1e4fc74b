package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.SynthCorpus
import graft.model.CorpusRow
import graft.ref.RefModel
import graft.search.Searcher
import graft.streaming.StreamingIngest

/** Structured-Streaming micro-batch ingestion (SURVEY.md §2.9): appended
  * segments + compaction must stay rank-identical to an oracle over the
  * cumulative corpus with the engine's docId layout. */
class StreamingIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def mkRows(seed: Long, from: Int, until: Int): Seq[CorpusRow] =
    (from until until).map { i =>
      CorpusRow(f"r${i % 5}", f"f$i%05d.txt", f"$i%040x", "text",
        SynthCorpus.doc(seed, i.toLong))
    }

  /** replicate the engine's docId layout: per-append D1 rank + base at the
    * next segment boundary */
  private def expectedDocs(appends: Seq[Seq[CorpusRow]], segSize: Int): Seq[(Long, String)] = {
    var segBase = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    appends.foreach { batch =>
      val docBase = segBase.toLong * segSize
      batch.sortBy(r => (r.repo, r.path, r.commit)).zipWithIndex.foreach {
        case (r, i) => out += ((docBase + i, r.content))
      }
      segBase += ((batch.size + segSize - 1) / segSize)
    }
    out.toSeq
  }

  private def fsOf(dir: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Spark jobs started while `body` runs, on its thread or on threads it
    * starts. Jobs are tagged through a local property (inherited by child
    * threads); a tagged sentinel job then marks the end of the run on the
    * asynchronous listener bus, so every job of `body` has been seen. */
  private def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.test.jobTag"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag-end"
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "listener bus did not deliver the sentinel job")
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  /** an index with two full segments (segSize 32) and three small appended
    * ones (8 docs each, segIds 2-4, each with a delta lexicon) */
  private def tailIndex(name: String, seed: Long): String = {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir(name)
    val cfg = IndexConfig(segSize = 32)
    IndexBuilder.build(spark, spark.createDataset(mkRows(seed, 0, 64)), dir, cfg)
    (0 until 3).foreach { k =>
      StreamingIngest.append(spark, spark.createDataset(mkRows(seed, 64 + 8 * k, 72 + 8 * k)),
        dir, cfg)
    }
    dir
  }

  test("foreachBatch appends + compaction stay oracle-identical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = SparkTestBase.tmpDir("stream")
    val ckpt = SparkTestBase.tmpDir("stream-ckpt")
    val segSize = 16
    val cfg = IndexConfig(segSize = segSize)

    val batches = Seq(mkRows(3L, 0, 40), mkRows(3L, 40, 75), mkRows(3L, 75, 90))
    val mem = MemoryStream[CorpusRow]
    val q = StreamingIngest.start(spark, mem.toDS(), dir, ckpt, cfg,
      compactEvery = 2, groupSize = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    batches.foreach { b =>
      mem.addData(b)
      q.processAllAvailable() // one micro-batch per append (docId layout below)
    }
    q.stop()

    val docs = expectedDocs(batches, segSize)
    val ref = new RefModel(docs)
    val handle = Searcher.open(spark, dir)
    assert(handle.stats.numDocs == 90)
    Seq("w0000", "w0001 AND w0002", "w0003 OR w0004", "\"needle alpha beta\"")
      .foreach { qs =>
        val hits = Searcher.search(spark, handle, qs, 10).collect().toSeq
        val oracle = ref.search(qs, 10)
        assert(hits.map(_.docId) == oracle.map(_._1), s"'$qs': $hits vs $oracle")
        hits.zip(oracle).foreach { case (h, (_, s)) =>
          assert(math.abs(h.score - s) <= 1e-6)
        }
      }
  }

  test("static append API grows an existing batch-built index") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("append")
    val segSize = 16
    val base = mkRows(5L, 0, 40)
    IndexBuilder.build(spark, spark.createDataset(base), dir, IndexConfig(segSize = segSize))
    val extra = mkRows(5L, 40, 60)
    val stats = StreamingIngest.append(spark, spark.createDataset(extra), dir,
      IndexConfig(segSize = segSize))
    assert(stats.numDocs == 60)

    val docs = expectedDocs(Seq(base, extra), segSize)
    val ref = new RefModel(docs)
    val handle = Searcher.open(spark, dir)
    val hits = Searcher.search(spark, handle, "w0000", 10).collect().toSeq
    val oracle = ref.search("w0000", 10)
    assert(hits.map(_.docId) == oracle.map(_._1))
  }

  test("MERGE_SMALL: bounded segment count, large segments untouched, oracle-identical") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("msmall")
    val segSize = 32
    val base = mkRows(11L, 0, 64) // two FULL (large) segments
    IndexBuilder.build(spark, spark.createDataset(base), dir, IndexConfig(segSize = segSize))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val largeDigests = IndexBuilder.readManifests(fs, dir)
      .map(m => m.segId -> m.digest).toMap
    assert(largeDigests.size == 2)

    // six small appends with the policy after each: the small tail keeps
    // folding into at most one growing run; large segments never rewrite
    val appends = (0 until 6).map(k => mkRows(11L, 64 + 8 * k, 64 + 8 * (k + 1)))
    appends.foreach { b =>
      StreamingIngest.append(spark, spark.createDataset(b), dir,
        IndexConfig(segSize = segSize))
      graft.merge.Merger.mergeSmall(spark, dir)
    }

    val ms = IndexBuilder.readManifests(fs, dir)
    // (a) bounded: 6 appends collapse to <= 2 extra segments (one graduated
    // full segment + the current small run), vs 8 without the policy
    assert(ms.size <= 4, s"unbounded segment count: ${ms.map(m => (m.segId, m.docCount))}")
    assert(ms.map(_.docCount).sum == 64 + 48)
    // (b) the original large segments were never touched (same segId+digest)
    largeDigests.foreach { case (segId, dig) =>
      val m = ms.find(_.segId == segId)
      assert(m.exists(_.digest == dig), s"large segment $segId rewritten: $m")
    }
    // (c) search over the policy-merged index == oracle over the same docs.
    // docId layout: merges mint fresh segIds, so each append's docIdBase
    // jumps to (max live segId + 1) * segSize — recover the actual ids from
    // the docstats key map (the D1 stamp itself is covered elsewhere)
    val handle = Searcher.open(spark, dir)
    val byKey = (base +: appends).flatten
      .map(r => (r.repo, r.path, r.commit) -> r.content).toMap
    val docs = spark.read.parquet(IndexBuilder.docstatsDir(dir))
      .filter($"segId".isin(handle.liveSegIds: _*))
      .select($"docId", $"repo", $"path", $"commit")
      .as[(Long, String, String, String)].collect().toSeq
      .map { case (id, r, p, c) => (id, byKey((r, p, c))) }
    assert(docs.size == 64 + 48)
    val ref = new RefModel(docs)
    Seq("w0000", "w0001 AND w0002", "w0003 OR w0004", "NOT w0000").foreach { qs =>
      val hits = Searcher.search(spark, handle, qs, 10).collect().toSeq
      val oracle = ref.search(qs, 10)
      assert(hits.map(_.docId) == oracle.map(_._1), s"'$qs': $hits vs $oracle")
    }
  }

  test("crashed-merge orphan docstats do not poison upsert key lookups") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("uporphan")
    val segSize = 16
    val base = mkRows(9L, 0, 40)
    IndexBuilder.build(spark, spark.createDataset(base), dir, IndexConfig(segSize = segSize))
    val key = base(3)
    val realId = spark.read.parquet(IndexBuilder.docstatsDir(dir))
      .filter($"repo" === key.repo && $"path" === key.path && $"commit" === key.commit)
      .select($"docId").as[Long].head()
    // the state a crash between a merge's promote and its dir GC leaves:
    // a docstats dir with NO live manifest, mapping the same unique key to
    // a stale docId — an unfiltered key lookup would tombstone 9999
    Seq((9999L, key.repo, key.path, key.commit, "text", "deadbeef", 7, 7))
      .toDF("docId", "repo", "path", "commit", "lang", "sha", "rawLen", "lenByte")
      .write.parquet(s"${IndexBuilder.docstatsDir(dir)}/segId=99")
    StreamingIngest.upsert(spark,
      spark.createDataset(Seq(key.copy(content = key.content + " upd"))), dir,
      IndexConfig(segSize = segSize))
    val tombs = graft.build.Deletes.read(spark, dir)
    assert(tombs.contains(realId), s"real docId not tombstoned: $tombs")
    assert(!tombs.contains(9999L), s"orphan docstats leaked into upsert: $tombs")
  }

  test("LSM lexicon: appends never touch the base; folded view == full rebuild") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("lsmlex")
    val segSize = 16
    IndexBuilder.build(spark, spark.createDataset(mkRows(7L, 0, 40)), dir,
      IndexConfig(segSize = segSize))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def baseFiles(): Set[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(IndexBuilder.lexiconDir(dir)))
        .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val before = baseFiles()

    // two successive appends: each must commit a DELTA, not rewrite the base
    StreamingIngest.append(spark, spark.createDataset(mkRows(7L, 40, 60)), dir,
      IndexConfig(segSize = segSize))
    StreamingIngest.append(spark, spark.createDataset(mkRows(7L, 60, 70)), dir,
      IndexConfig(segSize = segSize))
    assert(baseFiles() == before,
      "append read-modify-wrote the vocab-sized base lexicon (round-5 LSM regression)")
    assert(IndexBuilder.liveLexDeltaDirs(fs, dir).size == 2)

    // the handle's folded view (base + deltas) == a full segment-scan rebuild
    def lexSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long)] =
      df.select(col("term"), col("df").cast("long"), col("cf").cast("long"),
        col("maxTf").cast("long")).as[(String, Long, Long, Long)].collect().toSet
    val viaDeltas = lexSet(Searcher.open(spark, dir).lexicon)
    val gramsWithDeltas = spark.read.parquet(IndexBuilder.lexgramsDir(dir))
      .as[(String, String)].collect().toSet

    // physical fold (the MERGE_SMALL-cadence step): deltas disappear, base
    // alone now equals the folded view; gram sidecar deduped, same set
    assert(IndexBuilder.foldLexiconDeltas(spark, dir))
    assert(IndexBuilder.liveLexDeltaDirs(fs, dir).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IndexBuilder.lexdeltasDir(dir))))
    assert(lexSet(spark.read.parquet(IndexBuilder.lexiconDir(dir))) == viaDeltas)
    val gramsFolded = spark.read.parquet(IndexBuilder.lexgramsDir(dir))
      .as[(String, String)].collect()
    assert(gramsFolded.toSet == gramsWithDeltas)
    assert(gramsFolded.length == gramsFolded.toSet.size, "fold left duplicate gram rows")

    IndexBuilder.writeLexicon(spark, dir) // full rebuild over all segments
    assert(lexSet(spark.read.parquet(IndexBuilder.lexiconDir(dir))) == viaDeltas)
    assert(spark.read.parquet(IndexBuilder.lexgramsDir(dir))
      .as[(String, String)].collect().toSet == gramsWithDeltas)
  }

  test("TOC cache: fresh == per-file manifests; corrupt/missing falls back + rewrites") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("toc")
    IndexBuilder.build(spark, spark.createDataset(mkRows(13L, 0, 40)), dir,
      IndexConfig(segSize = 16))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val tocP = new org.apache.hadoop.fs.Path(IndexBuilder.tocPath(dir))
    assert(fs.exists(tocP), "build did not write the TOC")
    def key(ms: Seq[graft.model.SegmentManifest]) =
      ms.map(m => (m.segId, m.digest, m.docCount, m.covers, m.absorbed))
    assert(key(IndexBuilder.readManifestsFast(fs, dir)) ==
      key(IndexBuilder.readManifests(fs, dir)))

    // corrupt token -> authoritative fallback, cache refreshed
    val out = fs.create(tocP, true)
    out.write("{\"token\":\"deadbeef\",\"n\":0}\n".getBytes("UTF-8"))
    out.close()
    assert(key(IndexBuilder.readManifestsFast(fs, dir)) ==
      key(IndexBuilder.readManifests(fs, dir)))
    // missing TOC -> fallback recreates it
    fs.delete(tocP, false)
    assert(key(IndexBuilder.readManifestsFast(fs, dir)) ==
      key(IndexBuilder.readManifests(fs, dir)))
    assert(fs.exists(tocP), "fallback did not refresh the TOC")

    // an append + a merge each move the commit point; the cache must track
    StreamingIngest.append(spark, spark.createDataset(mkRows(13L, 40, 50)), dir,
      IndexConfig(segSize = 16))
    assert(key(IndexBuilder.readManifestsFast(fs, dir)) ==
      key(IndexBuilder.readManifests(fs, dir)))
    graft.merge.Merger.compact(spark, dir)
    assert(key(IndexBuilder.readManifestsFast(fs, dir)) ==
      key(IndexBuilder.readManifests(fs, dir)))
    assert(IndexBuilder.readManifestsFast(fs, dir).size == 1)
  }

  test("job counts: open starts none, a small append and MERGE_SMALL stay lean") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("jobs")
    val cfg = IndexConfig(segSize = 32)
    IndexBuilder.build(spark, spark.createDataset(mkRows(17L, 0, 64)), dir, cfg)
    // parquet-backed batches, like an ingest source; created (and their
    // schemas inferred) before any count starts
    val batches = (0 until 3).map { k =>
      val p = SparkTestBase.tmpDir(s"jobs-batch$k")
      spark.createDataset(mkRows(17L, 64 + 8 * k, 72 + 8 * k))
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p).as[CorpusRow]
    }
    val appendJobs = batches.map(b => jobsDuring(StreamingIngest.append(spark, b, dir, cfg)))
    assert(IndexBuilder.liveLexDeltaDirs(fsOf(dir), dir).size == 3)
    // known schemas: opening an index infers no schema, so it starts no job
    val openJobs = jobsDuring(Searcher.open(spark, dir))
    val mergeJobs = jobsDuring(graft.merge.Merger.mergeSmall(spark, dir))
    info(s"jobs: appends $appendJobs, open $openJobs, mergeSmall $mergeJobs")
    assert(openJobs == 0, s"Searcher.open started $openJobs jobs")
    // bounds from this test's counts before the lean write path (CHANGES.md):
    // open 6 -> 0, each append 25 -> 16, mergeSmall 29 -> 12
    appendJobs.foreach(n => assert(n <= 25 - 6, s"append started $n jobs"))
    assert(mergeJobs <= 29 / 2, s"mergeSmall started $mergeJobs jobs")
  }

  test("schema constants == the schemas Spark infers from freshly written files") {
    val dir = tailIndex("schemas", 19L)
    val fs = fsOf(dir)
    def check(): Unit = {
      val tables = Seq(
        IndexBuilder.segmentsDir(dir) -> IndexBuilder.SegmentsSchema,
        IndexBuilder.docstatsDir(dir) -> IndexBuilder.DocstatsSchema,
        IndexBuilder.lexiconDir(dir) -> IndexBuilder.LexiconSchema,
        IndexBuilder.lexgramsDir(dir) -> IndexBuilder.LexgramsSchema) ++
        IndexBuilder.liveLexDeltaDirs(fs, dir).map(_ -> IndexBuilder.LexiconSchema)
      tables.foreach { case (path, schema) =>
        val inferred = spark.read.parquet(path).schema
        assert(inferred == schema, s"$path: inferred $inferred, constant $schema")
      }
    }
    assert(IndexBuilder.liveLexDeltaDirs(fs, dir).nonEmpty)
    check() // built + appended segments, base lexicon + deltas
    assert(graft.merge.Merger.mergeSmall(spark, dir).nonEmpty)
    check() // a tail-merged segment, the folded lexicon and grams
  }

  test("tail merge == cogroup merge on the same group; the tail stays colocated") {
    import spark.implicits._
    val tailDir = tailIndex("tailmerge", 23L)
    val cogDir = SparkTestBase.tmpDir("cogmerge") + "/ix"
    val fs = fsOf(tailDir)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(tailDir), fs,
      new org.apache.hadoop.fs.Path(cogDir), false, true, spark.sparkContext.hadoopConfiguration)
    val small = IndexBuilder.readManifests(fs, tailDir).filter(_.docCount < 32).map(_.segId)
    assert(small == Seq(2, 3, 4))

    val minted = graft.merge.Merger.mergeSmall(spark, tailDir)
    val cog = graft.merge.Merger.mergeGroup(spark, cogDir, small)
    assert(minted == Seq(cog))
    def manifest(dir: String) = IndexBuilder.readManifests(fs, dir).find(_.segId == cog).get
    val (a, b) = (manifest(tailDir), manifest(cogDir))
    assert((a.digest, a.postingRows, a.postingBytes, a.docCount, a.rawLenSum) ==
      (b.digest, b.postingRows, b.postingBytes, b.docCount, b.rawLenSum))
    assert(a.docCount == 24 && a.absorbed == small)
    def docstats(dir: String) =
      IndexBuilder.readTable(spark, IndexBuilder.DocstatsSchema, IndexBuilder.docstatsDir(dir))
        .filter($"segId" === cog).drop("segId").collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(docstats(tailDir) == docstats(cogDir))
    assert(docstats(tailDir).size == 24)

    val queries = TestFixtures.querySet.map(_._2) ++ Seq("*", "NOT w0004",
      "w0000 NEAR/5 w0001", "w0000 OR w0001", "w0001 AND w0002", "\"needle alpha beta\"")
    def sameHits(): Unit = {
      val (ht, hc) = (Searcher.open(spark, tailDir), Searcher.open(spark, cogDir))
      queries.foreach { q =>
        assert(Searcher.search(spark, ht, q, 10).collect().toSeq ==
          Searcher.search(spark, hc, q, 10).collect().toSeq, s"tail != cogroup for '$q'")
      }
    }
    sameHits()
    val dels = Seq(1L, 40L) ++ docstats(tailDir).take(5).map(_.head.asInstanceOf[Long])
    graft.build.Deletes.add(spark, tailDir, dels)
    graft.build.Deletes.add(spark, cogDir, dels)
    sameHits()

    // one file, one row group: the reopened tail index keeps the
    // exchange-free path; the cogroup shape writes term-range files
    val ht = Searcher.open(spark, tailDir)
    assert(ht.segColocated, "a tail merge must keep the colocated layout")
    assert(!Searcher.open(spark, cogDir).segColocated)
    val plan = Searcher.search(spark, ht, "w0000 AND w0001", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"tail-merged plan has an exchange:\n$plan")
  }
}
