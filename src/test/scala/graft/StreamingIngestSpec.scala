package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.SynthCorpus
import graft.model.CorpusRow
import graft.ref.RefModel
import graft.search.{QFuzzy, QPrefix, QWildcard, Searcher}
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

  /** the delta lexicon: live segments outside the lexicon */
  private def deltaManifests(dir: String): Seq[graft.model.SegmentManifest] =
    IndexBuilder.readManifests(fsOf(dir), dir).filterNot(_.inLexicon)
  private def deltaSegs(dir: String): Seq[Int] = deltaManifests(dir).map(_.segId)

  private def lexSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long)] = {
    import spark.implicits._
    df.select(col("term"), col("df").cast("long"), col("cf").cast("long"),
      col("maxTf").cast("long")).as[(String, Long, Long, Long)].collect().toSet
  }

  private def gramRows(dir: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(IndexBuilder.lexgramsDir(dir)).as[(String, String)].collect().toSeq
  }

  /** a copy of the index at `dir` */
  private def copyOf(dir: String, name: String): String = {
    val to = SparkTestBase.tmpDir(name) + "/ix"
    org.apache.hadoop.fs.FileUtil.copy(fsOf(dir), new org.apache.hadoop.fs.Path(dir), fsOf(to),
      new org.apache.hadoop.fs.Path(to), false, true, spark.sparkContext.hadoopConfiguration)
    to
  }

  /** Runs `op` on a copy of the index at `dir` to count its renames, then
    * on `dir` through faultfs with rename `pick(count)` failing, and
    * returns the failure: a crash at that step. */
  private def crashAt(dir: String, pick: Long => Long)(op: String => Any): Throwable = {
    FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val probe = copyOf(dir, "crash-probe")
    val renames = FaultyFileSystem.renamesDuring(op(FaultyFileSystem.uri(probe)))
    FaultyFileSystem.failingRename(pick(renames))(op(FaultyFileSystem.uri(dir)))
  }

  /** What a reader of the index at `dir` sees: the live segments, the
    * counts, the tombstones, the lexicon and the answers to `queries`. */
  private def state(dir: String, queries: Seq[String]) = {
    val h = Searcher.open(spark, dir)
    (h.manifests.map(m => (m.segId, m.digest, m.docCount, m.inLexicon)),
      (h.stats.numDocs, h.stats.totalFieldLen), graft.build.Deletes.read(spark, dir),
      lexSet(h.lexicon), queries.map(q => Searcher.search(spark, h, q, 10).collect().toSeq))
  }

  /** every file under `dir` with its length and modification time */
  private def snapshot(dir: String): Set[(String, Long, Long)] = {
    val it = fsOf(dir).listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val out = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result()
  }

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
    * ones (8 docs each, segIds 2-4: the delta lexicon) */
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
    def lexFiles(): Set[(String, Long, Long)] =
      snapshot(IndexBuilder.lexiconDir(dir)) ++ snapshot(IndexBuilder.lexgramsDir(dir))
    val before = lexFiles()
    val builtGrams = gramRows(dir).toSet

    // two successive appends (2 segments, then 1): they write nothing under
    // lexicon/ or lexgrams/; their segments are the delta lexicon
    StreamingIngest.append(spark, spark.createDataset(mkRows(7L, 40, 60)), dir,
      IndexConfig(segSize = segSize))
    assert(deltaSegs(dir).size == 2)
    StreamingIngest.append(spark, spark.createDataset(mkRows(7L, 60, 70)), dir,
      IndexConfig(segSize = segSize))
    assert(lexFiles() == before,
      "append rewrote the vocab-sized base lexicon or its gram sidecar")
    assert(deltaSegs(dir).size == 3)

    // the handle's folded view (base + delta segments) == a full rebuild
    val h = Searcher.open(spark, dir)
    val viaDeltas = lexSet(h.lexicon)
    val appendedTerms = IndexBuilder.segmentLexicon(spark, dir, deltaManifests(dir))
      .select($"term").as[String].collect().toSet
    assert(appendedTerms.nonEmpty)
    val dfsBefore = Searcher.termDfs(spark, h, appendedTerms)

    // physical fold (the MERGE_SMALL-cadence step): no delta segment is
    // left, the base alone equals the folded view; the gram sidecar is the
    // deduped union of the built grams and the delta terms' grams
    assert(IndexBuilder.foldLexiconDeltas(spark, dir))
    assert(deltaSegs(dir).isEmpty)
    assert(!IndexBuilder.foldLexiconDeltas(spark, dir), "a second fold found deltas")
    assert(lexSet(spark.read.parquet(IndexBuilder.lexiconDir(dir))) == viaDeltas)
    assert(Searcher.termDfs(spark, Searcher.open(spark, dir), appendedTerms) == dfsBefore)
    val gramsFolded = gramRows(dir)
    assert(gramsFolded.length == gramsFolded.toSet.size, "fold left duplicate gram rows")
    assert(builtGrams.subsetOf(gramsFolded.toSet))

    IndexBuilder.writeLexicon(spark, dir) // full rebuild over all segments
    assert(lexSet(spark.read.parquet(IndexBuilder.lexiconDir(dir))) == viaDeltas)
    assert(gramRows(dir).toSet == gramsFolded.toSet)
    assert(deltaSegs(dir).isEmpty)
  }

  test("fold crash (faultfs): reopen sees the pre-fold view, a rerun converges") {
    import spark.implicits._
    val dir = tailIndex("lexcrash", 29L)
    val ref = copyOf(dir, "lexcrash-ref")
    val terms = spark.read.parquet(IndexBuilder.segmentsDir(dir)).select($"term")
      .filter($"term" >= graft.search.Q.RealTermMin).distinct().as[String].collect().toSet
    val multis = Seq(QPrefix("w00"), QWildcard("*000*"), QFuzzy("needla", 1),
      QFuzzy("w0001", 1))
    def view(): (Map[String, Long], Seq[Seq[String]]) = {
      val h = Searcher.open(spark, dir)
      (Searcher.termDfs(spark, h, terms), multis.map(Searcher.scanMulti(spark, h, _)))
    }
    val pre = view()
    assert(deltaSegs(dir) == Seq(2, 3, 4))
    val fold = (d: String) => IndexBuilder.foldLexiconDeltas(spark, d)
    // a crash at the record rename, and one at the move of the last gram
    // file before it: the moved files are named by no record
    Seq[(String, Long => Long)]("stats.json" -> (n => n), "lexgrams" -> (n => n - 1))
      .foreach { case (at, pick) =>
        val e = crashAt(dir, pick)(fold)
        assert(e.getMessage.contains("injected fault") && e.getMessage.contains(at), e)
        assert(deltaSegs(dir) == Seq(2, 3, 4))
        assert(view() == pre, s"reopen after a fold crashed at $at differs from the pre-fold view")
      }

    // a rerun converges to an uninterrupted fold; gc leaves only the files
    // the record names
    assert(fold(dir) && fold(ref))
    assert(deltaSegs(dir).isEmpty)
    def tables(d: String) = (lexSet(spark.read.parquet(IndexBuilder.lexiconDir(d))), gramRows(d))
    assert(tables(dir)._1 == tables(ref)._1)
    assert(tables(dir)._2.sorted == tables(ref)._2.sorted, "rerun left other gram rows")
    assert(view() == pre)
  }

  test("upsert failed at its record rename: the old version stays live once") {
    import spark.implicits._
    val cfg = IndexConfig(segSize = 16)
    val dir = SparkTestBase.tmpDir("upcrash") + "/ix"
    val rows = mkRows(53L, 0, 40)
    IndexBuilder.build(spark, spark.createDataset(rows), dir, cfg)
    val ref = copyOf(dir, "upcrash-ref")
    val victim = rows(21)
    val updated = Seq(victim.copy(content = victim.content + " qqfresh"))
    val docs = expectedDocs(Seq(rows), 16)
    val oldId = rows.sortBy(r => (r.repo, r.path, r.commit)).indexOf(victim).toLong
    val queries = Seq("w0000", "w0001 OR w0003", "qqfresh", "*")
    val upsert = (d: String) => StreamingIngest.upsert(spark, spark.createDataset(updated), d, cfg)

    val e = crashAt(dir, identity)(upsert)
    assert(e.getMessage.contains("injected fault") && e.getMessage.contains("stats.json"), e)
    // reopen: the pre-upsert index, rank- and score-identical to RefModel
    val h = Searcher.open(spark, dir)
    val oracle = new RefModel(docs)
    queries.foreach { q =>
      val hits = Searcher.search(spark, h, q, 10).collect().toSeq
      val want = oracle.search(q, 10)
      assert(hits.map(_.docId) == want.map(_._1), s"'$q': $hits vs $want")
      hits.zip(want).foreach { case (a, (_, s)) => assert(math.abs(a.score - s) <= 1e-6, q) }
    }
    // the victim's key is live exactly once, as its old docId
    val keyIds = h.docstats.filter($"repo" === victim.repo && $"path" === victim.path &&
      $"commit" === victim.commit).select($"docId").as[Long].collect().toSet
    assert(keyIds -- graft.build.Deletes.read(spark, dir) == Set(oldId))

    // the rerun converges to an uninterrupted upsert
    upsert(dir)
    upsert(ref)
    assert(state(dir, queries) == state(ref, queries))
    assert(graft.build.Deletes.read(spark, dir) == Set(oldId))
    assert(Searcher.search(spark, Searcher.open(spark, dir), "qqfresh", 10).count() == 1)
  }

  test("a Deletes.add over several segments is all or nothing") {
    val dir = tailIndex("delcrash", 59L)
    val live = IndexBuilder.readManifests(fsOf(dir), dir)
    val ids = live.map(m => m.docLo + 1) :+ 9999L // 9999: no live segment holds it
    assert(live.size == 5)
    val queries = Seq("w0000", "w0001 OR w0003", "*")
    val pre = state(dir, queries)
    val add = (d: String) => graft.build.Deletes.add(spark, d, ids)
    // the tombstone files are written under fresh names: the record rename
    // is the one rename
    assert(FaultyFileSystem.renamesDuring(add(FaultyFileSystem.uri(copyOf(dir, "delcount")))) == 1)
    val e = crashAt(dir, identity)(add)
    assert(e.getMessage.contains("stats.json"), e)
    assert(state(dir, queries) == pre, "a crashed delete applied some of its ids")
    add(dir)
    assert(graft.build.Deletes.read(spark, dir) == ids.init.toSet)
    // each line lists one file; the rerun wrote no second one
    val after = IndexBuilder.readManifests(fsOf(dir), dir)
    assert(after.forall(_.deletes.size == 1), after.map(_.deletes))
    add(dir) // every id listed already: nothing written, nothing committed
    assert(IndexBuilder.readManifests(fsOf(dir), dir) == after)
  }

  test("byQuery and merges failed at their record rename reopen to the pre-state") {
    val dir = tailIndex("opcrash", 61L)
    assert(IndexBuilder.foldLexiconDeltas(spark, dir))
    val ref = copyOf(dir, "opcrash-ref")
    val queries = Seq("w0000", "w0001 OR w0003", "\"needle alpha beta\"", "*")
    Seq[(String, String => Any)](
      "byQuery" -> (d => graft.build.Deletes.byQuery(spark, d, "w0002")),
      "purging mergeGroup" -> (d => graft.merge.Merger.mergeGroup(spark, d, Seq(2, 3), Set(3L))),
      "mergeSmall" -> (d => graft.merge.Merger.mergeSmall(spark, d))
    ).foreach { case (what, op) =>
      val pre = state(dir, queries)
      val e = crashAt(dir, identity)(op)
      assert(e.getMessage.contains("stats.json"), s"$what: $e")
      assert(state(dir, queries) == pre, s"$what: reopen after the crash differs from the pre-state")
      op(dir)
      op(ref)
      assert(state(dir, queries) == state(ref, queries), s"$what: the rerun did not converge")
    }
    assert(IndexBuilder.readManifests(fsOf(dir), dir).map(_.segId) == Seq(0, 1, 6))
  }

  test("tail-only terms expand before the fold, after it and after a full rebuild") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("tailterms")
    val cfg = IndexConfig(segSize = 32)
    IndexBuilder.build(spark, spark.createDataset(mkRows(31L, 0, 64)), dir, cfg)
    val extra = mkRows(31L, 64, 72).zipWithIndex.map { case (r, i) =>
      if (i < 3) r.copy(content = r.content + " zebraquuxly") else r
    }
    StreamingIngest.append(spark, spark.createDataset(extra), dir, cfg)
    StreamingIngest.append(spark, spark.createDataset(mkRows(31L, 72, 80)), dir, cfg)
    assert(deltaSegs(dir) == Seq(2, 3))
    val multis = Seq(QPrefix("zebraq"), QWildcard("*braquux*"),
      QFuzzy("zebraquxly", 1), QFuzzy("zebraquuxli", 2))
    val queries = Seq("zebraq*", "*braquux*", "zebraquxly~1", "zebraquuxli~2", "zebraquuxly")
    def view(): (Seq[Seq[String]], Seq[(String, Int, Long)], Seq[Seq[Searcher.SearchHit]],
                 Map[String, Searcher.TermStats]) = {
      val h = Searcher.open(spark, dir)
      (multis.map(Searcher.scanMulti(spark, h, _)),
        Searcher.suggest(spark, h, "zebraquuxli", 3, 2),
        queries.map(q => Searcher.search(spark, h, q, 10).collect().toSeq),
        Searcher.termStats(spark, h, Set("zebraquuxly", "w0000")))
    }
    val beforeFold = view()
    beforeFold._1.foreach(t => assert(t.contains("zebraquuxly"), s"not expanded: $beforeFold"))
    assert(beforeFold._2.headOption.contains(("zebraquuxly", 1, 3L)))
    beforeFold._3.foreach(hits => assert(hits.size == 3))
    assert(beforeFold._4("zebraquuxly").df == 3)
    graft.merge.Merger.mergeSmall(spark, dir)
    assert(deltaSegs(dir).isEmpty)
    assert(view() == beforeFold)
    IndexBuilder.writeLexicon(spark, dir)
    assert(view() == beforeFold)
  }

  test("writers refuse an index in another on-disk format and write nothing") {
    import spark.implicits._
    val dir = tailIndex("oldformat", 41L)
    val fs = fsOf(dir)
    val (st, live) = IndexBuilder.readCurrentRecord(fs, dir)
    IndexBuilder.commitRecord(fs, dir, st.copy(formatVersion = 8), live)
    val before = snapshot(dir)
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("formatVersion 8") && e.getMessage.contains("rebuild"),
        s"$what: ${e.getMessage}")
    }
    refused("open")(Searcher.open(spark, dir))
    refused("append")(StreamingIngest.append(spark,
      spark.createDataset(mkRows(41L, 100, 108)), dir, IndexConfig(segSize = 32)))
    refused("upsert")(StreamingIngest.upsert(spark,
      spark.createDataset(mkRows(41L, 0, 2)), dir, IndexConfig(segSize = 32)))
    refused("mergeSmall")(graft.merge.Merger.mergeSmall(spark, dir))
    refused("compact")(graft.merge.Merger.compact(spark, dir))
    // build cannot resume another format: it names the directory to delete
    val eb = intercept[IllegalArgumentException](IndexBuilder.build(spark,
      spark.createDataset(mkRows(41L, 0, 64)), dir, IndexConfig(segSize = 32)))
    assert(eb.getMessage.contains("format 8") && eb.getMessage.contains(s"delete $dir"),
      eb.getMessage)
    assert(snapshot(dir) == before, "a refused writer changed the index")
  }

  test("readStats reads a one-line v8 stats.json; readers refuse it") {
    val dir = SparkTestBase.tmpDir("v8stats")
    val fs = fsOf(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(IndexBuilder.statsPath(dir)), true)
    out.write(("""{"formatVersion":8,"numDocs":5,"totalFieldLen":40,"numSegments":3,""" +
      """"segSize":2,"analyzer":"standard|lower|stop(2)"}""").getBytes("UTF-8"))
    out.close()
    val st = IndexBuilder.readStats(fs, dir)
    assert((st.formatVersion, st.numDocs, st.totalFieldLen, st.numSegments, st.segSize) ==
      ((8, 5L, 40L, 3, 2)))
    val e = intercept[IllegalArgumentException](Searcher.open(spark, dir))
    assert(e.getMessage.contains("formatVersion 8"), e.getMessage)
  }

  test("an append commits its segments and counts in one rename") {
    import spark.implicits._
    val cfg = IndexConfig(segSize = 16)
    val dir = SparkTestBase.tmpDir("atomic") + "/ix"
    val refDir = SparkTestBase.tmpDir("atomic-ref") + "/ix"
    IndexBuilder.build(spark, spark.createDataset(mkRows(43L, 0, 32)), dir, cfg)
    val fs = fsOf(dir)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir), fs,
      new org.apache.hadoop.fs.Path(refDir), false, spark.sparkContext.hadoopConfiguration)
    val batch = mkRows(43L, 32, 60) // 28 docs: two new segments
    val queries = Seq("w0000", "w0001 OR w0003", "\"needle alpha beta\"", "*")
    def view(d: String) = {
      val h = Searcher.open(spark, d)
      (IndexBuilder.readManifests(fsOf(d), d).map(m => (m.segId, m.digest, m.docCount)),
        (h.stats.numDocs, h.stats.totalFieldLen),
        queries.map(q => Searcher.search(spark, h, q, 10).collect().toSeq))
    }
    val before = view(dir)
    val record = new org.apache.hadoop.fs.Path(IndexBuilder.statsPath(dir))
    val saved = new org.apache.hadoop.fs.Path(SparkTestBase.tmpDir("atomic-rec"), "stats.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, record, fs, saved, false,
      spark.sparkContext.hadoopConfiguration)
    StreamingIngest.append(spark, spark.createDataset(batch), dir, cfg)
    assert(IndexBuilder.readManifests(fs, dir).map(_.segId) == Seq(0, 1, 2, 3))
    // a crash after the promotes and before the record rename: the new
    // segment dirs are on disk, the old record is in place
    org.apache.hadoop.fs.FileUtil.copy(fs, saved, fs, record, false,
      spark.sparkContext.hadoopConfiguration)
    assert(view(dir) == before)
    // the rerun converges to an uninterrupted append
    StreamingIngest.append(spark, spark.createDataset(batch), dir, cfg)
    StreamingIngest.append(spark, spark.createDataset(batch), refDir, cfg)
    val after = view(dir)
    assert(after == view(refDir))
    assert(after._2._1 == 60)
  }

  test("Searcher.open writes nothing") {
    import spark.implicits._
    val cfg = IndexConfig(segSize = 32)
    val dir = SparkTestBase.tmpDir("openro")
    IndexBuilder.build(spark, spark.createDataset(mkRows(47L, 0, 64)), dir, cfg)
    def opened(what: String): Unit = {
      val before = snapshot(dir)
      Searcher.open(spark, dir)
      assert(snapshot(dir) == before, s"open changed the index ($what)")
      assert(!before.exists { case (p, _, _) => p.contains("/manifests/") || p.endsWith("toc.json") },
        s"a writer left a manifests/ dir or toc.json ($what)")
    }
    opened("built")
    (0 until 2).foreach { k =>
      StreamingIngest.append(spark, spark.createDataset(mkRows(47L, 64 + 8 * k, 72 + 8 * k)),
        dir, cfg)
    }
    opened("appended")
    assert(graft.merge.Merger.mergeSmall(spark, dir).nonEmpty)
    opened("merged")
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
    assert(deltaSegs(dir) == Seq(2, 3, 4))
    // known schemas: opening an index infers no schema, so it starts no job
    var h: Searcher.IndexHandle = null
    val openJobs = jobsDuring { h = Searcher.open(spark, dir) }
    // the post-append df lookup sums base + delta rows on the driver: one
    // job, no exchange
    val dfJobs = jobsDuring(Searcher.termDfs(spark, h, Set("w0000", "w0001", "needle")))
    val dfPlan = h.lexiconRows.filter(col("term").isin("w0000", "w0001"))
      .queryExecution.executedPlan.toString
    val mergeJobs = jobsDuring(graft.merge.Merger.mergeSmall(spark, dir))
    // a purging compaction of two segments: one cogroup merge, the stats
    // refresh and the lexicon rebuild
    val purgeDir = SparkTestBase.tmpDir("jobs-purge")
    IndexBuilder.build(spark, spark.createDataset(mkRows(17L, 0, 64)), purgeDir, cfg)
    graft.build.Deletes.add(spark, purgeDir, Seq(3L, 40L))
    val purgeJobs = jobsDuring(graft.merge.Merger.compact(spark, purgeDir, applyDeletes = true))
    assert(IndexBuilder.readStats(fsOf(purgeDir), purgeDir).numDocs == 62)
    info(s"jobs: appends $appendJobs, open $openJobs, termDfs $dfJobs, mergeSmall $mergeJobs, " +
      s"purging compact $purgeJobs")
    assert(openJobs == 0, s"Searcher.open started $openJobs jobs")
    assert(dfJobs == 1, s"termDfs started $dfJobs jobs")
    assert(!dfPlan.contains("Exchange"), s"df lookup plan has an exchange:\n$dfPlan")
    // bounds from this test's counts (CHANGES.md): the lean write path took
    // open 6 -> 0, each append 25 -> 16 and mergeSmall 29 -> 12; an append
    // that writes no lexicon 16 -> 8; record facts folded by the write
    // tasks each append 8 -> 7, mergeSmall 12 -> 11 and the purging compact
    // 19 -> 16
    appendJobs.foreach(n => assert(n <= 7, s"append started $n jobs"))
    assert(mergeJobs <= 11, s"mergeSmall started $mergeJobs jobs")
    assert(purgeJobs <= 16, s"purging compact started $purgeJobs jobs")
  }

  test("a merge group naming no live segment, or one twice, fails before the merge writes") {
    val empty = SparkTestBase.tmpDir("badgroup-empty") + "/ix"
    val fs = fsOf(empty)
    graft.api.Engine.createIndex(spark, empty, IndexConfig(segSize = 32))
    // a dir no record lists: the merge's orphan sweep would delete it
    val orphan = new org.apache.hadoop.fs.Path(s"${IndexBuilder.segmentsDir(empty)}/segId=9")
    fs.mkdirs(orphan)
    val none = intercept[IllegalArgumentException](
      graft.merge.Merger.mergeGroup(spark, empty, Seq(0)))
    assert(none.getMessage.contains("segments [0]") && none.getMessage.contains("not live: 0"),
      none.getMessage)
    assert(fs.exists(orphan))

    val dir = tailIndex("badgroup-tail", 29L)
    val before = snapshot(dir)
    val missing = intercept[IllegalArgumentException](
      graft.merge.Merger.mergeGroup(spark, dir, Seq(2, 7)))
    assert(missing.getMessage.contains("segments [2,7]") &&
      missing.getMessage.contains("not live: 7"), missing.getMessage)
    val twice = intercept[IllegalArgumentException](
      graft.merge.Merger.mergeGroup(spark, dir, Seq(3, 2, 3)))
    assert(twice.getMessage.contains("segments [3,2,3]") &&
      twice.getMessage.contains("repeated: 3"), twice.getMessage)
    // not even the lexicon fold ran
    assert(snapshot(dir) == before)
  }

  test("schema constants == the schemas Spark infers from freshly written files") {
    val dir = tailIndex("schemas", 19L)
    def check(): Unit = {
      val tables = Seq(
        IndexBuilder.segmentsDir(dir) -> IndexBuilder.SegmentsSchema,
        IndexBuilder.docstatsDir(dir) -> IndexBuilder.DocstatsSchema,
        IndexBuilder.lexiconDir(dir) -> IndexBuilder.LexiconSchema,
        IndexBuilder.lexgramsDir(dir) -> IndexBuilder.LexgramsSchema)
      tables.foreach { case (path, schema) =>
        val inferred = spark.read.parquet(path).schema
        assert(inferred == schema, s"$path: inferred $inferred, constant $schema")
      }
      // the delta lexicon's rows have the lexicon's schema
      val delta = IndexBuilder.segmentLexicon(spark, dir, deltaManifests(dir)).schema
      assert(delta.map(f => (f.name, f.dataType)) ==
        IndexBuilder.LexiconSchema.map(f => (f.name, f.dataType)))
    }
    assert(deltaSegs(dir).nonEmpty)
    check() // built + appended segments, base lexicon + delta segments
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
    assert(a.docCount == 24 && a.source == s"merge(${small.mkString(",")})")
    def docstats(dir: String) =
      spark.read.schema(IndexBuilder.DocstatsSchema).parquet(IndexBuilder.docstatsDir(dir))
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

    // the tail writes one file, the cogroup shape term-range files; both
    // are read whole per segment, with no exchange
    assert(manifest(tailDir).files.size == 1)
    assert(manifest(cogDir).files.size >= 2)
    Seq(tailDir, cogDir).foreach { dir =>
      val plan = Searcher.search(spark, Searcher.open(spark, dir), "w0000 AND w0001", 10)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"merged plan has an exchange:\n$plan")
    }
  }

  test("merges leave no broadcast behind") {
    import spark.implicits._
    import org.apache.spark.GraftTestAccess
    // collected task binaries and finished plans go at GC (the context
    // cleaner); what a merge leaves pinned stays
    def settled(): Int = {
      var (last, n, same) = (-1, 0, 0)
      while (same < 3 && n < 100) {
        System.gc(); Thread.sleep(100); n += 1
        val now = GraftTestAccess.broadcastBlocks()
        same = if (now == last) same + 1 else 0
        last = now
      }
      last
    }
    // the tombstone arrays a merge leaves, counted before any GC can
    // collect an undestroyed one
    def tombstoneArrays(): Int = GraftTestAccess.broadcastValuesOf(classOf[Array[Long]])
    def grownBy(op: => Any): (Int, Int) = {
      val (blocks, arrays) = (settled(), tombstoneArrays())
      op
      val left = tombstoneArrays() - arrays
      (settled() - blocks, left)
    }
    val dir = SparkTestBase.tmpDir("mergebcast")
    val cfg = IndexConfig(segSize = 32)
    IndexBuilder.build(spark, spark.createDataset(mkRows(43L, 0, 64)), dir, cfg)
    val grown = (0 until 2).flatMap { round =>
      (0 until 2).foreach { k =>
        val from = 64 + 16 * round + 8 * k
        StreamingIngest.append(spark, spark.createDataset(mkRows(43L, from, from + 8)), dir, cfg)
      }
      val tail = grownBy(assert(graft.merge.Merger.mergeSmall(spark, dir).nonEmpty))
      val ms = IndexBuilder.readManifests(fsOf(dir), dir)
      graft.build.Deletes.add(spark, dir, ms.map(_.docLo))
      val purge = grownBy(graft.merge.Merger.compact(spark, dir, applyDeletes = true))
      assert(IndexBuilder.readManifests(fsOf(dir), dir).size == 1)
      Seq(tail, purge)
    }
    assert(grown.forall { case (blocks, arrays) => blocks <= 0 && arrays == 0 },
      s"(broadcast blocks, tombstone arrays) grown per merge: $grown")
  }

  test("every writer records its segments' posting and docstats files") {
    val dir = tailIndex("files", 29L)
    val fs = fsOf(dir)
    // the record's files of each live segment == the parquet files in its
    // segments/ and docstats/ dirs
    def recordedMatchesDirs(): Unit = IndexBuilder.readManifests(fs, dir).foreach { m =>
      Seq(IndexBuilder.segmentsDir(dir) -> m.files, IndexBuilder.docstatsDir(dir) -> m.docstats)
        .foreach { case (root, recorded) =>
          val inDir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/segId=${m.segId}"))
            .map(f => f.getPath.getName -> f.getLen)
            .filter(_._1.endsWith(".parquet")).toSeq.sortBy(_._1)
          assert(inDir.nonEmpty && recorded == inDir,
            s"segment ${m.segId} under $root: $recorded vs $inDir")
        }
    }
    // build (segments 0, 1) and three appends (2-4)
    assert(IndexBuilder.readManifests(fs, dir).map(_.segId) == (0 to 4))
    recordedMatchesDirs()
    assert(graft.merge.Merger.mergeSmall(spark, dir) == Seq(5))
    recordedMatchesDirs()
    val queries = TestFixtures.querySet.map(_._2) ++
      Seq("*", "NOT w0004", "w0000 AND w0001", "w0000 OR w0001")
    def hits(h: Searcher.IndexHandle) =
      queries.map(q => Searcher.search(spark, h, q, 10).collect().toSeq)
    val expected = hits(Searcher.open(spark, dir))
    // compaction writes term-range files: at least two for the merged
    // segment, all recorded
    graft.merge.Merger.compact(spark, dir)
    val compacted = IndexBuilder.readManifests(fs, dir)
    assert(compacted.size == 1 && compacted.head.files.size >= 2, compacted)
    recordedMatchesDirs()
    assert(hits(Searcher.open(spark, dir)) == expected)
    // a line without its docstats list is refused, naming the key: no
    // reader lists a dir to make up for it
    val record = new org.apache.hadoop.fs.Path(IndexBuilder.statsPath(dir))
    val text = {
      val in = fs.open(record)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val noDocstats = text.replaceAll(""","docstats":\[[^\]]*\]""", "")
    assert(noDocstats != text)
    val out = fs.create(record, true)
    out.write(noDocstats.getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException](Searcher.open(spark, dir))
    assert(e.getMessage.contains("\"docstats\""), e.getMessage)
  }
}
