package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.merge.Merger
import graft.model.CorpusRow
import graft.ref.RefModel
import graft.search.{QueryParser, Searcher}

/** End-to-end distributed build + search vs the oracle (SURVEY.md §5.2
  * items 1,3,4,5), resume, determinism across parallelism, merge. */
class SparkIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** fixture5 as corpus rows; docIds are re-derived by the D1 rule
    * (rank in (repo,path,commit) order), which differs from the display
    * order in FIXTURES.md §2 (README.md sorts before src/). */
  private val fixtureRows: Seq[CorpusRow] = {
    val metas = Seq(
      ("r0/engine", "docs/intro.txt", "0" * 39 + "1", "text"),
      ("r0/engine", "docs/rank.txt", "0" * 39 + "2", "text"),
      ("r0/engine", "src/bm25.scala", "0" * 39 + "3", "scala"),
      ("r1/index", "src/postings.scala", "0" * 39 + "4", "scala"),
      ("r1/index", "README.md", "0" * 39 + "5", "text"))
    metas.zip(TestFixtures.fixture5).map { case ((r, p, c, l), (_, content)) =>
      CorpusRow(r, p, c, l, content)
    }
  }

  private def refDocs(rows: Seq[CorpusRow]): Seq[(Long, String)] =
    rows.sortBy(r => (r.repo, r.path, r.commit)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.content) }

  private def fsOf(dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def assertSearchesMatchOracle(indexDir: String, docs: Seq[(Long, String)],
                                        queries: Seq[(String, String)]): Unit = {
    val ref = new RefModel(docs)
    val handle = Searcher.open(spark, indexDir)
    queries.foreach { case (qid, qs) =>
      val hits = Searcher.search(spark, handle, qs, 10).collect().toSeq
      val oracle = ref.search(qs, 10)
      assert(hits.map(_.docId) == oracle.map(_._1),
        s"[$qid '$qs'] engine=${hits.toList} oracle=$oracle")
      hits.zip(oracle).foreach { case (h, (_, s)) =>
        assert(math.abs(h.score - s) <= 1e-6, s"[$qid] score ${h.score} vs $s")
      }
    }
  }

  test("fixture corpus: build (multi-segment, salted, batched) + search == oracle") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("fix")
    val corpus = spark.createDataset(fixtureRows)
    val report = IndexBuilder.build(spark, corpus, dir,
      IndexConfig(segSize = 2, segmentsPerBatch = 2))
    assert(report.stats.numDocs == 5)
    assert(report.stats.numSegments == 3)
    assert(report.builtSegments == Seq(0, 1, 2))

    assertSearchesMatchOracle(dir, refDocs(fixtureRows), TestFixtures.querySet)

    // per-row sha256(content) invariant survives source -> docstats
    val stats = spark.read.parquet(IndexBuilder.docstatsDir(dir))
      .select("docId", "sha").as[(Long, String)].collect().toMap
    refDocs(fixtureRows).foreach { case (id, content) =>
      assert(stats(id) == IndexBuilder.sha256Hex(content))
    }

    // resume: nothing to rebuild, stats identical
    val report2 = IndexBuilder.build(spark, corpus, dir,
      IndexConfig(segSize = 2, segmentsPerBatch = 2))
    assert(report2.builtSegments.isEmpty)
    assert(report2.skippedSegments == Seq(0, 1, 2))
    assert(report2.stats == report.stats)
  }

  test("resume rebuilds exactly the missing segment, byte-identical digests") {
    import spark.implicits._
    val dirA = SparkTestBase.tmpDir("resA")
    val corpus = spark.createDataset(fixtureRows)
    val cfg = IndexConfig(segSize = 2, segmentsPerBatch = 1)
    IndexBuilder.build(spark, corpus, dirA, cfg)
    val fullManifests = IndexBuilder.readManifests(fsOf(dirA), dirA)

    // simulate a crash that lost segment 1 after commit of 0 and 2: the
    // record lists only 0 and 2
    val fs = fsOf(dirA)
    val (st, live) = IndexBuilder.readCurrentRecord(fs, dirA)
    IndexBuilder.commitRecord(fs, dirA, st, live.filterNot(_.segId == 1))
    fs.delete(new Path(s"${IndexBuilder.segmentsDir(dirA)}/segId=1"), true)
    fs.delete(new Path(s"${IndexBuilder.docstatsDir(dirA)}/segId=1"), true)

    val report = IndexBuilder.build(spark, corpus, dirA, cfg)
    assert(report.builtSegments == Seq(1))
    val resumed = IndexBuilder.readManifests(fsOf(dirA), dirA)
    assert(resumed.map(m => (m.segId, m.digest, m.postingRows, m.docCount)) ==
      fullManifests.map(m => (m.segId, m.digest, m.postingRows, m.docCount)))
    assertSearchesMatchOracle(dirA, refDocs(fixtureRows), TestFixtures.querySet.take(5))
  }

  test("determinism across parallelism: digests equal at different shuffle widths") {
    import spark.implicits._
    val rows2 = (0 until 200).map { i =>
      CorpusRow(f"r${i % 7}", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(42L, i.toLong))
    }
    val dirA = SparkTestBase.tmpDir("detA")
    val dirB = SparkTestBase.tmpDir("detB")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    IndexBuilder.build(spark, spark.createDataset(rows2), dirA,
      IndexConfig(segSize = 64, sortPartitions = 2))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    IndexBuilder.build(spark, spark.createDataset(rows2), dirB,
      IndexConfig(segSize = 64, sortPartitions = 8, segmentsPerBatch = 2))
    val a = IndexBuilder.readManifests(fsOf(dirA), dirA)
    val b = IndexBuilder.readManifests(fsOf(dirB), dirB)
    assert(a.map(m => (m.segId, m.digest, m.postingRows, m.docCount)) ==
      b.map(m => (m.segId, m.digest, m.postingRows, m.docCount)))
  }

  test("salted (partial-run) aggregation is run-boundary invariant — G2") {
    import spark.implicits._
    val rows = (0 until 120).map { i =>
      CorpusRow(f"r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(7L, i.toLong))
    }
    val dirA = SparkTestBase.tmpDir("saltA")
    val dirB = SparkTestBase.tmpDir("saltB")
    // one run per (segment, term) vs many: doc files = sortPartitions, and
    // each input split salts its own partial runs
    IndexBuilder.build(spark, spark.createDataset(rows), dirA, IndexConfig(segSize = 50, sortPartitions = 1))
    IndexBuilder.build(spark, spark.createDataset(rows), dirB, IndexConfig(segSize = 50, sortPartitions = 13))
    val a = IndexBuilder.readManifests(fsOf(dirA), dirA)
    val b = IndexBuilder.readManifests(fsOf(dirB), dirB)
    assert(a.map(m => (m.segId, m.digest)) == b.map(m => (m.segId, m.digest)))
  }

  test("synthetic corpus: engine == oracle incl. needle phrase and hot-term OR") {
    import spark.implicits._
    val n = 2500
    val corpus = CorpusSource.synth(spark, n, 42L, 4)
    val dir = SparkTestBase.tmpDir("synth")
    IndexBuilder.build(spark, corpus, dir, IndexConfig(segSize = 512))
    val docs = refDocs(corpus.collect().toSeq)
    val queries = Seq(
      "s1" -> "w0000",                      // hottest term
      "s2" -> "w0000 OR w0001 OR w5000",    // union with hot+cold
      "s3" -> "w0003 AND w0007",
      "s4" -> "\"needle alpha beta\"",      // injected phrase
      "s5" -> "w0001 NOT w0000",
      "s6" -> "(w0004 OR w0005) AND w0002",
      "s7" -> "w000*",                      // prefix: lexicon expansion
      "s8" -> "w000* AND w0100",
      "s9" -> "need* OR w9999",
      "s10" -> "w00?5",                     // wildcard
      "s11" -> "w1*9",
      "s12" -> "w0001~1",                   // fuzzy (many neighbors, capped)
      "s13" -> "[w0005 TO w0011]",          // term range
      "s14" -> "[alpha TO beta] AND w0002",
      // unprefixed multiterm on long-enough terms: the 3-gram sidecar path
      // (len >= 3d+3 for fuzzy; a literal run >= 3 for infix wildcards)
      "s15" -> "needla~1",
      "s16" -> "*eedl* OR w0003",
      "s17" -> "w0001~1")                   // short term: full-scan fallback
    assertSearchesMatchOracle(dir, docs, queries)
    // the gram sidecar exists and the long-term fuzzy actually matches
    assert(!Searcher.open(spark, dir).lexgrams.isEmpty)
    val h = Searcher.open(spark, dir)
    assert(Searcher.search(spark, h, "needla~1", 5).count() > 0)
  }

  test("merge/compaction preserves search results and digest-invariant content") {
    import spark.implicits._
    val rows = (0 until 150).map { i =>
      CorpusRow(f"r${i % 3}", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(11L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("merge")
    IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 32)) // 5 segments
    val docs = refDocs(rows)
    val queries = Seq("m1" -> "w0000", "m2" -> "w0002 AND w0003",
      "m3" -> "w0001 OR w0004", "m4" -> "\"w0000 w0000\"")
    assertSearchesMatchOracle(dir, docs, queries)

    Merger.compact(spark, dir, groupSize = 2) // hierarchical pairwise cogroup
    val after = IndexBuilder.readManifests(fsOf(dir), dir)
    assert(after.size == 1)
    assert(after.head.docCount == 150)
    // merged manifests keep the full metrics contract: real row/byte counts
    // and digest (not placeholders), plus transitive build-layout lineage
    assert(after.head.postingRows > 0 && after.head.postingBytes > 0)
    assert(after.head.digest.length == 32 && after.head.digest != "merged")
    assert(after.head.coverSet == Seq(0, 1, 2, 3, 4))
    assertSearchesMatchOracle(dir, docs, queries)

    // resume into the compacted index: covered ranges are never re-ingested
    val report = IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 32))
    assert(report.builtSegments.isEmpty,
      s"resume re-ingested ${report.builtSegments} after compaction")
    assert(report.stats.numDocs == 150)
    assertSearchesMatchOracle(dir, docs, queries.take(2))
  }

  test("crashed merge: superseded manifests + orphan dirs are ignored by readers") {
    import spark.implicits._
    val rows = (0 until 90).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(19L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("crash")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 30))
    val fs = fsOf(dir)
    val before = IndexBuilder.readManifests(fs, dir)
    assert(before.map(_.segId) == Seq(0, 1, 2))
    val saved = SparkTestBase.tmpDir("crash-seg0")
    val seg0 = Seq(IndexBuilder.segmentsDir(dir), IndexBuilder.docstatsDir(dir))
      .map(d => new Path(s"$d/segId=0"))
    seg0.zipWithIndex.foreach { case (p, i) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(s"$saved/$i"), false,
        spark.sparkContext.hadoopConfiguration)
    }

    Merger.mergeGroup(spark, dir, Seq(0, 1))
    // simulate a crash between the merge commit point (the record) and the
    // GC of the group's dirs: segment 0's dirs are back on disk
    seg0.zipWithIndex.foreach { case (p, i) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$saved/$i"), fs, p, false,
        spark.sparkContext.hadoopConfiguration)
    }
    val live = IndexBuilder.readManifests(fs, dir)
    assert(live.map(_.segId) == Seq(2, 3), s"record: ${live.map(_.segId)}")
    assert(live.map(_.docCount).sum == 90)
    // readers ignore the orphan dirs: segment 0's docs would count twice
    val queries = Seq("c1" -> "w0000", "c2" -> "w0001 OR w0002")
    assertSearchesMatchOracle(dir, refDocs(rows), queries)
    // the next merge GCs them
    Merger.mergeGroup(spark, dir, Seq(2, 3))
    seg0.foreach(p => assert(!fs.exists(p), s"orphan $p survived the next merge"))
    assert(IndexBuilder.readManifests(fs, dir).map(_.segId) == Seq(4))
    assertSearchesMatchOracle(dir, refDocs(rows), queries)
  }

  test("an unfinished multi-batch build: open asks for the rerun, which finishes it") {
    import spark.implicits._
    val corpus = spark.createDataset(fixtureRows)
    val cfg = IndexConfig(segSize = 2, segmentsPerBatch = 1)
    val dirA = SparkTestBase.tmpDir("unfinA")
    val dirB = SparkTestBase.tmpDir("unfinB")
    IndexBuilder.build(spark, corpus, dirA, cfg)
    IndexBuilder.build(spark, corpus, dirB, cfg)
    // the state after batch 1 of 3 and a crash in batch 2 after its
    // promote: the record lists segment 0, no lexicon exists yet
    val fs = fsOf(dirB)
    val (st, live) = IndexBuilder.readCurrentRecord(fs, dirB)
    IndexBuilder.commitRecord(fs, dirB, st, live.take(1))
    Seq(IndexBuilder.lexiconDir(dirB), IndexBuilder.lexgramsDir(dirB),
      s"${IndexBuilder.segmentsDir(dirB)}/segId=2", s"${IndexBuilder.docstatsDir(dirB)}/segId=2")
      .foreach(d => fs.delete(new Path(d), true))
    assert(graft.build.IndexAdmin.exists(spark, dirB))
    val e = intercept[IllegalStateException](Searcher.open(spark, dirB))
    assert(e.getMessage.contains("rerun IndexBuilder.build"), e.getMessage)

    val report = IndexBuilder.build(spark, corpus, dirB, cfg)
    assert(report.builtSegments == Seq(1, 2))
    def key(d: String) = IndexBuilder.readManifests(fsOf(d), d)
      .map(m => (m.segId, m.digest, m.postingRows, m.docCount))
    assert(key(dirB) == key(dirA))
    assert(IndexBuilder.readStats(fs, dirB) == IndexBuilder.readStats(fsOf(dirA), dirA))
    assertSearchesMatchOracle(dirB, refDocs(fixtureRows), TestFixtures.querySet.take(5))
  }

  test("merges refuse an unfinished multi-batch build; the rerun finishes it") {
    import spark.implicits._
    val corpus = spark.createDataset(fixtureRows)
    val cfg = IndexConfig(segSize = 2, segmentsPerBatch = 1)
    val dir = SparkTestBase.tmpDir("unfinmerge")
    val ref = SparkTestBase.tmpDir("unfinmerge-ref")
    IndexBuilder.build(spark, corpus, dir, cfg)
    IndexBuilder.build(spark, corpus, ref, cfg)
    // the state after batch 1 of 3: the record lists segment 0, no lexicon
    val fs = fsOf(dir)
    val (st, live) = IndexBuilder.readCurrentRecord(fs, dir)
    IndexBuilder.commitRecord(fs, dir, st, live.take(1))
    Seq(IndexBuilder.lexiconDir(dir), IndexBuilder.lexgramsDir(dir),
      s"${IndexBuilder.segmentsDir(dir)}/segId=1", s"${IndexBuilder.docstatsDir(dir)}/segId=1",
      s"${IndexBuilder.segmentsDir(dir)}/segId=2", s"${IndexBuilder.docstatsDir(dir)}/segId=2")
      .foreach(d => fs.delete(new Path(d), true))
    def files(): Set[(String, Long)] = {
      val it = fs.listFiles(new Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => f.getPath.toString -> f.getModificationTime).toSet
    }
    val before = files()
    // a merge would mint segId 1, the id the rerun builds next
    Seq[(String, () => Any)](
      "mergeGroup" -> (() => Merger.mergeGroup(spark, dir, Seq(0))),
      "mergeSmall" -> (() => Merger.mergeSmall(spark, dir, smallDocs = 3)),
      "compact" -> (() => Merger.compact(spark, dir))).foreach { case (what, merge) =>
      val e = intercept[IllegalStateException](merge())
      assert(e.getMessage.contains("rerun IndexBuilder.build"), s"$what: ${e.getMessage}")
    }
    assert(files() == before, "a refused merge changed the index")
    val report = IndexBuilder.build(spark, corpus, dir, cfg)
    assert(report.builtSegments == Seq(1, 2))
    def key(d: String) = IndexBuilder.readManifests(fsOf(d), d)
      .map(m => (m.segId, m.digest, m.postingRows, m.docCount))
    assert(key(dir) == key(ref))
    assertSearchesMatchOracle(dir, refDocs(fixtureRows), TestFixtures.querySet.take(5))
  }

  test("a handle answers as at open after later deletes and upserts") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(47L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("pinned")
    val cfg = IndexConfig(segSize = 50)
    IndexBuilder.build(spark, spark.createDataset(rows), dir, cfg)
    // segment 1 (docIds 50-99) has a tombstone when h1 opens
    graft.build.Deletes.add(spark, dir, Seq(60L))
    val h1 = Searcher.open(spark, dir)
    val queries = Seq("w0001", "w0002 OR w0003", "*")
    def answers(h: Searcher.IndexHandle) =
      queries.map(q => Searcher.search(spark, h, q, 300).collect().toSeq)
    val atOpen = answers(h1)
    val victim = atOpen.head.map(_.docId).find(id => id >= 50 && id < 100).get
    assert(!atOpen.last.map(_.docId).contains(60L))
    // a later delete and a later upsert, both in segment 1
    graft.build.Deletes.add(spark, dir, Seq(victim))
    assert(answers(h1) == atOpen, "a later delete changed an open handle's answers")
    val replaced = rows(70).copy(content = rows(70).content + " qqfresh")
    graft.streaming.StreamingIngest.upsert(spark, Seq(replaced).toDS(), dir, cfg)
    assert(answers(h1) == atOpen, "a later upsert changed an open handle's answers")
    assert(Searcher.search(spark, h1, "qqfresh", 10).count() == 0)
    // a fresh open sees both
    val h2 = Searcher.open(spark, dir)
    val all = Searcher.search(spark, h2, "*", 300).collect().map(_.docId).toSet
    assert(!all(60L) && !all(victim) && !all(70L) && all.size == 200 - 3 + 1)
    assert(Searcher.search(spark, h2, "qqfresh", 10).collect().map(_.docId).toSeq == Seq(200L))
  }

  test("deletion lifecycle: query-time tombstones, purge at compact, stats refresh") {
    import spark.implicits._
    val rows = (0 until 80).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(17L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("dels")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 24))
    val dels = Set(2L, 10L, 41L)
    graft.build.Deletes.add(spark, dir, dels.toSeq)

    // tombstones hidden at query time (stats still pre-delete, like the
    // reference before optimize)
    val h1 = Searcher.open(spark, dir)
    assert(h1.hasDeletes)
    assert(graft.build.Deletes.read(spark, dir) == dels)
    val hits1 = Searcher.search(spark, h1, "w0000", 100).collect()
    assert(hits1.nonEmpty && hits1.map(_.docId).toSet.intersect(dels).isEmpty)

    // paged search agrees with a single big top-k
    val all = Searcher.search(spark, h1, "w0000", 30).collect().toSeq
    val page2 = Searcher.searchPage(spark, h1, "w0000", pageNum = 2, pageLen = 10)
    assert(page2 == all.slice(10, 20))

    // physical purge at compaction + stats refresh -> rank-identical to an
    // oracle over the surviving docs (original docIds)
    Merger.compact(spark, dir, groupSize = 2, applyDeletes = true)
    val survivors = refDocs(rows).filterNot { case (id, _) => dels.contains(id) }
    assertSearchesMatchOracle(dir, survivors,
      Seq("d1" -> "w0000", "d2" -> "w0001 OR w0002", "d3" -> "w0003 AND w0004"))
    val h2 = Searcher.open(spark, dir)
    assert(h2.stats.numDocs == 77)
    assert(!h2.hasDeletes)
  }

  test("tombstones stay addressable through compaction (covers mapping)") {
    import spark.implicits._
    val rows = (0 until 100).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(31L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("delmerge")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 25))
    val dels = Set(5L, 30L, 77L)
    graft.build.Deletes.add(spark, dir, dels.toSeq)
    // compact WITHOUT applying deletes: the merged segment has a fresh
    // segId; its tombstones live in sidecars keyed by the ORIGINAL ranges
    // and must still be found through the manifest's covers
    Merger.compact(spark, dir, groupSize = 2)
    val h = Searcher.open(spark, dir)
    assert(h.hasDeletes)
    val hits = Searcher.search(spark, h, "w0000", 200).collect().map(_.docId).toSet
    assert(hits.nonEmpty && hits.intersect(dels).isEmpty,
      s"tombstoned ids visible after compaction: ${hits & dels}")
    assert(Searcher.getDocuments(spark, h, dels.toSeq).count() == 0)
    // now purge physically
    Merger.compact(spark, dir, groupSize = 8, applyDeletes = true)
    val h2 = Searcher.open(spark, dir)
    assert(!h2.hasDeletes && h2.stats.numDocs == 97)
    val survivors = refDocs(rows).filterNot { case (id, _) => dels.contains(id) }
    assertSearchesMatchOracle(dir, survivors, Seq("p1" -> "w0000", "p2" -> "w0001 OR w0002"))
  }

  test("upsert then compact(applyDeletes) purges the replaced versions") {
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(37L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("upcompact")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 20))
    val victims = rows.sortBy(r => (r.repo, r.path, r.commit)).take(2)
    val updated = victims.map(r => r.copy(content = r.content + " qqfresh"))
    graft.streaming.StreamingIngest.upsert(spark, spark.createDataset(updated), dir,
      IndexConfig(segSize = 20))
    Merger.compact(spark, dir, groupSize = 4, applyDeletes = true)
    val h = Searcher.open(spark, dir)
    assert(h.stats.numDocs == 60) // 60 live: 58 untouched + 2 replacements
    assert(!h.hasDeletes)
    assert(Searcher.search(spark, h, "qqfresh", 10).count() == 2)
    // oracle over the post-upsert live corpus at its live docIds
    val liveDocs = {
      val untouched = refDocs(rows).filterNot { case (id, _) => id == 0L || id == 1L }
      val base = 60L // docIdBase of the appended batch (3 segs of 20 -> segId 3)
      val appended = updated.sortBy(r => (r.repo, r.path, r.commit)).zipWithIndex
        .map { case (r, i) => (base + i, r.content) }
      untouched ++ appended
    }
    assertSearchesMatchOracle(dir, liveDocs, Seq("u1" -> "w0000", "u2" -> "qqfresh"))
  }

  test("merging a fully-tombstoned group commits an empty segment cleanly") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(41L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("alldel")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 20))
    // tombstone EVERY doc of segment 0 (ids 0..19), then merge just it
    graft.build.Deletes.add(spark, dir, (0L until 20L).toSeq)
    Merger.mergeGroup(spark, dir, Seq(0), (0L until 20L).toSet)
    val ms = IndexBuilder.readManifests(fsOf(dir), dir)
    assert(ms.map(_.segId).toSet == Set(1, 2))
    assert(ms.find(_.segId == 2).get.docCount == 0)
    // survivors (segment 1) still searchable, deleted docs gone physically
    val h = Searcher.open(spark, dir)
    val hits = Searcher.search(spark, h, "w0000", 100).collect().map(_.docId)
    assert(hits.nonEmpty && hits.forall(_ >= 20L))
  }

  test("merge with deletes purges tombstoned docs") {
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(13L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("del")
    IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 30))
    val deleted = Set(3L, 17L, 45L)
    Merger.mergeGroup(spark, dir, Seq(0, 1), deleted)
    // oracle over the surviving docs, with ORIGINAL docIds and global stats
    // note: stats.json still reflects pre-delete N/avgfl (reference semantics:
    // deleted docs vanish from results at merge; stats refresh on optimize is
    // a separate pass) — compare result SETS only
    val handle = Searcher.open(spark, dir)
    val hits = Searcher.search(spark, handle, "w0000", 100).collect()
    assert(hits.map(_.docId).toSet.intersect(deleted).isEmpty)
    assert(hits.nonEmpty)
  }

  test("compaction with a 10^5-id tombstone set: no literal plan bloat") {
    import spark.implicits._
    val rows = (0 until 120).map { i =>
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(31L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("bigdel")
    IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 40))
    // a heavily-deleted index's compaction purge set: 10^5 ids riding the
    // broadcast sorted-array probe (never Catalyst literals) — includes a
    // few live ids and a mass of already-purged ones from absorbed ranges
    val dels = (0L until 100000L).map(_ + 7L).toSet + 3L + 77L
    val merged = Merger.mergeGroup(spark, dir, Seq(0, 1, 2), dels)
    val handle = Searcher.open(spark, dir)
    val live = Searcher.search(spark, handle, "*", 200).collect().map(_.docId).toSet
    val expected = (0L until 120L).toSet -- dels
    assert(live == expected, s"live=$live")
    assert(merged == 3)
  }

  test("Every: match-all + top-level pure NOT rank-identical to oracle") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("ev")
    IndexBuilder.build(spark, spark.createDataset(fixtureRows), dir,
      IndexConfig(segSize = 2))
    assertSearchesMatchOracle(dir, refDocs(fixtureRows), Seq(
      "e1" -> "*",
      "e2" -> "NOT search",
      "e3" -> "* NOT search",
      "e4" -> "* ANDMAYBE search",
      "e5" -> "*^3 NOT \"search engine\"",
      "e6" -> "* AND frequency"))
  }

  test("variations (D16): inflectional expansion rank-identical to oracle") {
    import spark.implicits._
    // planted inflection family so the expansion is non-trivial
    val forms = Array("merge", "merges", "merged", "merging", "merger", "join")
    val rows = (0 until 60).map { i =>
      val extra = forms(i % forms.length)
      CorpusRow("r0", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(29L, i.toLong) + " " + extra)
    }
    val dir = SparkTestBase.tmpDir("vars")
    IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 16))
    val docs = refDocs(rows)
    val ref = new RefModel(docs)
    val handle = Searcher.open(spark, dir)
    val q = graft.search.QVariations("merge")
    // the candidate family covers the planted forms except the non-inflection
    val cands = graft.search.QVariations.candidates("merge")
    assert(Set("merge", "merges", "merged", "merging").subsetOf(cands))
    assert(!cands.contains("merger") && !cands.contains("join"))
    val hits = Searcher.searchQ(spark, handle, q, 10).collect().toSeq
    val oracle = ref.search(q, 10)
    assert(hits.map(_.docId) == oracle.map(_._1), s"$hits vs $oracle")
    hits.zip(oracle).foreach { case (h, (_, s)) =>
      assert(math.abs(h.score - s) <= 1e-6)
    }
    // expansion == the equivalent explicit OR over present lexicon terms
    val present = cands.filter(c => spark.read.parquet(IndexBuilder.lexiconDir(dir))
      .filter($"term" === c).count() > 0).toList.sorted
    val orHits = Searcher.searchQ(spark, handle,
      graft.search.QOr(present.map(graft.search.QTerm(_))), 10).collect().toSeq
    assert(hits == orHits)
  }

  test("facet variants: FunctionFacet expr == RangeFacet; multi facet keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit}
    val dir = SparkTestBase.tmpDir("facets")
    IndexBuilder.build(spark, spark.createDataset(fixtureRows), dir,
      IndexConfig(segSize = 2))
    val handle = Searcher.open(spark, dir)
    // the general FunctionFacet form reproduces the range facet exactly
    val viaExpr = Searcher.facetCountsExpr(spark, handle, "search",
        (floor(col("rawLen").cast("double") / lit(5.0)) * lit(5.0)).as("b"), "rawLen_lo")
      .as[(Double, Long)].collect().toSet
    val viaRange = Searcher.facetRangeCounts(spark, handle, "search",
        "rawLen", 0, 10000, 5)
      .as[(Double, Long)].collect().toSet
    assert(viaExpr == viaRange && viaRange.nonEmpty)
    // compound facet totals == single facet totals (same match set)
    val multi = Searcher.facetCountsMulti(spark, handle, "search", Seq("lang", "repo"))
      .as[(String, String, Long)].collect()
    val single = Searcher.facetCounts(spark, handle, "search", "lang")
      .as[(String, Long)].collect().toMap
    assert(multi.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap == single)
  }

  test("searchFaceted: one kernel pass serves both facets and sorted hits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = (0 until 120).map { i =>
      CorpusRow(f"r${i % 5}", f"f$i%04d.txt", f"$i%040x", s"l${i % 3}",
        graft.corpus.SynthCorpus.doc(37L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("faceted")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 32))
    val handle = Searcher.open(spark, dir)

    val fsr = Searcher.searchFaceted(spark, handle, "w0000", "lang",
      Seq("rawLen" -> false), k = 10)
    try {
      // == the two-call composition (facetCounts + searchSortedByKeys)
      val facets = fsr.facets.as[(String, Long)].collect().toSet
      val expFacets = Searcher.facetCounts(spark, handle, "w0000", "lang")
        .as[(String, Long)].collect().toSet
      assert(facets == expFacets && facets.nonEmpty)
      val hits = fsr.hits.select(col("docId"), col("rawLen")).as[(Long, Long)]
        .collect().toSeq
      val expHits = Searcher.searchSortedByKeys(spark, handle, "w0000",
        Seq("rawLen" -> false), 10).select(col("docId"), col("rawLen"))
        .as[(Long, Long)].collect().toSeq
      assert(hits == expHits && hits.nonEmpty)
      // the SECOND consumer reads the cached match set, not the segments:
      // everything that executes fresh (above the InMemoryRelation, whose
      // printed subtree is just the cached plan's description) must be an
      // in-memory scan — no file scan, no second kernel pass
      val facetPlan = fsr.facets.queryExecution.executedPlan.toString
      assert(facetPlan.contains("InMemoryTableScan"),
        s"facets not served from the cached match pass:\n$facetPlan")
      val fresh = facetPlan.split("InMemoryRelation")(0)
      assert(!fresh.contains("FileScan") && !fresh.contains("MapGroups"),
        s"facets re-ran the match pass:\n$facetPlan")
      // score-sorted flavor (no sort keys) == ordinary search ranking
      val f2 = Searcher.searchFaceted(spark, handle, "w0000", "lang", k = 10)
      try {
        val scoreHits = f2.hits.select(col("docId")).as[Long].collect().toSeq
        val expTop = Searcher.search(spark, handle, "w0000", 10)
          .collect().toSeq.map(_.docId)
        assert(scoreHits == expTop)
      } finally f2.close()
    } finally fsr.close()
  }

  test("span queries (D15): engine rank- and score-identical to oracle") {
    import spark.implicits._
    val rows = (0 until 150).map { i =>
      CorpusRow(f"r${i % 5}", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(23L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("span")
    IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 32))
    val docs = refDocs(rows)
    assertSearchesMatchOracle(dir, docs, Seq(
      "s1" -> "w0000 NEAR w0001",
      "s2" -> "w0000 NEAR/5 w0001",
      "s3" -> "w0000 ONEAR/5 w0001",
      "s4" -> "w0000 NEAR/3 w0001 NEAR/3 w0002",
      "s5" -> "w0000 ONEAR/4 (w0001 OR w0002)",
      "s6" -> "w0003 NEAR/6 w0004 AND w0000",
      "s7" -> "needle ONEAR/2 beta"))
    // SpanNot (programmatic, like Whoosh): w0000..w0001 windows not
    // containing w0002, vs the brute-force oracle
    val ref = new RefModel(docs)
    val handle = Searcher.open(spark, dir)
    val q = graft.search.QSpanNot(
      graft.search.QSpanNear(List(graft.search.QTerm("w0000"),
        graft.search.QTerm("w0001")), 6, ordered = true),
      graft.search.QTerm("w0002"))
    val hits = Searcher.searchQ(spark, handle, q, 10).collect().toSeq
    val oracle = ref.search(q, 10)
    assert(hits.map(_.docId) == oracle.map(_._1), s"spannot: $hits vs $oracle")
    hits.zip(oracle).foreach { case (h, (_, s)) =>
      assert(math.abs(h.score - s) <= 1e-6)
    }
    assert(hits.nonEmpty) // the query class actually exercises matches

    // bi-operators: Contains / Before / Condition vs the oracle
    import graft.search.{QSpanBefore, QSpanCondition, QSpanContains, QSpanNear => SN, QTerm => T}
    val biQueries = Seq(
      "contains" -> QSpanContains(SN(List(T("w0000"), T("w0001")), 6, ordered = true), T("w0002")),
      "before" -> QSpanBefore(T("w0003"), T("w0004")),
      "condition" -> QSpanCondition(SN(List(T("w0000"), T("w0001")), 3, ordered = false), T("w0005")))
    biQueries.foreach { case (name, bq) =>
      val h2 = Searcher.searchQ(spark, handle, bq, 10).collect().toSeq
      val o2 = ref.search(bq, 10)
      assert(h2.map(_.docId) == o2.map(_._1), s"$name: $h2 vs $o2")
      h2.zip(o2).foreach { case (h, (_, s)) =>
        assert(math.abs(h.score - s) <= 1e-6, name)
      }
      assert(h2.nonEmpty, s"$name matched nothing - weak test")
    }

    // SpanFirst (round-5, [W] whoosh SpanFirst(q, limit)): spans ending
    // before the limit; a generous limit must equal the bare term query
    import graft.search.QSpanFirst
    Seq("f1" -> QSpanFirst(T("w0000"), 8),
        "f2" -> QSpanFirst(SN(List(T("w0000"), T("w0001")), 6, ordered = true), 20),
        "f3" -> QSpanFirst(T("w0002"), 100000)).foreach { case (name, fq) =>
      val h3 = Searcher.searchQ(spark, handle, fq, 10).collect().toSeq
      val o3 = ref.search(fq, 10)
      assert(h3.map(_.docId) == o3.map(_._1), s"$name: $h3 vs $o3")
      h3.zip(o3).foreach { case (h, (_, s)) =>
        assert(math.abs(h.score - s) <= 1e-6, name)
      }
      assert(h3.nonEmpty, s"$name matched nothing - weak test")
    }
    // an unbounded-limit SpanFirst degenerates to the bare term (docs and scores)
    assert(Searcher.searchQ(spark, handle, QSpanFirst(T("w0002"), Int.MaxValue), 10)
      .collect().toSeq ==
      Searcher.searchQ(spark, handle, T("w0002"), 10).collect().toSeq)
  }

  test("ConstantScore + Otherwise (round-5): rank identity, both branches") {
    import spark.implicits._
    import graft.search.{QConstantScore, QOtherwise, QOr, QTerm => T}
    val rows = (0 until 120).map { i =>
      CorpusRow(f"r${i % 5}", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(29L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("wrapq")
    IndexBuilder.build(spark, spark.createDataset(rows), dir, IndexConfig(segSize = 32))
    val ref = new RefModel(refDocs(rows))
    val handle = Searcher.open(spark, dir)
    val queries = Seq(
      "cs_alone" -> QConstantScore(T("w0000"), 2.5),
      "cs_or"    -> QOr(List(QConstantScore(T("w0000"), 2.5), T("w0001"))),
      "ow_a"     -> QOtherwise(T("w0000"), T("w0001")),       // a matches -> a
      "ow_b"     -> QOtherwise(T("zzznope"), T("w0001")),     // a empty -> b
      "ow_nest"  -> QOtherwise(T("zzznope"), QOtherwise(T("zzznope2"), T("w0002"))))
    queries.foreach { case (name, q) =>
      val hits = Searcher.searchQ(spark, handle, q, 10).collect().toSeq
      val oracle = ref.search(q, 10)
      assert(hits.map(_.docId) == oracle.map(_._1), s"$name: $hits vs $oracle")
      hits.zip(oracle).foreach { case (h, (_, s)) =>
        assert(math.abs(h.score - s) <= 1e-6, name)
      }
      assert(hits.nonEmpty, s"$name matched nothing - weak test")
    }
    // the resolved Otherwise must EQUAL its taken branch exactly
    assert(Searcher.searchQ(spark, handle, QOtherwise(T("w0000"), T("w0001")), 10)
      .collect().toSeq ==
      Searcher.searchQ(spark, handle, T("w0000"), 10).collect().toSeq)
    assert(Searcher.searchQ(spark, handle, QOtherwise(T("zzznope"), T("w0001")), 10)
      .collect().toSeq ==
      Searcher.searchQ(spark, handle, T("w0001"), 10).collect().toSeq)
  }

  test("D14: Every/NOT queries read persisted pseudo lists, never docstats") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("evplan")
    IndexBuilder.build(spark, spark.createDataset(fixtureRows), dir,
      IndexConfig(segSize = 2))
    val handle = Searcher.open(spark, dir)
    // the pseudo rows are PERSISTED per segment: stored term-sorted ahead
    // of every real term, real-count metrics unchanged
    val pseudo = spark.read.parquet(IndexBuilder.segmentsDir(dir))
      .filter($"term" < graft.search.Q.RealTermMin)
      .select($"term", $"df", $"segId")
      .as[(String, Int, Int)].collect()
    assert(pseudo.count(_._1 == graft.search.Q.EveryTerm) == 3) // one per segment
    assert(pseudo.filter(_._1 == graft.search.Q.EveryTerm).map(_._2).sum == 5) // df = docCount
    // lexicon and manifests exclude them
    val lexMin = spark.read.parquet(IndexBuilder.lexiconDir(dir))
      .agg(org.apache.spark.sql.functions.min($"term")).head().getString(0)
    assert(lexMin >= graft.search.Q.RealTermMin)
    // a pure-NOT (Every-backed) query reads ONLY the segments' rows: its
    // plan scans no file relation (the kernel's task reads the segment
    // files), and it still answers as RefModel with the docstats sidecar gone
    val q = QueryParser.parse("NOT search")
    val plan = Searcher.searchQ(spark, handle, q, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("docstats") && !plan.contains("FileScan"),
      s"file scan in Every plan:\n$plan")
    val oracle = new RefModel(refDocs(fixtureRows)).search("NOT search", 10)
    assert(oracle.nonEmpty)
    fsOf(dir).delete(new Path(IndexBuilder.docstatsDir(dir)), true)
    val hits = Searcher.searchQ(spark, Searcher.open(spark, dir), q, 10).collect().toSeq
    assert(hits.map(_.docId) == oracle.map(_._1), s"$hits vs $oracle")
  }

  test("delete-by-query: bulk tombstones, hidden at query, purged at compaction") {
    import spark.implicits._
    val rows2 = (0 until 200).map { i =>
      CorpusRow(f"r${i % 7}", f"f$i%04d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(7L, i.toLong))
    }
    val dir = SparkTestBase.tmpDir("dq")
    IndexBuilder.build(spark, spark.createDataset(rows2), dir,
      IndexConfig(segSize = 32))
    val docs = refDocs(rows2)
    // most frequent surviving term: a deletion that spans many ranges
    val term = docs.flatMap(d => graft.analysis.Analyzer.analyze(d._2).terms.map(_._1))
      .groupBy(identity).maxBy(_._2.size)._1
    val expectedDel = docs.filter(d =>
      graft.analysis.Analyzer.analyze(d._2).terms.exists(_._1 == term)).map(_._1).toSet
    assert(expectedDel.size > 10)

    graft.build.Deletes.byQuery(spark, dir, term)
    assert(graft.build.Deletes.read(spark, dir) == expectedDel)

    // hidden at query time: match-all sees only the survivors
    val h2 = Searcher.open(spark, dir)
    val live = Searcher.search(spark, h2, "*", docs.size + 5).collect()
    assert(live.length == docs.size - expectedDel.size)
    assert(live.map(_.docId).toSet.intersect(expectedDel).isEmpty)

    // idempotent: re-running the same delete adds nothing
    graft.build.Deletes.byQuery(spark, dir, term)
    assert(graft.build.Deletes.read(spark, dir) == expectedDel)

    // physical purge at compaction: stats shrink, tombstones cleared
    Merger.compact(spark, dir, applyDeletes = true)
    val h3 = Searcher.open(spark, dir)
    assert(h3.stats.numDocs == docs.size - expectedDel.size)
    assert(!h3.hasDeletes)
    val live2 = Searcher.search(spark, h3, "*", docs.size + 5).collect()
    assert(live2.map(_.docId).toSet == docs.map(_._1).toSet -- expectedDel)
  }

  test("one query path: every layout and two fields answer as RefModel, no Exchange") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("onepath")
    val cfg = IndexConfig(segSize = 32)
    def rows(from: Int, until: Int): Seq[CorpusRow] = (from until until).map { i =>
      CorpusRow(f"r${i % 5}", f"f$i%05d.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(42L, i.toLong))
    }
    val queries = TestFixtures.querySet.map(_._2) ++ Seq("*", "NOT w0004",
      "w0000 AND w0001", "w0000 OR w0001", "w0000 NEAR/5 w0001", "\"needle alpha beta\"")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    // each (engine query, oracle query) at 1 and 8 shuffle partitions: the
    // same answers, RefModel's over `docs`, and no Exchange in any plan
    def check(state: String, docs: Seq[(Long, String)], pairs: Seq[(String, String)])(
        search: String => org.apache.spark.sql.Dataset[Searcher.SearchHit]) = {
      val got = Seq("1", "8").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        try pairs.map { case (q, _) =>
          val ds = search(q)
          val plan = ds.queryExecution.executedPlan.toString
          assert(!plan.contains("Exchange"), s"[$state '$q'] plan has an exchange:\n$plan")
          ds.collect().toSeq
        } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
      }
      assert(got(0) == got(1), s"[$state] answers depend on the shuffle partitions")
      val ref = new RefModel(docs)
      pairs.zip(got(0)).foreach { case ((q, oq), hits) =>
        val oracle = ref.search(oq, 10)
        assert(hits.map(_.docId) == oracle.map(_._1), s"[$state '$q'] $hits vs $oracle")
        hits.zip(oracle).foreach { case (h, (_, sc)) =>
          assert(math.abs(h.score - sc) <= 1e-6, s"[$state '$q'] ${h.score} vs $sc")
        }
      }
      got(0)
    }
    def single(state: String, docs: Seq[(Long, String)]) = {
      val h = Searcher.open(spark, dir)
      check(state, docs, queries.map(q => q -> q))(Searcher.search(spark, h, _, 10))
    }
    // build: three segments; two appends: the uncovered delta segments 3
    // (docIds from 96) and 4 (from 128, the next segment boundary)
    IndexBuilder.build(spark, rows(0, 96).toDS(), dir, cfg)
    val built = refDocs(rows(0, 96))
    single("build", built)
    graft.streaming.StreamingIngest.append(spark, rows(96, 120).toDS(), dir, cfg)
    graft.streaming.StreamingIngest.append(spark, rows(120, 136).toDS(), dir, cfg)
    val docs = built ++ refDocs(rows(96, 120)).map { case (i, c) => (i + 96, c) } ++
      refDocs(rows(120, 136)).map { case (i, c) => (i + 128, c) }
    single("append", docs)
    assert(Merger.mergeSmall(spark, dir) == Seq(5))
    val merged = single("mergeSmall", docs)
    // compaction writes term-range files: one segment of >= 2 files
    Merger.compact(spark, dir)
    val compacted = IndexBuilder.readManifests(fsOf(dir), dir)
    assert(compacted.size == 1 && compacted.head.files.size >= 2, compacted)
    assert(single("compact", docs) == merged)
    // two fields, each its own index of the same text (segIds align, like
    // the benchmark's composed handle): a query over both reads both
    // fields' files of each segment in one task and scores as one field
    val copy = SparkTestBase.tmpDir("onepath-body") + "/ix"
    org.apache.hadoop.fs.FileUtil.copy(fsOf(dir), new Path(dir), fsOf(dir), new Path(copy),
      false, true, spark.sparkContext.hadoopConfiguration)
    val mh = new graft.search.MultiFieldSearcher.MultiHandle(dir,
      Seq(graft.build.MultiFieldIndex.FieldSpec("content", _.content),
        graft.build.MultiFieldIndex.FieldSpec("body", _.content)),
      Map("content" -> Searcher.open(spark, dir), "body" -> Searcher.open(spark, copy)))
    check("two fields", docs, Seq("w0000 OR body:w0001" -> "w0000 OR w0001",
      "w0000 AND body:w0001" -> "w0000 AND w0001", "body:w0002 NOT w0004" -> "w0002 NOT w0004",
      "NOT body:w0004" -> "NOT w0004", "*" -> "*"))(
      graft.search.MultiFieldSearcher.search(spark, mh, _, 10))
  }

  test("a handle opened before a compaction fails with a reopen error") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("stale")
    val corpus = CorpusSource.synth(spark, 200, 42L, 4)
    IndexBuilder.build(spark, corpus, dir, IndexConfig(segSize = 50))
    val stale = Searcher.open(spark, dir)
    Merger.compact(spark, dir)
    val e = intercept[Exception](Searcher.search(spark, stale, "w0001", 10).collect())
    assert(e.getMessage.contains("reopen") && e.getMessage.contains("segment "), e.getMessage)
    // the docstats readers fail too, naming a file the compaction removed,
    // instead of answering from the files that are left
    val gone = stale.manifests.flatMap(m => m.files ++ m.docstats).map(_._1)
    def failsNamingAGoneFile(read: => Any): Unit = {
      val err = intercept[Exception](read)
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(gone.exists(msgs.contains), msgs)
    }
    failsNamingAGoneFile(Searcher.getDocuments(spark, stale, Seq(0L, 1L, 150L)).collect())
    failsNamingAGoneFile(Searcher.searchSortedBy(spark, stale, "w0001", "rawLen").collect())
    failsNamingAGoneFile {
      val faceted = Searcher.searchFaceted(spark, stale, "w0001", "lang")
      try faceted.facets.collect() finally faceted.close()
    }
    val oracle = new RefModel(refDocs(corpus.collect().toSeq)).search("w0001", 10)
    val hits = Searcher.search(spark, Searcher.open(spark, dir), "w0001", 10).collect().toSeq
    assert(hits.map(_.docId) == oracle.map(_._1))
    hits.zip(oracle).foreach { case (h, (_, sc)) => assert(math.abs(h.score - sc) <= 1e-6) }
  }

  test("open makes the same FS calls on 4 and on 16 segments") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CountingFileSystem.Scheme}.impl", classOf[CountingFileSystem].getName)
    def openCalls(dir: String): (Long, Long, Long) =
      CountingFileSystem.callsDuring(
        Searcher.open(spark, s"${CountingFileSystem.Scheme}://$dir"))
    // the same corpus, so the same lexicon files; only the segments differ
    def built(segSize: Int): String = {
      val dir = SparkTestBase.tmpDir(s"fscalls$segSize")
      IndexBuilder.build(spark, CorpusSource.synth(spark, 320, 42L, 4), dir,
        IndexConfig(segSize = segSize))
      assert(IndexBuilder.readManifests(fsOf(dir), dir).size == 320 / segSize)
      dir
    }
    val dir = built(80)
    val (four, sixteen) = (openCalls(dir), openCalls(built(20)))
    info(s"(listStatus, getFileStatus, open) calls: 4 segments $four, 16 segments $sixteen")
    assert(four == sixteen)
    // the record names every file open needs: it lists no dir
    assert(four._1 == 0, s"open listed $four")
    // tombstones in two segments: the kernels read their lines' files
    graft.build.Deletes.add(spark, dir, Seq(1L, 200L))
    val deleted = openCalls(dir)
    info(s"(listStatus, getFileStatus, open) calls: no tombstones $four, tombstones $deleted")
    assert(deleted == four)
    // three appends: the delta lexicon reads their segments' recorded files
    (0 until 3).foreach { k =>
      graft.streaming.StreamingIngest.append(spark, CorpusSource.synth(spark, 20, 50L + k, 2),
        dir, IndexConfig(segSize = 80))
    }
    assert(IndexBuilder.readManifests(fsOf(dir), dir).count(!_.inLexicon) == 3)
    val appended = openCalls(dir)
    info(s"(listStatus, getFileStatus, open) calls: 0 delta segments $four, 3 delta $appended")
    assert(appended == four)
  }

  test("executors read tombstones through the session's Hadoop conf") {
    SessionOnlyFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val dir = SparkTestBase.tmpDir("sessionconf")
    IndexBuilder.build(spark, CorpusSource.synth(spark, 120, 42L, 4), dir,
      IndexConfig(segSize = 40))
    val uri = s"${SessionOnlyFileSystem.Scheme}://$dir"
    def hits(q: String, k: Int) =
      Searcher.search(spark, Searcher.open(spark, uri), q, k).collect().map(_.docId).toSeq
    // the kernel's tombstone probe: a deleted hit vanishes, the rest stay
    val before = hits("w0001", 11)
    assert(before.size == 11)
    graft.build.Deletes.add(spark, uri, Seq(before.head))
    assert(hits("w0001", 10) == before.tail)
    // the bulk writer's executor tasks
    assert(hits("w0002", 10).nonEmpty)
    graft.build.Deletes.byQuery(spark, uri, "w0002")
    assert(hits("w0002", 10).isEmpty)
    // the record is read through the scheme that wrote it: its checksum
    // file, from the build through the plain path, is stale
    assert(hits("w0001", 10).forall(id => !graft.build.Deletes.read(spark, uri).contains(id)))
  }

  test("open reads no segment file: garbage segment files still open colocated") {
    import scala.jdk.CollectionConverters._
    val dir = SparkTestBase.tmpDir("garbage")
    IndexBuilder.build(spark, CorpusSource.synth(spark, 200, 42L, 4), dir,
      IndexConfig(segSize = 50))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(IndexBuilder.segmentsDir(dir)))
      .iterator().asScala.toSeq
      .filter { p => val n = p.getFileName.toString; n.endsWith(".parquet") && !n.startsWith(".") }
    assert(files.size == 4)
    files.foreach(p => java.nio.file.Files.write(p, "not parquet".getBytes("UTF-8")))
    val h = Searcher.open(spark, dir)
    assert(h.segColocated && h.liveSegIds == Seq(0, 1, 2, 3))
    // the corrupt files fail the query that reads them
    intercept[Exception](Searcher.search(spark, h, "w0001", 10).collect())
  }

  test("record facts == a reference fold of the recorded files, for every writer") {
    import spark.implicits._
    type Facts = (Long, Long, String, Long, Long)
    // reference: the r5 per-segment sequential fold, driver-side, over the
    // rows read from the files one record line lists
    def reference(dir: String, m: graft.model.SegmentManifest): (Facts, Option[(Long, Long)]) = {
      val rows = IndexBuilder.segmentRows(spark, dir, Seq(m))
        .filter($"term" >= graft.search.Q.RealTermMin)
        .select($"term", $"df", $"maxTf", $"blocks", $"segId")
        .as[graft.model.SegRead].collect()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val dig = new Array[Byte](16)
      var bytes = 0L
      rows.foreach { r =>
        md.reset()
        md.update(r.term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(0.toByte)
        md.update(java.nio.ByteBuffer.allocate(8).putInt(r.df).putInt(r.maxTf).array())
        md.update(r.blocks)
        val h = md.digest()
        (0 until 16).foreach(i => dig(i) = (dig(i) ^ h(i)).toByte)
        bytes += r.blocks.length.toLong
      }
      val docs = IndexBuilder.docstatsRows(spark, dir, Seq(m))
        .select($"docId", $"rawLen").as[(Long, Int)].collect()
      val range = Option.when(docs.nonEmpty)((docs.map(_._1).min, docs.map(_._1).max))
      ((rows.length.toLong, bytes, dig.map(b => f"$b%02x").mkString, docs.length.toLong,
        docs.map(_._2.toLong).sum), range)
    }
    def lines(dir: String) = IndexBuilder.readManifests(fsOf(dir), dir)
    def facts(m: graft.model.SegmentManifest): Facts =
      (m.postingRows, m.postingBytes, m.digest, m.docCount, m.rawLenSum)
    // every line's facts == the reference fold of its files (docLo/docHi
    // too for the `built` segments: a merge records its members' range),
    // and the lines account for every real posting row on disk
    def check(dir: String, what: String, built: Set[Int]): Unit = {
      val ms = lines(dir)
      ms.foreach { m =>
        val (ref, range) = reference(dir, m)
        assert(facts(m) == ref, s"$what: segment ${m.segId}")
        if (built(m.segId)) assert(range.contains((m.docLo, m.docHi)), s"$what: segment ${m.segId}")
      }
      assert(ms.map(_.postingRows).sum == spark.read.parquet(IndexBuilder.segmentsDir(dir))
        .filter($"term" >= graft.search.Q.RealTermMin).count(), what)
    }

    val corpus = spark.createDataset(fixtureRows)
    val dir = SparkTestBase.tmpDir("factsref")
    IndexBuilder.build(spark, corpus, dir, IndexConfig(segSize = 2))
    check(dir, "single-shot build", Set(0, 1, 2))
    val batched = SparkTestBase.tmpDir("factsref-batched")
    IndexBuilder.build(spark, corpus, batched, IndexConfig(segSize = 2, segmentsPerBatch = 1))
    check(batched, "segmentsPerBatch = 1 build", Set(0, 1, 2))
    def keyed(d: String) = lines(d).map(m => (m.segId, facts(m), m.docLo, m.docHi))
    assert(keyed(batched) == keyed(dir))

    val more = (0 until 3).map { i =>
      CorpusRow("r2/more", f"m$i.txt", f"$i%040x", "text",
        graft.corpus.SynthCorpus.doc(5L, i.toLong) + " bm25 ranking")
    }
    graft.streaming.StreamingIngest.append(spark, spark.createDataset(more), dir,
      IndexConfig(segSize = 2))
    assert(lines(dir).map(_.segId) == Seq(0, 1, 2, 3, 4))
    check(dir, "append", Set(0, 1, 2, 3, 4))

    // tail shape: (0,1) and (2,3) each reach 3 docs; 4 is left alone
    assert(Merger.mergeSmall(spark, dir, smallDocs = 3) == Seq(5, 6))
    check(dir, "mergeSmall", Set(4))

    // cogroup shape with a purge, then a group whose every doc is purged
    val seg6 = lines(dir).find(_.segId == 6).get
    val purge = Set(seg6.docLo, seg6.docHi)
    assert(Merger.mergeGroup(spark, dir, Seq(4, 6), purge) == 7)
    val merged = lines(dir).find(_.segId == 7).get
    assert(merged.docCount == 3 + 1 - 2)
    check(dir, "mergeGroup with deletes", Set.empty)
    val seg5Docs = IndexBuilder.docstatsRows(spark, dir, lines(dir).filter(_.segId == 5))
      .select($"docId").as[Long].collect().toSet
    assert(Merger.mergeGroup(spark, dir, Seq(5), seg5Docs) == 8)
    val empty = lines(dir).find(_.segId == 8).get
    assert(facts(empty) == ((0L, 0L, "0" * 32, 0L, 0L)) && empty.files.isEmpty)
    check(dir, "mergeGroup purging every doc", Set.empty)
  }

  test("concurrently: both sides joined, a failing side rethrown unwrapped") {
    assert(IndexBuilder.concurrently("graft-test-ok")(1, "a") == ((1, "a")))
    val side = intercept[IllegalArgumentException] {
      IndexBuilder.concurrently("graft-test-side")(1, throw new IllegalArgumentException("side"))
    }
    assert(side.getMessage == "side")
    // both fail: main's failure wins, the side's rides along as suppressed,
    // and the side has finished before concurrently returns
    val sideDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val both = intercept[IllegalStateException] {
      IndexBuilder.concurrently("graft-test-both")(
        throw new IllegalStateException("main"),
        { Thread.sleep(100); sideDone.set(true); throw new ArithmeticException("side") })
    }
    assert(both.getMessage == "main" && sideDone.get())
    assert(both.getSuppressed.toSeq.map(_.getClass) == Seq(classOf[ArithmeticException]))
  }

  test("truncated manifest / stats.json: the error names the file and the key") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("trunc")
    IndexBuilder.build(spark, spark.createDataset(fixtureRows), dir, IndexConfig(segSize = 2))
    val fs = fsOf(dir)
    val record = new Path(IndexBuilder.statsPath(dir))
    val txt = {
      val in = fs.open(record)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    def write(s: String): Unit = {
      val out = fs.create(record, true)
      out.write(s.getBytes("UTF-8"))
      out.close()
    }
    // segment 1's line (line 3, after the header and segment 0) cut short
    write(txt.take(txt.indexOf("\"digest\"", txt.indexOf("{\"segId\":1,"))))
    val em = intercept[IllegalStateException](IndexBuilder.readManifests(fs, dir))
    assert(em.getMessage.contains("stats.json line 3") && em.getMessage.contains("\"digest\""),
      em.getMessage)
    // the last segment line lost: the header's count names the gap
    write(txt.linesIterator.toSeq.dropRight(1).mkString("\n"))
    val ec = intercept[IllegalStateException](IndexBuilder.readManifests(fs, dir))
    assert(ec.getMessage.contains("stats.json") && ec.getMessage.contains("\"numSegments\""),
      ec.getMessage)
    write(txt.take(txt.indexOf("\"numSegments\"")))
    val es = intercept[IllegalStateException](IndexBuilder.readStats(fs, dir))
    assert(es.getMessage.contains("stats.json") && es.getMessage.contains("\"numSegments\""),
      es.getMessage)
  }
}
