package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder.IndexConfig
import graft.build.MultiFieldIndex
import graft.build.MultiFieldIndex.FieldSpec
import graft.model.CorpusRow
import graft.ref.RefModel
import graft.search._
import graft.streaming.StreamingIngest

/** Multi-field schema, field-qualified queries, boosts, and upsert
  * (reference surface: [R] cockatrice/schema.py multi-field schemas,
  * Whoosh `field:term` / `term^2` parser forms, put_document upsert). */
class MultiFieldSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val rows: Seq[CorpusRow] = (0 until 120).map { i =>
    CorpusRow(f"r${i % 5}", f"dir${i % 7}/f$i%04d.txt", f"$i%040x", "text",
      graft.corpus.SynthCorpus.doc(23L, i.toLong))
  }
  private def stamped(rs: Seq[CorpusRow]): Seq[(Long, CorpusRow)] =
    rs.sortBy(r => (r.repo, r.path, r.commit)).zipWithIndex.map { case (r, i) => (i.toLong, r) }

  /** multi-field oracle: one RefModel per field; a query node scores
    * against its own field's model (same pinned formulas) */
  private class MultiRef(fields: Map[String, (RefModel, Double)], n: Int) {
    private def fold(q: Q): Q = q match {
      case t: QTerm   => t.copy(boost = t.boost * fields.get(t.field).map(_._2).getOrElse(1.0))
      case p: QPhrase => p.copy(boost = p.boost * fields.get(p.field).map(_._2).getOrElse(1.0))
      case QAnd(cs)   => QAnd(cs.map(fold))
      case QOr(cs)    => QOr(cs.map(fold))
      case QNot(p, x) => QNot(fold(p), fold(x))
      case other      => other
    }
    private def score(q: Q, d: Long): Option[Double] = q match {
      case t: QTerm =>
        fields.get(t.field).flatMap { case (rm, _) => rm.scoreDoc(t.copy(field = rm.field), d) }
      case p: QPhrase =>
        fields.get(p.field).flatMap { case (rm, _) => rm.scoreDoc(p.copy(field = rm.field), d) }
      case QAnd(cs) =>
        val ss = cs.map(score(_, d))
        if (ss.forall(_.isDefined)) Some(ss.map(_.get).sum) else None
      case QOr(cs) =>
        val ss = cs.flatMap(score(_, d))
        if (ss.isEmpty) None else Some(ss.sum)
      case QNot(p, x) => if (score(x, d).isDefined) None else score(p, d)
      case _          => None
    }
    def search(qs: String, k: Int): Seq[(Long, Double)] = {
      val q1 = fold(QueryParser.parse(qs))
      val q = if (q1.hasPrefix) QueryRewrite.expandPrefixes(q1,
          mq => fields.get(mq.field).map(_._1.prefixLookup(mq)).getOrElse(Seq.empty))
        else q1
      (0L until n.toLong).flatMap(d => score(q, d).map(s => (d, s)))
        .sortBy { case (d, s) => (-s, d) }.take(k)
    }
  }

  private def assertMatches(hits: Seq[Searcher.SearchHit], oracle: Seq[(Long, Double)],
                            ctx: String): Unit = {
    assert(hits.map(_.docId) == oracle.map(_._1), s"[$ctx] engine=$hits oracle=$oracle")
    hits.zip(oracle).foreach { case (h, (_, s)) =>
      assert(math.abs(h.score - s) <= 1e-6, s"[$ctx] ${h.score} vs $s")
    }
  }

  test("two-field index: field-qualified queries rank-identical to per-field oracle") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("mf")
    val fields = Seq(FieldSpec("content", _.content), FieldSpec("path", _.path))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)

    val st = stamped(rows)
    val oracle = new MultiRef(Map(
      "content" -> (new RefModel(st.map { case (i, r) => (i, r.content) }), 1.0),
      "path" -> (new RefModel(st.map { case (i, r) => (i, r.path) }), 1.0)), rows.size)

    val queries = Seq(
      "w0000",                              // default field
      "path:dir3",                          // field-qualified term
      "w0001 OR path:dir3",                 // cross-field OR
      "w0000 AND path:dir2",                // cross-field AND
      "path:dir4^3 OR w0002",               // field + boost
      "w0003^2 OR w0001",                   // boosted default-field term
      "path:dir1 NOT w0000",                // NOT across fields
      "path:f00*",                          // fielded prefix expansion
      "nosuchfield:w0000 OR w0004")         // unknown field scores nothing
    queries.foreach { qs =>
      val hits = MultiFieldSearcher.search(spark, mh, qs, 10).collect().toSeq
      assertMatches(hits, oracle.search(qs, 10), qs)
    }
  }

  test("multifield parse: unqualified leaves hit every field (OR and DisMax)") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("mfp")
    def head8(r: CorpusRow): String = r.content.split(" ").take(8).mkString(" ")
    val fields = Seq(FieldSpec("content", _.content), FieldSpec("head", head8))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)

    val st = stamped(rows)
    val rmC = new RefModel(st.map { case (i, r) => (i, r.content) })
    val rmH = new RefModel(st.map { case (i, r) => (i, head8(r)) })

    def leaf(t: String, d: Long, tb: Option[Double]): Option[Double] = {
      val ss = Seq(rmC.scoreDoc(QTerm(t), d), rmH.scoreDoc(QTerm(t), d)).flatten
      if (ss.isEmpty) None
      else Some(tb match {
        case None    => ss.sum
        case Some(x) => ss.max + x * (ss.sum - ss.max)
      })
    }
    for (tb <- Seq(None, Some(0.0), Some(0.4))) {
      val hits = MultiFieldSearcher.searchMultifield(spark, mh,
        "w0000 AND w0001", 10, dismax = tb).collect().toSeq
      val want = (0L until rows.size.toLong).flatMap { d =>
        (leaf("w0000", d, tb), leaf("w0001", d, tb)) match {
          case (Some(a), Some(b)) => Some((d, a + b))
          case _                  => None
        }
      }.sortBy { case (d, s) => (-s, d) }.take(10)
      assert(hits.map(_.docId) == want.map(_._1), s"dismax=$tb")
      hits.zip(want).foreach { case (h, (_, s)) =>
        assert(math.abs(h.score - s) <= 1e-6, s"dismax=$tb")
      }
    }
    // explicitly qualified nodes survive the rewrite untouched
    MultiFieldSearcher.parseMultifield("head:w0000 OR w0001", mh) match {
      case QOr(List(t: QTerm, QOr(expanded))) =>
        assert(t.field == "head")
        assert(expanded.collect { case q: QTerm => q.field } == List("content", "head"))
      case other => fail(s"unexpected shape: $other")
    }
    // a span tree replicates WHOLE per field (its leaves must share a
    // field — one positional check per field), and its engine results
    // match the per-field composed oracle
    MultiFieldSearcher.parseMultifield("w0000 NEAR/4 w0001", mh) match {
      case QOr(List(a: QSpanNear, b: QSpanNear)) =>
        assert(a.cs.collect { case t: QTerm => t.field }.distinct == List("content"))
        assert(b.cs.collect { case t: QTerm => t.field }.distinct == List("head"))
      case other => fail(s"unexpected span rewrite: $other")
    }
    val spanHits = MultiFieldSearcher.searchMultifield(spark, mh,
      "w0000 NEAR/4 w0001", 10).collect().toSeq
    def spanLeaf(rm: RefModel, d: Long): Option[Double] =
      rm.scoreDoc(QSpanNear(List(QTerm("w0000"), QTerm("w0001")), 4,
        ordered = false), d)
    val spanWant = (0L until rows.size.toLong).flatMap { d =>
      val ss = Seq(spanLeaf(rmC, d), spanLeaf(rmH, d)).flatten
      if (ss.isEmpty) None else Some((d, ss.sum))
    }.sortBy { case (d, s) => (-s, d) }.take(10)
    assert(spanHits.map(_.docId) == spanWant.map(_._1))
    assert(spanHits.nonEmpty)
  }

  test("schema-time field boost multiplies into query-node boosts") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("mfb")
    val fields = Seq(FieldSpec("content", _.content), FieldSpec("path", _.path, boost = 2.5))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)
    val st = stamped(rows)
    val oracle = new MultiRef(Map(
      "content" -> (new RefModel(st.map { case (i, r) => (i, r.content) }), 1.0),
      "path" -> (new RefModel(st.map { case (i, r) => (i, r.path) }), 2.5)), rows.size)
    Seq("path:dir3 OR w0001", "path:dir2^2 OR w0000").foreach { qs =>
      val hits = MultiFieldSearcher.search(spark, mh, qs, 10).collect().toSeq
      assertMatches(hits, oracle.search(qs, 10), qs)
    }
    // a SpanFirst child keeps its field's boost: an unbounded limit equals
    // the bare term, hits and scores
    val bare = MultiFieldSearcher.searchQ(spark, mh, QTerm("dir3", "path"), 10)
      .collect().toSeq
    assert(bare.nonEmpty)
    assert(MultiFieldSearcher.searchQ(spark, mh,
      QSpanFirst(QTerm("dir3", "path"), Int.MaxValue), 10).collect().toSeq == bare)
  }

  test("single-field boosts: engine == RefModel (parser ^, phrase boost)") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("boost")
    graft.build.IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 40))
    val handle = Searcher.open(spark, dir)
    val ref = new RefModel(stamped(rows).map { case (i, r) => (i, r.content) })
    Seq("w0000^2 OR w0001", "w0002^0.5 AND w0003", "\"needle alpha\"^2 OR w0004",
      "w000*^2 OR w0005").foreach { qs =>
      val hits = Searcher.search(spark, handle, qs, 10).collect().toSeq
      val oracle = ref.search(qs, 10)
      assertMatches(hits, oracle, qs)
    }
  }

  test("multi-field search survives per-field compaction (aligned fresh segIds)") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("mfc")
    val fields = Seq(FieldSpec("content", _.content), FieldSpec("path", _.path))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 30))
    fields.foreach(f => graft.merge.Merger.compact(spark,
      MultiFieldIndex.fieldDir(root, f.name), groupSize = 2))
    val mh = MultiFieldSearcher.open(spark, root, fields)
    val st = stamped(rows)
    val oracle = new MultiRef(Map(
      "content" -> (new RefModel(st.map { case (i, r) => (i, r.content) }), 1.0),
      "path" -> (new RefModel(st.map { case (i, r) => (i, r.path) }), 1.0)), rows.size)
    Seq("w0000 OR path:dir3", "w0001 AND path:dir2").foreach { qs =>
      val hits = MultiFieldSearcher.search(spark, mh, qs, 10).collect().toSeq
      assertMatches(hits, oracle.search(qs, 10), qs)
    }
  }

  test("per-field analyzer: stemmed content field + raw path field") {
    import spark.implicits._
    import graft.analysis._
    val root = SparkTestBase.tmpDir("mfa")
    val stemSpec = AnalyzerSpec(StandardTok, List(LowerF, StopF(2), PorterStemF))
    val fields = Seq(
      FieldSpec("content", r => r.content + " motoring", analyzer = stemSpec),
      FieldSpec("path", _.path))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)
    assert(mh.handles("content").chain.spec == stemSpec)
    // query side stems through the content field's chain: "motors" matches
    // the planted "motoring" in every doc
    assert(MultiFieldSearcher.search(spark, mh, "motors", 200).count() == rows.size)
    // the path field keeps the standard chain
    assert(MultiFieldSearcher.search(spark, mh, "path:dir3", 50).count() > 0)
  }

  test("upsert by unique key: delete-then-add, searches see only the new text") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("upsert")
    graft.build.IndexBuilder.build(spark, spark.createDataset(rows), dir,
      IndexConfig(segSize = 40))
    // re-put two docs with changed content (a marker term zzmarker)
    val victims = stamped(rows).take(2)
    val newRows = victims.map { case (_, r) => r.copy(content = r.content + " zzmarker") }
    StreamingIngest.upsert(spark, spark.createDataset(newRows), dir, IndexConfig(segSize = 40))

    val handle = Searcher.open(spark, dir)
    // the marker finds exactly the re-put docs, at their NEW (appended) ids
    val newIds = Searcher.search(spark, handle, "zzmarker", 10).collect().map(_.docId).toSet
    assert(newIds.size == 2 && newIds.forall(_ >= 120), s"got $newIds")
    // the old versions are tombstoned: no query returns the old docIds
    val oldIds = victims.map(_._1).toSet
    val hot = Searcher.search(spark, handle, "w0000", 200).collect().map(_.docId).toSet
    assert(hot.intersect(oldIds).isEmpty, s"tombstoned ids resurfaced: ${hot & oldIds}")
    // stored-field fetch hides the old versions too
    assert(Searcher.getDocuments(spark, handle, oldIds.toSeq).count() == 0)
    // re-upserting the same keys again replaces the replacement
    val newer = newRows.map(r => r.copy(content = r.content + " yymarker"))
    StreamingIngest.upsert(spark, spark.createDataset(newer), dir, IndexConfig(segSize = 40))
    val h2 = Searcher.open(spark, dir)
    val zz = Searcher.search(spark, h2, "zzmarker NOT yymarker", 10).collect()
    assert(zz.isEmpty, s"stale upsert generation visible: ${zz.toSeq}")
    assert(Searcher.search(spark, h2, "yymarker", 10).collect().length == 2)
  }

  test("typed fields: numeric/datetime/boolean ranges and terms == brute force") {
    import spark.implicits._
    import graft.build.{BooleanType, DatetimeType, NumericType}
    def idOf(r: CorpusRow): Long = java.lang.Long.parseLong(r.commit.takeRight(8), 16)
    val root = SparkTestBase.tmpDir("typed")
    val fields = Seq(
      FieldSpec("content", _.content),
      FieldSpec("size", r => r.content.length.toString, ftype = NumericType),
      FieldSpec("mtime", r => java.time.LocalDate.of(2020, 1, 1)
        .plusDays(idOf(r) % 50).toString, ftype = DatetimeType),
      FieldSpec("flag", r => if (idOf(r) % 3 == 0) "true" else "false",
        ftype = BooleanType))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)

    val st = stamped(rows)
    val n = st.size
    def idf(df: Int): Double = math.log(n.toDouble / (df + 1.0)) + 1.0
    // every typed field has exactly one token per doc: fl = avgfl = 1, so
    // the BM25 contribution reduces to idf of the doc's value group
    val sizes = st.map { case (d, r) => d -> r.content.length }
    val sizeCnt = sizes.groupBy(_._2).view.mapValues(_.size).toMap
    val days = st.map { case (d, r) => d -> (idOf(r) % 50) }
    val dayCnt = days.groupBy(_._2).view.mapValues(_.size).toMap
    val flags = st.map { case (d, r) => d -> (idOf(r) % 3 == 0) }
    val trueCnt = flags.count(_._2)

    def expect(scored: Seq[(Long, Double)], k: Int = 10): Seq[(Long, Double)] =
      scored.sortBy { case (d, s) => (-s, d) }.take(k)

    assertMatches(
      MultiFieldSearcher.search(spark, mh, "size:[140 TO 200]", 10).collect().toSeq,
      expect(sizes.collect { case (d, l) if l >= 140 && l <= 200 =>
        (d, idf(sizeCnt(l))) }), "numrange")

    // day window 4..9 (Jan 5 .. Jan 10)
    assertMatches(
      MultiFieldSearcher.search(spark, mh,
        "mtime:[2020-01-05 TO 2020-01-10]", 10).collect().toSeq,
      expect(days.collect { case (d, day) if day >= 4 && day <= 9 =>
        (d, idf(dayCnt(day))) }), "daterange")

    // datetime bounds with a time component, lowercased separator
    assertMatches(
      MultiFieldSearcher.search(spark, mh,
        "mtime:[2020-01-05t00:00 TO 2020-01-05t23:59]", 10).collect().toSeq,
      expect(days.collect { case (d, day) if day == 4 =>
        (d, idf(dayCnt(day))) }), "daterange-time")

    assertMatches(
      MultiFieldSearcher.search(spark, mh, "flag:true", n).collect().toSeq.take(10),
      expect(flags.collect { case (d, true) => (d, idf(trueCnt)) }), "bool")

    // conjunction across typed fields: scores add
    assertMatches(
      MultiFieldSearcher.search(spark, mh,
        "flag:true AND size:[140 TO 200]", 10).collect().toSeq,
      expect(st.collect { case (d, r)
        if idOf(r) % 3 == 0 && r.content.length >= 140 && r.content.length <= 200 =>
          (d, idf(trueCnt) + idf(sizeCnt(r.content.length))) }), "bool+numrange")

    // a typed term wrapped in ConstantScore is encoded like the bare term
    // and matches the same docs
    def ids(q: Q): Set[Long] =
      MultiFieldSearcher.searchQ(spark, mh, q, n).collect().map(_.docId).toSet
    val commonSize = sizeCnt.maxBy { case (l, c) => (c, -l) }._1.toString
    Seq(QTerm("true", "flag"), QTerm(commonSize, "size")).foreach { t =>
      val bare = ids(t)
      assert(bare.nonEmpty, s"$t matched nothing - weak test")
      assert(ids(QConstantScore(t)) == bare, s"ConstantScore($t)")
    }

    // unencodable values match nothing (and kill an AND)
    assert(MultiFieldSearcher.search(spark, mh, "size:notanumber", 10)
      .collect().isEmpty)
    assert(MultiFieldSearcher.search(spark, mh,
      "flag:true AND size:[abc TO xyz]", 10).collect().isEmpty)
  }

  test("field-scoped Every: field:* matches exactly the docs with a value") {
    import spark.implicits._
    def idOf(r: CorpusRow): Long = java.lang.Long.parseLong(r.commit.takeRight(8), 16)
    val root = SparkTestBase.tmpDir("fev")
    val fields = Seq(
      FieldSpec("content", _.content),
      FieldSpec("tag", r => if (idOf(r) % 4 == 0) "marked special" else ""))
    MultiFieldIndex.build(spark, spark.createDataset(rows), root, fields,
      IndexConfig(segSize = 40))
    val mh = MultiFieldSearcher.open(spark, root, fields)
    val st = stamped(rows)
    val tagged = st.collect { case (d, r) if idOf(r) % 4 == 0 => d }.toSet

    val all = MultiFieldSearcher.search(spark, mh, "*", st.size + 5).collect()
    assert(all.length == st.size && all.forall(_.score == 1.0))

    val fe = MultiFieldSearcher.search(spark, mh, "tag:*", st.size + 5).collect()
    assert(fe.map(_.docId).toSet == tagged, s"got ${fe.map(_.docId).toSet}")
    assert(fe.forall(_.score == 1.0))

    // composes: filter by field presence, score by the content term
    val combo = MultiFieldSearcher.search(spark, mh,
      "w0000 REQUIRE tag:*", st.size + 5).collect()
    assert(combo.nonEmpty && combo.map(_.docId).toSet.subsetOf(tagged))

    // unknown field's Every matches nothing
    assert(MultiFieldSearcher.search(spark, mh, "nope:*", 10).collect().isEmpty)
  }

  test("schema-from-config: config-built index == code-built (digests + query)") {
    import spark.implicits._
    val cfgJson =
      """[{"name": "content", "source": "content"},
        |  {"name": "dirs", "source": "path", "analyzer": "path", "boost": 2.0},
        |  {"name": "size", "source": "content_length", "type": "numeric"}]"""
        .stripMargin
    val cfgFields = graft.build.SchemaConfig.fromJson(cfgJson)
    val codeFields = Seq(
      FieldSpec("content", _.content),
      FieldSpec("dirs", _.path, 2.0,
        graft.analysis.AnalyzerSpec(graft.analysis.PathTok, Nil)),
      FieldSpec("size", r => r.content.length.toString,
        ftype = graft.build.NumericType))
    assert(cfgFields.map(f => (f.name, f.boost, f.ftype, f.effectiveAnalyzer)) ==
      codeFields.map(f => (f.name, f.boost, f.ftype, f.effectiveAnalyzer)))

    val rootA = SparkTestBase.tmpDir("cfgA")
    val rootB = SparkTestBase.tmpDir("cfgB")
    MultiFieldIndex.build(spark, spark.createDataset(rows), rootA, cfgFields,
      IndexConfig(segSize = 40))
    MultiFieldIndex.build(spark, spark.createDataset(rows), rootB, codeFields,
      IndexConfig(segSize = 40))
    def digests(root: String): Map[String, Seq[(Int, String)]] =
      cfgFields.map { f =>
        val d = MultiFieldIndex.fieldDir(root, f.name)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
        f.name -> graft.build.IndexBuilder.readManifests(fs, d)
          .map(m => (m.segId, m.digest))
      }.toMap
    assert(digests(rootA) == digests(rootB))

    // the config-built index answers path-tokenized and numeric queries
    val mh = MultiFieldSearcher.open(spark, rootA, cfgFields)
    val p = rows.head.path
    assert(MultiFieldSearcher.search(spark, mh, s"dirs:$p", 10).collect().nonEmpty)
    assert(MultiFieldSearcher.search(spark, mh, "size:[1 TO 999999]", 10)
      .collect().nonEmpty)

    // malformed configs fail fast
    intercept[Exception](graft.build.SchemaConfig.fromJson("""[{"source":"path"}]"""))
    intercept[Exception](graft.build.SchemaConfig.fromJson(
      """[{"name":"x","source":"nope"}]"""))
    intercept[Exception](graft.build.SchemaConfig.fromJson(
      """[{"name":"x","type":"complex"}]"""))
  }

  /** a one-field schema whose field is `content`, over the fixture docs
    * plus the synthetic rows, and the single-field handle of that field */
  private lazy val oneField: (MultiFieldSearcher.MultiHandle, Searcher.IndexHandle) = {
    import spark.implicits._
    val fixture = TestFixtures.fixture5.map { case (i, c) =>
      CorpusRow("fx", f"fx$i.txt", f"$i%040x", "text", c)
    }
    val root = SparkTestBase.tmpDir("mf1")
    val fields = Seq(FieldSpec("content", _.content))
    MultiFieldIndex.build(spark, spark.createDataset(fixture ++ rows), root, fields,
      IndexConfig(segSize = 40))
    (MultiFieldSearcher.open(spark, root, fields),
      Searcher.open(spark, MultiFieldIndex.fieldDir(root, "content")))
  }

  test("one query core: a one-field schema == the single-field searcher") {
    val (mh, h) = oneField
    val queries = TestFixtures.querySet.map(_._2) ++
      Seq("*", "NOT w0004", "w0000 NEAR/5 w0001")
    val nonEmpty = queries.count { qs =>
      val multi = MultiFieldSearcher.search(spark, mh, qs, 10).collect().toSeq
      val single = Searcher.search(spark, h, qs, 10).collect().toSeq
      assert(multi == single, s"'$qs': multi-field $multi != single-field $single")
      single.nonEmpty
    }
    assert(nonEmpty >= queries.size - 2, "most queries must match something")
  }

  test("multi-field Otherwise resolves like the single-field path") {
    import graft.search.{QTerm => T}
    val (mh, h) = oneField
    val cases = Seq(
      QOtherwise(T("w0000"), T("w0001")) -> T("w0000"),         // a matches -> a
      QOtherwise(T("zzznope"), T("w0001")) -> T("w0001"),       // a empty -> b
      QOtherwise(T("w0000", "nosuchfield"), T("w0002")) -> T("w0002"),
      QOtherwise(T("zzznope"), QOtherwise(T("zzznope2"), T("w0003"))) -> T("w0003"))
    // the same field under a schema boost: both branches carry the boost
    val boosted = new MultiFieldSearcher.MultiHandle(mh.root,
      Seq(FieldSpec("content", _.content, boost = 2.0)), mh.handles)
    cases.foreach { case (ow, taken) =>
      val multi = MultiFieldSearcher.searchQ(spark, mh, ow, 10).collect().toSeq
      assert(multi.nonEmpty, s"$ow matched nothing")
      assert(multi == Searcher.searchQ(spark, h, ow, 10).collect().toSeq, s"$ow")
      assert(multi == MultiFieldSearcher.searchQ(spark, mh, taken, 10).collect().toSeq, s"$ow")
      val b = MultiFieldSearcher.searchQ(spark, boosted, ow, 10).collect().toSeq
      assert(b == MultiFieldSearcher.searchQ(spark, boosted, taken, 10).collect().toSeq, s"$ow")
      assert(b.map(_.docId) == multi.map(_.docId) && b.head.score > multi.head.score, s"$ow")
    }
  }
}
