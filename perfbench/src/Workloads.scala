package graft.perfbench

import scala.collection.mutable

import graft.build.{Deletes, IndexBuilder}
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.{CorpusSource, SynthCorpus}
import graft.merge.Merger
import graft.search.Searcher
import graft.streaming.StreamingIngest

/** an appended document with the number of the append batch it belongs to */
final case class BatchRow(repo: String, path: String, commit: String, lang: String,
                          content: String, b: Long)

/** The three workloads. Each is closed loop with one client thread; sizes
  * are fixed here so that two seeds give runs of the same cost. */
object Workloads {
  val Names = Seq("point_query", "batch_scan", "ingest_merge")
  /** every query shape any workload runs one at a time */
  val AllShapes = Seq("term", "and", "or", "phrase", "not", "prefix", "faceted")
  /** set-up builds per run: the first is cold, the second warmer, and
    * setup_s is their median */
  val SetupBuilds = 2

  def run(name: String, r: Run): Unit = name match {
    case "point_query"  => pointQuery(r)
    case "batch_scan"   => batchScan(r)
    case "ingest_merge" => ingestMerge(r)
  }

  /** The stream's top-10 answers against RefModel over the whole corpus,
    * where docIds follow the D1 rule. */
  private def checkQueries(r: Run, corpus: Corpus,
                           results: Seq[(BQuery, QResult)]): Unit = {
    val an = new Check.Analyses(Check.touched(results.map(_._1.text)))
    val docs = corpus.rows.indices.map(i => (corpus.rank(i).toLong, corpus.rows(i).content))
    val ref = new Check.Docs(docs, an)
    val langOf = corpus.rows.indices.map(i => corpus.rank(i).toLong -> corpus.rows(i).lang).toMap
    // RefModel is read-only once built, so queries are ranked in parallel
    val want = Par.map(results.map(_._1.text).distinct)(t => t -> ref.ranking(t, _ => true, 20)).toMap
    results.foreach { case (q, res) =>
      Check.topK(s"${q.shape} '${q.text}'", res.hits, want(q.text), 10).foreach(r.problems += _)
      if (q.shape == "faceted") {
        val counts = ref.matches(q.text, _ => true).groupBy(langOf).map {
          case (l, ds) => l -> ds.size.toLong
        }
        r.check(res.facets == counts, s"facets '${q.text}': ${res.facets}, reference $counts")
      }
    }
  }

  private def noIngestLayers(r: Run): Unit =
    Seq("streaming.append_jobs", "streaming.lexicon_s", "streaming.executor_cpu_s",
      "merge.wall_s", "merge.bytes_rewritten", "merge.segments_in", "merge.segments_out",
      "deletes.add_ms").foreach(r.layers(_) = 0.0)

  private def tracedCopies(r: Run): Unit = {
    Seq("setup_s", "op_cpu_ms", "items_per_cpu_s").foreach(m => r.layers(s"traced.$m") = r.e2e(m))
    r.layers ++= r.wall
  }

  // ---- point_query ----

  val PointDocs = 2400
  val PointSegSize = 150
  val PointShapes = Seq("term", "and", "or", "phrase", "not", "prefix", "faceted")

  /** Single top-10 queries, one at a time, against a fresh colocated index
    * of 16 small segments: per-query driver work (parse, df lookup,
    * planning, one job, one file open per segment) dominates. */
  def pointQuery(r: Run): Unit = {
    val corpus = new Corpus(r.seed, 0, PointDocs)
    val table = r.writeCorpus("corpus", PointDocs)
    val cfg = IndexConfig(segSize = PointSegSize, sortPartitions = r.sc.defaultParallelism)
    var h: Searcher.IndexHandle = null
    var ix = ""
    (0 until SetupBuilds).foreach { k =>
      if (ix.nonEmpty) r.delete(ix)
      ix = s"${r.dir}/ix$k"
      h = r.setupIndex(table, ix, cfg, corpus)
    }
    // warm-up on a different stream, untimed and unchecked
    val warm = new QueryGen(r.seed, 1, corpus)
    PointShapes.foreach(s => r.query(h, warm.query(s, 0)))

    val gen = new QueryGen(r.seed, 2, corpus)
    val results = mutable.ArrayBuffer.empty[(BQuery, QResult, Cost)]
    var i = 0L
    r.timed {
      PointShapes.foreach { s =>
        val q = gen.query(s, i)
        var res: QResult = null
        r.attempt("query") { res = r.query(h, q) }.foreach(c => results += ((q, res, c)))
      }
      i += 1
    }
    val heap = r.liveHeapMb()
    r.endToEnd(results.map(_._3).toSeq, Seq.empty, results.size.toDouble, r.dirBytes(ix),
      corpus.contentBytes, heap)
    checkQueries(r, corpus, results.map(x => (x._1, x._2)).toSeq)
    if (r.trace) {
      r.traceLayers("query", "query", results.map(x => (x._1.shape, x._3.wallNs)).toSeq,
        h.segColocated)
      r.layers ++= Layers.kernelAndCodec(r.spark, h,
        (0 until 8).flatMap(j => PointShapes.map(s => gen.query(s, j).text)))
      r.layers ++= Layers.analysis(corpus.rows)
      noIngestLayers(r)
      tracedCopies(r)
    }
  }

  // ---- batch_scan ----

  val ScanDocs = 6000
  val ScanSegSize = 1500
  val BatchSize = 50
  /** shares: head term 40%, OR 30%, phrase 20%, match-all NOT 10% */
  val BatchShapes = Seq("head", "or", "head", "phrase", "or", "head", "matchall", "or",
    "head", "phrase")

  /** Large `searchMany` batches against a few large segments (one per task
    * slot): executor-side scan, decode and WAND scoring dominate and the
    * per-job cost is shared by the batch. */
  def batchScan(r: Run): Unit = {
    val corpus = new Corpus(r.seed, 0, ScanDocs)
    val table = r.writeCorpus("corpus", ScanDocs)
    val cfg = IndexConfig(segSize = ScanSegSize, sortPartitions = r.sc.defaultParallelism)
    var h: Searcher.IndexHandle = null
    var ix = ""
    (0 until SetupBuilds).foreach { k =>
      if (ix.nonEmpty) r.delete(ix)
      ix = s"${r.dir}/ix$k"
      h = r.setupIndex(table, ix, cfg, corpus)
    }
    def mk(gen: QueryGen, b: Long): Seq[BQuery] =
      (0 until BatchSize).map(j => gen.query(BatchShapes(j % BatchShapes.size), b * BatchSize + j))
    val warm = new QueryGen(r.seed, 1, corpus)
    r.batch(h, mk(warm, 0).zipWithIndex.map { case (q, j) => (s"q$j", q.text) })

    val gen = new QueryGen(r.seed, 2, corpus)
    val results = mutable.ArrayBuffer.empty[(Seq[BQuery], Map[String, Seq[(Long, Double)]], Cost)]
    var b = 0L
    r.timed {
      val qs = mk(gen, b)
      var res: Map[String, Seq[(Long, Double)]] = null
      r.attempt("batch") { res = r.batch(h, qs.zipWithIndex.map { case (q, j) => (s"q$j", q.text) }) }
        .foreach(c => results += ((qs, res, c)))
      b += 1
    }
    val heap = r.liveHeapMb()
    r.endToEnd(results.map(_._3).toSeq, Seq.empty, results.size.toDouble * BatchSize,
      r.dirBytes(ix), corpus.contentBytes, heap)
    // every qid of every batch against the reference
    checkQueries(r, corpus, results.toSeq.flatMap { case (qs, res, _) =>
      qs.zipWithIndex.map { case (q, j) => (q, QResult(res.getOrElse(s"q$j", Seq.empty))) }
    })
    if (r.trace) {
      r.traceLayers("batch", "batch", Seq.empty, h.segColocated)
      r.layers ++= Layers.kernelAndCodec(r.spark, h, mk(gen, 0).map(_.text))
      r.layers ++= Layers.analysis(corpus.rows)
      noIngestLayers(r)
      tracedCopies(r)
    }
  }

  // ---- ingest_merge ----

  val BaseDocs = 2000
  val IngestSegSize = 500
  val AppendDocs = 125
  /** appends per run; the merge that follows them rewrites them into one
    * multi-file segment */
  val Appends = 3
  val DeleteDocs = 10
  val IngestShapes = Seq("term", "and", "or", "not")
  /** queries on the merged layout with the deletes, each shape twice */
  val PostQueries = 8

  /** Warm full builds in set-up, then one round: appends smaller than a
    * segment, each made visible through a reopened handle and queried at
    * once, a MERGE_SMALL, a slice of deletes, and queries on the result
    * through a reopened handle. One round takes longer than the run length
    * the benchmark is run with, so the timed phase is that round. */
  def ingestMerge(r: Run): Unit = {
    import r.spark.implicits._
    val base = new Corpus(r.seed, 0, BaseDocs)
    val table = r.writeCorpus("corpus", BaseDocs)
    // the batches to append, as one table partitioned by batch
    val seedL = r.seed
    r.spark.range(BaseDocs.toLong, BaseDocs.toLong + Appends * AppendDocs, 1L,
        r.sc.defaultParallelism)
      .map { i =>
        val c = SynthCorpus.row(seedL, i)
        BatchRow(c.repo, c.path, c.commit, c.lang, c.content, (i - BaseDocs) / AppendDocs)
      }
      .write.mode("overwrite").partitionBy("b").parquet(s"${r.dir}/appends")
    def batchTable(b: Int) = CorpusSource.read(r.spark, "parquet", s"${r.dir}/appends/b=$b")
    val cfg = IndexConfig(segSize = IngestSegSize, sortPartitions = r.sc.defaultParallelism)

    val ixs = (0 until SetupBuilds).map(k => s"${r.dir}/ix$k")
    var h: Searcher.IndexHandle = null
    ixs.foreach(ix => h = r.setupIndex(table, ix, cfg, base))
    val ix = ixs.last
    ixs.init.foreach(r.delete)
    val gen = new QueryGen(r.seed, 2, base)
    val postQs = (0 until PostQueries).map(j =>
      gen.query(IngestShapes(j % IngestShapes.size), Appends + j))
    // Base docIds follow D1. The deletes take out each post-ingest query's
    // best base doc, so a ranking that kept deleted docs fails its check,
    // and a fixed slice makes them up to DeleteDocs.
    val deleteIds: Seq[Long] = {
      val ref = new Check.Docs(base.rows.indices.map(i => (base.rank(i).toLong, base.rows(i).content)),
        new Check.Analyses(Check.touched(postQs.map(_.text))))
      (postQs.flatMap(q => ref.ranking(q.text, _ => true, 1).map(_._1)) ++
        (0 until DeleteDocs).map(j => (j * 13L) % BaseDocs)).distinct.take(DeleteDocs)
    }

    /** a query and its answer: after `batches` appends, and with or
      * without the deletes applied */
    final case class Asked(batches: Int, deleted: Boolean, q: BQuery, res: QResult, cost: Cost)
    val appends = mutable.ArrayBuffer.empty[Asked]
    val post = mutable.ArrayBuffer.empty[Asked]
    val other = mutable.ArrayBuffer.empty[Cost]
    var segsIn, segsOut = 0
    r.timedOnce {
      (0 until Appends).foreach { b =>
        val q = gen.query(IngestShapes(b % IngestShapes.size), b)
        var res: QResult = null
        r.attempt("append") {
          r.tr.span("streaming.append")(StreamingIngest.append(r.spark, batchTable(b), ix, cfg))
          h = r.tr.span("search.open")(Searcher.open(r.spark, ix))
          res = r.query(h, q)
        }.foreach(c => appends += Asked(b + 1, false, q, res, c))
      }
      segsIn = IndexBuilder.readManifests(r.fs, ix).size
      other ++= r.attempt("merge")(r.tr.span("merge")(Merger.mergeSmall(r.spark, ix)))
      segsOut = IndexBuilder.readManifests(r.fs, ix).size
      other ++= r.attempt("delete")(r.tr.span("deletes.add")(Deletes.add(r.spark, ix, deleteIds)))
      other ++= r.attempt("reopen") { h = r.tr.span("search.open")(Searcher.open(r.spark, ix)) }
      postQs.foreach { q =>
        var res: QResult = null
        r.attempt("query") { res = r.query(h, q) }.foreach { c =>
          post += Asked(Appends, true, q, res, c)
          other += c
        }
      }
    }
    val heap = r.liveHeapMb()
    val appended = new Corpus(r.seed, BaseDocs, Appends * AppendDocs)
    // the merge, deletes, reopen and queries on the result count as ingest
    // work toward the docs per second
    r.endToEnd(appends.map(_.cost).toSeq, other.toSeq, appends.size.toDouble * AppendDocs,
      r.dirBytes(ix), base.contentBytes + appended.contentBytes, heap)

    // ---- checks: stats, then every query against RefModel over the docs
    // ingested before it, deleted ids excluded from the ranking but kept in
    // N and df
    r.checkStats(h, base.size + appended.size, base.fieldLen + appended.fieldLen, "ingest")
    val keyOf = (row: graft.model.CorpusRow) => (row.repo, row.path, row.commit)
    // reference ids order docs as the engine's docIds do: base rank, then
    // each append batch in turn, ranked within the batch
    val refDocs: IndexedSeq[(Long, (String, String, String), String)] =
      base.rows.indices.map(i => (base.rank(i).toLong, keyOf(base.rows(i)), base.rows(i).content)) ++
        (0 until Appends).flatMap { b =>
          val batch = new Corpus(r.seed, BaseDocs + b.toLong * AppendDocs, AppendDocs)
          batch.rows.indices.map(i =>
            ((b + 1) * 10000000L + batch.rank(i), keyOf(batch.rows(i)), batch.rows(i).content))
        }
    val refOfKey = refDocs.map(d => d._2 -> d._1).toMap
    val engKey: Map[Long, (String, String, String)] =
      r.spark.read.parquet(IndexBuilder.docstatsDir(ix))
        .select("docId", "repo", "path", "commit").as[(Long, String, String, String)]
        .collect().map { case (d, a, p, c) => d -> (a, p, c) }.toMap
    val baseKeyByRank = base.rows.indices.map(i => base.rank(i).toLong -> keyOf(base.rows(i))).toMap
    deleteIds.foreach { id =>
      r.check(engKey.get(id) == baseKeyByRank.get(id), s"deleted docId $id is not base rank $id")
    }
    val dead = deleteIds.toSet
    val asked = appends ++ post
    val an = new Check.Analyses(Check.touched(asked.map(_.q.text).toSeq))
    asked.groupBy(_.batches).foreach { case (nb, ops) =>
      val ref = new Check.Docs(refDocs.take(BaseDocs + nb * AppendDocs).map(d => (d._1, d._3)), an)
      ops.foreach { op =>
        val want = ref.ranking(op.q.text, d => !(op.deleted && dead(d)), 20)
        val got = op.res.hits.map { case (d, s) =>
          (engKey.get(d).flatMap(refOfKey.get).getOrElse(-1L - d), s)
        }
        val when = if (op.deleted) "after merge and deletes" else s"after $nb appends"
        Check.topK(s"$when: ${op.q.shape} '${op.q.text}'", got, want, 10).foreach(r.problems += _)
      }
    }

    if (r.trace) {
      // the search layer as the queries on the merged layout saw it
      r.traceLayers("append", "query", post.map(a => (a.q.shape, a.cost.wallNs)).toSeq,
        h.segColocated)
      val jl = r.log.get
      val appendOps = r.timedOps("append")
      val aj = jl.ofOps(appendOps).filter(_.span == "streaming.append")
      val n = math.max(1, appendOps.size).toDouble
      r.layers("streaming.append_jobs") = aj.size / n
      r.layers("streaming.lexicon_s") =
        JobLog.unionMs(aj.filter(j => JobLog.buildPhase(jl.text(j)) == "lexicon")) / 1e3 / n
      r.layers("streaming.executor_cpu_s") = aj.map(_.cpuNs).sum / 1e9 / n
      val mergeOps = r.timedOps("merge")
      r.layers("merge.wall_s") =
        r.tr.spans.filter(s => s.name == "merge" && mergeOps(s.op)).map(_.ns).sum / 1e9
      r.layers("merge.bytes_rewritten") =
        jl.ofOps(mergeOps).filter(_.span == "merge").map(_.outputBytes).sum.toDouble
      r.layers("merge.segments_in") = segsIn.toDouble
      r.layers("merge.segments_out") = segsOut.toDouble
      val deleteOps = r.timedOps("delete")
      r.layers("deletes.add_ms") = r.tr.spans
        .filter(s => s.name == "deletes.add" && deleteOps(s.op)).map(_.ns).sum / 1e6
      r.layers ++= Layers.kernelAndCodec(r.spark, h, asked.map(_.q.text).toSeq)
      r.layers ++= Layers.analysis(base.rows)
      tracedCopies(r)
    }
  }
}
