package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

import graft.build.IndexBuilder
import graft.build.IndexBuilder.IndexConfig
import graft.corpus.CorpusSource
import graft.search.Searcher

/** What one query returned: top-k hits and, for a faceted query, the
  * facet counts. */
final case class QResult(hits: Seq[(Long, Double)], facets: Map[String, Long] = Map.empty)

/** What one operation cost: wall time, and the CPU time of the JVM's
  * threads other than the JIT's (driver, executor tasks, GC, Spark's own,
  * and helper threads that ended during the operation).
  * The scheduler does not charge a thread for time the hypervisor steals,
  * so the CPU figure moves less than wall time under a noisy neighbour. */
final case class Cost(wallNs: Long, cpuNs: Long)

/** JVM-wide counters read at the edges of the timed phase. */
final case class JvmCounters(gcMs: Long, jitMs: Long, cpuNs: Long)
object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = new java.io.File("/proc/self/task")

  /** tid -> whether the thread is a JIT compiler thread */
  private val compilerTid = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** CPU time of the JIT compiler threads, in ns, from their schedstat */
  private def jitNs(): Long = {
    val ids = tasks.list()
    if (ids == null) return 0L
    var sum = 0L
    ids.foreach { t =>
      try {
        val jit = compilerTid.computeIfAbsent(t,
          _ => java.lang.Boolean.valueOf(read(s"/proc/self/task/$t/comm").contains("CompilerThre")))
        if (jit) {
          val s = read(s"/proc/self/task/$t/schedstat")
          sum += s.substring(0, s.indexOf(' ')).toLong
        }
      } catch { case _: java.io.IOException => () }
    }
    sum
  }

  /** CPU time of this process in ns, less its JIT compiler threads'. The
    * process figure counts every thread, ended ones too: graft and Spark
    * start helper threads that end inside one operation. It comes from
    * times(2) and moves in 10 ms steps. The compiler threads are left out
    * because their work is warm-up that varies from run to run; the JVM
    * runs with a fixed set of them, so none ends and takes its time out of
    * the part subtracted. */
  def cpuNs(): Long = os.getProcessCpuTime - jitNs()
  def now(): JvmCounters = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    JvmCounters(gc, jit, cpuNs())
  }
}

/** State and helpers shared by the workloads: the timed-operation loop,
  * set-up builds, the query runner, correctness bookkeeping and the metric
  * maps the report is made from. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val dir: String, val trace: Boolean) {
  val sc = spark.sparkContext
  val log: Option[JobLog] =
    if (trace) { val l = new JobLog; sc.addSparkListener(l); Some(l) } else None
  val tr = new Tracer(trace, sc)
  val fs: FileSystem = FileSystem.get(new java.net.URI(dir), sc.hadoopConfiguration)

  var attempted = 0L
  var failed = 0L
  /** failed correctness checks, one line each */
  val problems = mutable.ArrayBuffer.empty[String]
  val setups = mutable.ArrayBuffer.empty[Cost]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var jvmStart: JvmCounters = _
  var jvmEnd: JvmCounters = _
  var timedNs = 0L
  /** the timed operations' costs, in order, for the context line */
  var opCosts: Seq[Cost] = Seq.empty
  /** first operation id of the timed phase */
  var timedFrom = 0

  def timedOps(kind: String): Set[Int] = tr.opsOf(kind).filter(_ >= timedFrom).toSet

  /** JVM uptime in seconds at the end of each phase, for the context line */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    phases(phase) = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def check(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg

  def measure(kind: String)(f: => Unit): Cost = {
    val c0 = JvmCounters.cpuNs()
    val wall = tr.op(kind)(f)
    Cost(wall, JvmCounters.cpuNs() - c0)
  }

  /** One timed operation. An exception counts it as failed; it is not
    * retried. Returns its cost when it succeeded. */
  def attempt(kind: String)(f: => Unit): Option[Cost] = {
    attempted += 1
    try Some(measure(kind)(f))
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        None
    }
  }

  /** The timed phase: whole rounds until `seconds` have passed, so every
    * run attempts the same operations in the same proportions. */
  def timed(round: => Unit): Unit = timedOnce {
    val end = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < end) round
  }

  /** A timed phase that runs its body once, whatever `seconds` is. */
  def timedOnce(body: => Unit): Unit = {
    mark("warm-up")
    timedFrom = tr.nextOp
    jvmStart = JvmCounters.now()
    val t0 = System.nanoTime()
    body
    timedNs = System.nanoTime() - t0
    jvmEnd = JvmCounters.now()
    mark("timed")
  }

  /** heap in use after a full GC, taken while the workload's handles are
    * still reachable */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def delete(path: String): Unit = { fs.delete(new Path(path), true); () }

  /** materializes the synthetic corpus rows [0, n) as a parquet table, the
    * shape the production build reads */
  def writeCorpus(name: String, n: Int): String = {
    val p = s"$dir/$name"
    CorpusSource.synth(spark, n.toLong, seed, sc.defaultParallelism)
      .write.mode("overwrite").parquet(p)
    mark("corpus")
    p
  }

  /** One set-up: a full build of the corpus table and an open of the
    * result. Its numDocs and totalFieldLen are checked against the corpus
    * as the benchmark counts it. */
  def setupIndex(corpusPath: String, ix: String, cfg: IndexConfig,
                 corpus: Corpus): Searcher.IndexHandle = {
    delete(ix)
    var h: Searcher.IndexHandle = null
    setups += measure("setup") {
      tr.span("build")(IndexBuilder.build(spark,
        CorpusSource.read(spark, "parquet", corpusPath), ix, cfg))
      h = tr.span("search.open")(Searcher.open(spark, ix))
    }
    checkStats(h, corpus.size, corpus.fieldLen, "build")
    mark("setup")
    h
  }

  def checkStats(h: Searcher.IndexHandle, rows: Long, fieldLen: Long, what: String): Unit = {
    check(h.stats.numDocs == rows, s"$what: numDocs ${h.stats.numDocs}, corpus has $rows rows")
    check(h.stats.totalFieldLen == fieldLen,
      s"$what: totalFieldLen ${h.stats.totalFieldLen}, analyzer counts $fieldLen")
  }

  /** one top-10 query through the public search API */
  def query(h: Searcher.IndexHandle, q: BQuery): QResult =
    if (q.shape == "faceted") {
      val f = tr.span("search.construct")(
        Searcher.searchFaceted(spark, h, q.text, "lang", Seq.empty, 10))
      try {
        val facets = tr.span("search.exec")(f.facets.collect())
        val hits = tr.span("search.exec")(f.hits.collect())
        QResult(hits.map(r => (r.getLong(0), r.getDouble(1))).toSeq,
          facets.map(r => r.getString(0) -> r.getLong(1)).toMap)
      } finally f.close()
    } else {
      val ds = tr.span("search.construct")(Searcher.search(spark, h, q.text, 10))
      tr.span("search.plan")(ds.queryExecution.executedPlan)
      QResult(tr.span("search.exec")(ds.collect()).map(x => (x.docId, x.score)).toSeq)
    }

  /** a batch of top-10 queries in one `searchMany` call, grouped by qid */
  def batch(h: Searcher.IndexHandle, qs: Seq[(String, String)]): Map[String, Seq[(Long, Double)]] = {
    val df = tr.span("search.construct")(Searcher.searchMany(spark, h, qs, 10))
    tr.span("search.plan")(df.queryExecution.executedPlan)
    val rows: Array[Row] = tr.span("search.exec")(df.collect())
    rows.groupBy(_.getString(0)).map { case (qid, rs) =>
      qid -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq.sortBy { case (d, s) => (-s, d) }
    }
  }

  // ---- report ----

  private def median(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))

  /** The end-to-end figures every workload reports. `extra` is work that
    * counts toward throughput but is not an operation of its own (the
    * ingest round's merge and deletes). The same figures in wall time go
    * to the context line, and to the per-layer set when traced. */
  def endToEnd(ops: Seq[Cost], extra: Seq[Cost], items: Double, indexBytes: Long,
               contentBytes: Long, heapMb: Double): Unit = {
    opCosts = ops
    val all = ops ++ extra
    e2e("setup_s") = median(setups.map(_.cpuNs).toSeq) / 1e9
    e2e("op_cpu_ms") = median(ops.map(_.cpuNs)) / 1e6
    e2e("items_per_cpu_s") = items / (all.map(_.cpuNs).sum / 1e9)
    e2e("index_bytes_ratio") = indexBytes.toDouble / contentBytes
    e2e("live_heap_mb") = heapMb
    wall("wall.setup_s") = median(setups.map(_.wallNs).toSeq) / 1e9
    wall("wall.op_p50_ms") = median(ops.map(_.wallNs)) / 1e6
    wall("wall.items_per_s") = items / (all.map(_.wallNs).sum / 1e9)
  }
  val wall = mutable.LinkedHashMap.empty[String, Double]

  /** per-layer figures from the spans and the job log, trace mode only */
  def traceLayers(mainKind: String, searchKind: String, shapes: Seq[(String, Long)],
                  colocated: Boolean): Unit = {
    val jl = log.get
    jl.drain(sc)
    val searchSpans = Set("search.construct", "search.plan", "search.exec")
    // a failed operation leaves no result; its spans are still counted
    val searchOps = timedOps(searchKind)
    val nSearch = math.max(1, searchOps.size).toDouble
    def spanMs(name: String): Double = {
      val perOp = tr.spans.filter(s => s.name == name && searchOps(s.op))
        .groupMapReduce(_.op)(_.ns)(_ + _)
      Stats.median(searchOps.toSeq.map(o => perOp.getOrElse(o, 0L).toDouble)) / 1e6
    }
    val opens = tr.spans.filter(_.name == "search.open").map(_.ns.toDouble).toSeq
    layers("search.open_ms") = Stats.median(opens) / 1e6
    layers("search.construct_ms") = spanMs("search.construct")
    layers("search.plan_ms") = spanMs("search.plan")
    layers("search.exec_ms") = spanMs("search.exec")
    val sj = jl.ofOps(searchOps).filter(j => searchSpans(j.span))
    layers("search.jobs_per_query") = sj.size / nSearch
    layers("search.tasks_per_query") = sj.map(_.tasks).sum / nSearch
    layers("search.input_bytes_per_query") = sj.map(_.inputBytes).sum / nSearch
    layers("search.shuffle_bytes_per_query") = sj.map(_.shuffleReadBytes).sum / nSearch
    layers("search.executor_cpu_ms_per_query") = sj.map(_.cpuNs).sum / 1e6 / nSearch
    layers("search.colocated") = if (colocated) 1.0 else 0.0
    Workloads.AllShapes.foreach { s =>
      val ns = shapes.collect { case (sh, n) if sh == s => n.toDouble }
      layers(s"shape.${s}_ms") = Stats.median(ns) / 1e6
    }

    // the warmest (last) set-up build
    val lastSetup = tr.opsOf("setup").max
    val buildSpan = tr.spans.find(s => s.op == lastSetup && s.name == "build").get
    val bj = jl.ofOps(Set(lastSetup)).filter(_.span == "build")
    val byPhase = bj.groupBy(j => JobLog.buildPhase(jl.text(j)))
    Seq("stamp", "analyze", "postings", "docstats", "metrics", "lexicon").foreach { p =>
      layers(s"build.${p}_s") = JobLog.unionMs(byPhase.getOrElse(p, Seq.empty)) / 1e3
    }
    layers("build.other_s") = JobLog.unionMs(byPhase.getOrElse("other", Seq.empty)) / 1e3
    layers("build.driver_s") = buildSpan.ns / 1e9 - JobLog.unionMs(bj) / 1e3
    layers("build.jobs") = bj.size.toDouble
    layers("build.tasks") = bj.map(_.tasks).sum.toDouble
    layers("build.executor_cpu_s") = bj.map(_.cpuNs).sum / 1e9
    layers("build.gc_s") = bj.map(_.gcMs).sum / 1e3
    layers("build.shuffle_write_bytes") = bj.map(_.shuffleWriteBytes).sum.toDouble
    layers("build.bytes_written") = bj.map(_.outputBytes).sum.toDouble

    // the share of operation wall time no layer span covers; with the
    // spans nested, the self times add up to each operation's wall time
    tr.nestingFaults.foreach(f => problems += s"trace: $f")
    val self = tr.selfNs(mainKind)
    val opWall = tr.spans.filter(s => s.parent < 0 && tr.opKind(s.op) == mainKind).map(_.ns).sum
    layers("trace.driver_gap_share") = self.getOrElse("driver gap", 0L).toDouble / math.max(1L, opWall)

    layers("jvm.gc_ms") = (jvmEnd.gcMs - jvmStart.gcMs).toDouble
    layers("jvm.jit_ms") = (jvmEnd.jitMs - jvmStart.jitMs).toDouble
    layers("jvm.process_cpu_s") = (jvmEnd.cpuNs - jvmStart.cpuNs) / 1e9
  }
}
