package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One recorded span: a call into one layer, made from the benchmark.
  * `op` is the operation (one query, batch, build or append) it belongs to;
  * `parent` is the enclosing span, -1 for the operation's own span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Span recorder around the benchmark's calls into the program. When off,
  * `op` only times its body and `span` is the bare body; nothing is kept.
  * Spans stay in memory until the run ends. One client thread, so the open
  * spans form a stack. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** operation id -> kind */
  val opKind = mutable.HashMap.empty[Int, String]
  private var nextId = 0
  def nextOp: Int = nextId
  private var stack: List[Int] = Nil
  private var curOp = -1

  /** Runs one top-level operation and returns its wall time in ns. In
    * trace mode the Spark jobs it starts carry its id as a local property,
    * which the JobLog reads back. */
  def op(kind: String)(f: => Unit): Long = {
    if (!on) {
      val t0 = System.nanoTime(); f; System.nanoTime() - t0
    } else {
      val id = nextId; nextId += 1
      opKind(id) = kind
      curOp = id
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      sc.setLocalProperty(Tracer.SpanProperty, kind)
      stack = id :: Nil
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, kind, -1, id, t0, t1)
        sc.setLocalProperty(Tracer.OpProperty, null)
        sc.setLocalProperty(Tracer.SpanProperty, null)
        stack = Nil
        curOp = -1
      }
      spans.last.ns
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!on || curOp < 0) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val outer = sc.getLocalProperty(Tracer.SpanProperty)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, curOp, t0, System.nanoTime())
        sc.setLocalProperty(Tracer.SpanProperty, outer)
        stack = stack.tail
      }
    }

  /** self time per span name, over the operations of one kind: a span's
    * duration minus the part its children cover. The operation span's self
    * time is the "driver gap": benchmark-side time between layer calls. */
  def selfNs(kind: String): Map[String, Long] = {
    val ofKind = spans.filter(s => opKind.get(s.op).contains(kind))
    val childNs = ofKind.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ns)(_ + _)
    ofKind.groupMapReduce(s => if (s.parent < 0) "driver gap" else s.name)(
      s => s.ns - childNs.getOrElse(s.id, 0L))(_ + _)
  }

  /** Faults in the span tree: a span that does not lie inside its parent,
    * or two spans of one parent that overlap. Without them every self time
    * is at least 0 and the self times of an operation add up to its wall. */
  def nestingFaults: Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val outside = spans.filter(_.parent >= 0).flatMap { c =>
      val p = byId(c.parent)
      if (c.startNs < p.startNs || c.endNs > p.endNs)
        Some(s"span ${c.name} of op ${c.op} lies outside its parent ${p.name}")
      else None
    }
    val overlap = spans.filter(_.parent >= 0).groupBy(_.parent).values.flatMap { sib =>
      sib.sortBy(_.startNs).sliding(2).collect {
        case Seq(a: Span, b: Span) if b.startNs < a.endNs =>
          s"spans ${a.name} and ${b.name} of op ${a.op} overlap"
      }
    }
    (outside ++ overlap).toSeq
  }

  /** ids of the operations of one kind */
  def opsOf(kind: String): Seq[Int] = opKind.collect { case (i, k) if k == kind => i }.toSeq
}

object Tracer {
  val OpProperty = "perfbench.op"
  /** the innermost open span when a job started */
  val SpanProperty = "perfbench.span"
}

/** What the Spark scheduler did for each job, keyed back to the
  * benchmark's operation by the job's local property. Registered only in
  * trace mode. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val op: Int, val span: String, val execId: Long,
                  val stageText: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  /** SQL execution id -> its call site with stack (AQE sub-jobs carry no
    * program frames of their own; their execution does) */
  val execText = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execText.put(s.executionId, s.description + "\n" + s.details); ()
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = js.properties
    def prop(k: String): Option[String] = Option(p).flatMap(x => Option(x.getProperty(k)))
    val j = new Job(js.jobId, prop(Tracer.OpProperty).map(_.toInt).getOrElse(-1),
      prop(Tracer.SpanProperty).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      js.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"), js.time)
    jobs.put(js.jobId, j)
    js.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(te.stageId)).foreach { j =>
      val m = te.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** waits (outside any timed phase) until every started job has ended on
    * the listener bus, so the counts read afterwards are complete */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def pending: Boolean = {
      import scala.jdk.CollectionConverters._
      sc.statusTracker.getActiveJobIds().nonEmpty ||
        jobs.values().asScala.exists(_.endMs < 0)
    }
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last stage trail its job end
  }

  def ofOps(ops: Set[Int]): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.filter(j => ops(j.op)).toSeq.sortBy(_.id)
  }

  /** the call-site text a job is attributed by: its SQL execution's when
    * it has one, else its stages' */
  def text(j: Job): String =
    Option(execText.get(j.execId)).map(_ + "\n" + j.stageText).getOrElse(j.stageText)
}

object JobLog {
  /** wall time covered by the union of the jobs' [start, end] intervals */
  def unionMs(jobs: Seq[JobLog#Job]): Long = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Build phase of a job, from the program frames in its call site. The
    * docstats write and the manifest docAgg run on helper threads, so their
    * stacks pass through a FutureTask; the postings write does not. */
  def buildPhase(text: String): String = {
    def has(s: String) = text.contains(s)
    val firstLine = text.linesIterator.find(_.nonEmpty).getOrElse("")
    if (has("stampDocIds")) "stamp"
    else if (has("postingMetrics") || (has("buildBatch") && has("FutureTask") &&
      firstLine.startsWith("collect"))) "metrics"
    else if (has("writeLexicon") || has("updateLexicon") || has("foldLexiconDeltas")) "lexicon"
    else if (has("buildBatch") && firstLine.startsWith("count")) "analyze"
    else if (has("buildBatch") && has("FutureTask")) "docstats"
    else if (has("buildBatch")) "postings"
    else "other"
  }
}
