package graft.perfbench

import graft.analysis.Analyzer
import graft.ref.RefModel
import graft.search.{Q, QueryParser, QueryRewrite}

/** Answers computed apart from the engine: `RefModel`, the brute-force
  * scalar oracle, over the benchmark's own copy of the documents. */
object Check {
  val ScoreTol = 1e-6

  private val PrefixPat = """(\w+)\*""".r

  /** the terms a set of queries can touch: their exact terms plus every
    * term under one of their prefixes */
  def touched(texts: Seq[String]): String => Boolean = {
    val exact = texts.flatMap(t => QueryParser.parse(t).terms).toSet
    val prefixes = texts.flatMap(t => PrefixPat.findAllMatchIn(t).map(_.group(1))).distinct
    t => exact(t) || prefixes.exists(p => t.startsWith(p))
  }

  /** Analyzed form of each content string, cut down to the touched terms
    * with the field length kept, so BM25's length norm is exact. */
  final class Analyses(keep: String => Boolean) {
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, Analyzer.Analyzed]()
    def apply(content: String): Analyzer.Analyzed =
      memo.computeIfAbsent(content, { c =>
        val full = Analyzer.analyze(c)
        Analyzer.Analyzed(full.fieldLen, full.terms.filter(t => keep(t._1)))
      })
    /** analyzes the contents on all cores ahead of a sequential consumer */
    def prefill(contents: Seq[String]): Unit = Par.foreach(contents)(apply(_))
  }

  /** A doc that holds none of a query's terms cannot match it unless the
    * query has a match-all part, so only the docs holding one are scored;
    * every other part of the ranking is RefModel's brute force. */
  final class Docs(docs: Seq[(Long, String)], an: Analyses) {
    an.prefill(docs.map(_._2))
    val ref: RefModel = new RefModel(docs, an.apply)
    private val all: Seq[Long] = docs.map(_._1)
    private val byTerm: Map[String, Seq[Long]] =
      docs.flatMap { case (d, c) => an(c).terms.iterator.map(_._1 -> d) }.groupMap(_._1)(_._2)

    private def parsed(text: String): Q = {
      val q0 = QueryParser.parse(text)
      if (q0.hasPrefix) QueryRewrite.expandPrefixes(q0, ref.prefixLookup) else q0
    }
    private def candidates(q: Q): Seq[Long] =
      if (q.hasEvery) all else q.terms.toSeq.flatMap(byTerm.getOrElse(_, Nil)).distinct

    /** exhaustive ranking by (score desc, id asc) over the live docs: the
      * first n, so that ties at the k-th place can be seen */
    def ranking(text: String, live: Long => Boolean, n: Int): Seq[(Long, Double)] = {
      val q = parsed(text)
      candidates(q).iterator.filter(live).flatMap(d => ref.scoreDoc(q, d).map(d -> _)).toSeq
        .sortBy { case (d, s) => (-s, d) }.take(n)
    }

    /** ids of the live docs a query matches */
    def matches(text: String, live: Long => Boolean): Seq[Long] = {
      val q = parsed(text)
      candidates(q).filter(d => live(d) && ref.scoreDoc(q, d).isDefined)
    }
  }

  /** Compares the engine's top-k with the reference ranking (given for more
    * than k places). Rank by rank the scores agree within 1e-6, and the id
    * is the reference's, or one the reference scores the same (a tie the
    * two sides may order differently only through float rounding). */
  def topK(what: String, eng: Seq[(Long, Double)], ref: Seq[(Long, Double)],
           k: Int): Option[String] = {
    val want = math.min(k, ref.size)
    def fail(m: String) = Some(s"$what: $m; engine ${eng.take(k)} reference ${ref.take(k)}")
    if (eng.size != want) return fail(s"${eng.size} hits, expected $want")
    if (eng.map(_._1).distinct.size != eng.size) return fail("duplicate ids")
    val refScore = ref.toMap
    eng.zipWithIndex.collectFirst {
      case ((id, s), i) if math.abs(s - ref(i)._2) > ScoreTol =>
        s"rank $i score $s, reference ${ref(i)._2}"
      case ((id, s), i) if id != ref(i)._1 &&
          !refScore.get(id).exists(r => math.abs(r - s) <= ScoreTol) =>
        s"rank $i id $id, reference ${ref(i)._1}"
    }.flatMap(fail)
  }
}

/** data-parallel helpers for the checks, on the global pool */
object Par {
  import scala.concurrent.{Await, Future}
  import scala.concurrent.ExecutionContext.Implicits.global
  import scala.concurrent.duration.Duration

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val chunks = xs.grouped(math.max(1, (xs.size + 15) / 16)).toSeq
    Await.result(Future.traverse(chunks)(c => Future(c.map(f))), Duration.Inf).flatten
  }
  def foreach[A](xs: Seq[A])(f: A => Unit): Unit = { map(xs)(f); () }
}
