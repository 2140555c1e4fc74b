package graft.search

import graft.codec.PostingsCodec
import PostingsCodec.TermCursor

/** Partition-local top-k kernel (SURVEY.md §2.6 Q7, §2.7): evaluates the
  * query tree over ONE segment's posting lists and returns that segment's
  * top-k, to be merged across segments by the driver. Runs inside the
  * per-segment runner's `mapPartitions` on executors (Searcher.perSegment).
  *
  * Pruning (all score-equivalent to exhaustive evaluation — property-tested):
  *  - OR root: WAND pivoting on static per-child maxScore, refined by
  *    block-max upper bounds before full evaluation (block-max WAND);
  *  - term root: whole-block skipping when the block's max-tf bound can't
  *    beat the running threshold;
  *  - AND/phrase: leapfrog intersection with header-only block skipping.
  *
  * Tie rule D4 everywhere: (score desc, docId asc). A candidate is pruned
  * only when its upper bound is STRICTLY below the current k-th score —
  * an equal-score doc could still win on docId.
  */
object Kernel {

  /** one term's segment-local list + global stats */
  final case class TermList(bytes: Array[Byte], maxTf: Int, globalDf: Long)

  /** posting-list map key: multi-field indexes key lists by (field, term);
    * '\u0000' never occurs in analyzed terms (\w and '.') or field names */
  def key(field: String, term: String): String = field + "\u0000" + term

  /** Kernel key of a stored posting row of `field`. A real term keys as
    * (field, term). The persisted match-all pseudo rows (D14) key as the
    * lists QEvery looks up: the all-docs row as ("", EveryTerm), the list
    * of a bare `*`; the field's non-empty row as (field, EveryTerm), the
    * list of `field:*`. */
  def rowKey(field: String, term: String): String =
    if (term == Q.EveryTerm) key("", Q.EveryTerm)
    else if (term == Q.EveryNonEmptyTerm) key(field, Q.EveryTerm)
    else key(field, term)

  final case class Hit(docId: Long, score: Double)

  /** Fold one posting row into a kernel list map, k-way-merging duplicate
    * rows of the same key. Every writer (build, append, both merge shapes)
    * emits exactly one row per (segment, term), the D14 match-all pseudo
    * lists included, and keys carry the field, so a committed segment
    * yields one row per key; the merge keeps the fold total for rows a
    * caller assembles itself. */
  def mergeList(m: scala.collection.mutable.HashMap[String, TermList],
                key: String, tl: TermList): Unit =
    m.get(key) match {
      case None => m.put(key, tl); ()
      case Some(prev) =>
        val e = PostingsCodec.merge(Seq(prev.bytes, tl.bytes))
        m.put(key, TermList(e.bytes, e.maxTf, math.max(prev.globalDf, tl.globalDf)))
        ()
    }

  /** bounded heap keeping the k best by (score desc, docId asc) */
  final class TopK(k: Int) {
    // worst element on top: smaller score first; tie -> LARGER docId first
    private val ord: Ordering[Hit] = (a: Hit, b: Hit) =>
      if (a.score != b.score) java.lang.Double.compare(b.score, a.score)
      else java.lang.Long.compare(a.docId, b.docId)
    private val pq = scala.collection.mutable.PriorityQueue.empty[Hit](ord)

    def size: Int = pq.size
    def threshold: Double = if (pq.size < k) Double.NegativeInfinity else pq.head.score
    def offer(docId: Long, score: Double): Unit = {
      if (pq.size < k) pq.enqueue(Hit(docId, score))
      else {
        val w = pq.head
        if (score > w.score || (score == w.score && docId < w.docId)) {
          pq.dequeue(); pq.enqueue(Hit(docId, score))
        }
      }
    }
    def result: Array[Hit] =
      pq.toArray.sortBy(h => (-h.score, h.docId))
  }

  /** Build the matcher tree for one segment. Lists are keyed by
    * `key(field, term)`; terms absent from the segment become EmptyMatcher;
    * AND/phrase with an absent term match nothing. `statsOf` supplies the
    * field's corpus stats (N is index-wide; df and avg field length are
    * per-field). Query/field boosts fold into the idf factor: pinned form
    * effIdf = idf(df, N) * boost, replicated by RefModel. */
  def buildMatcher(q: Q, lists: Map[String, TermList],
                   statsOf: String => BM25.CorpusStats,
                   w: Weighting = BM25Weighting): Matcher = q match {
    case QEmpty => EmptyMatcher
    case _: QPureNot => EmptyMatcher // parser-internal; never escapes parse
    case mq: QMulti => // expansion is GLOBAL (driver-side, lexicon order)
      throw new IllegalStateException(s"unexpanded multiterm query: $mq")
    case QEvery(boost, f) =>
      lists.get(key(f, Q.EveryTerm)) match {
        case Some(tl) => new EveryMatcher(new TermCursor(tl.bytes), boost)
        case None     => EmptyMatcher
      }
    case QTerm(t, f, boost) =>
      lists.get(key(f, t)) match {
        case Some(tl) =>
          val st = statsOf(f)
          new TermMatcher(tl.bytes, w.idf(tl.globalDf, st.numDocs) * boost,
            tl.maxTf, st.avgFieldLen, w)
        case None => EmptyMatcher
      }
    case QPhrase(ts, f, boost, slop) =>
      val st = statsOf(f)
      val tls = ts.map { case (t, off) => (lists.get(key(f, t)), off) }
      if (tls.exists(_._1.isEmpty)) EmptyMatcher
      else {
        val cursors = tls.map { case (tl, off) => (new TermCursor(tl.get.bytes), off) }.toArray
        val sumIdf = ts.map { case (t, _) =>
          w.idf(lists(key(f, t)).globalDf, st.numDocs)
        }.sum * boost
        val maxTfBound = tls.map(_._1.get.maxTf).min
        if (slop <= 1)
          new PhraseMatcher(cursors, sumIdf, maxTfBound, st.avgFieldLen, w)
        else
          new SloppyPhraseMatcher(cursors.map(_._1), slop, sumIdf, maxTfBound,
            st.avgFieldLen, w)
      }
    case QAnd(cs) =>
      val ms = cs.map(buildMatcher(_, lists, statsOf, w))
      if (ms.exists(_ eq EmptyMatcher)) EmptyMatcher else new AndMatcher(ms.toArray)
    case QOr(cs) =>
      val ms = cs.map(buildMatcher(_, lists, statsOf, w)).filterNot(_ eq EmptyMatcher)
      ms match {
        case Nil      => EmptyMatcher
        case m :: Nil => m
        case _        => new OrMatcher(ms.toArray)
      }
    case QDisMax(cs, tb) =>
      val ms = cs.map(buildMatcher(_, lists, statsOf, w)).filterNot(_ eq EmptyMatcher)
      ms match {
        case Nil      => EmptyMatcher
        case m :: Nil => m
        case _        => new DisMaxMatcher(ms.toArray, tb)
      }
    case QNot(p, n) =>
      val pm = buildMatcher(p, lists, statsOf, w)
      val nm = buildMatcher(n, lists, statsOf, w)
      if (pm eq EmptyMatcher) EmptyMatcher
      else if (nm eq EmptyMatcher) pm
      else new NotMatcher(pm, nm)
    case QAndMaybe(p, m) =>
      val pm = buildMatcher(p, lists, statsOf, w)
      val mm = buildMatcher(m, lists, statsOf, w)
      if (pm eq EmptyMatcher) EmptyMatcher
      else if (mm eq EmptyMatcher) pm
      else new AndMaybeMatcher(pm, mm)
    case QRequire(p, f) =>
      val pm = buildMatcher(p, lists, statsOf, w)
      val fm = buildMatcher(f, lists, statsOf, w)
      if ((pm eq EmptyMatcher) || (fm eq EmptyMatcher)) EmptyMatcher
      else new RequireMatcher(pm, fm)
    case sq @ (_: QSpanNear | _: QSpanOr | _: QSpanNot | _: QSpanBi | _: QSpanFirst) =>
      buildSpanNode(sq, lists, statsOf, w)
        .map(new SpanScorer(_): Matcher).getOrElse(EmptyMatcher)
    case QConstantScore(c, sc) =>
      buildMatcher(c, lists, statsOf, w) match {
        case EmptyMatcher => EmptyMatcher
        case cm           => new ConstantScoreMatcher(cm, sc)
      }
    case oq: QOtherwise => // resolved driver-side (Searcher.resolveOtherwise)
      throw new IllegalStateException(s"unresolved Otherwise query: $oq")
  }

  /** span tree construction (D15): a Near with any unmatchable child is
    * unmatchable; an Or drops unmatchable children; a Not with an
    * unmatchable excl is just its incl. Children are restricted to terms
    * and span nodes (Q.spanify enforces this at parse/rewrite). */
  private def buildSpanNode(q: Q, lists: Map[String, TermList],
                            statsOf: String => BM25.CorpusStats,
                            w: Weighting): Option[SpanNode] = q match {
    case QTerm(t, f, boost) =>
      lists.get(key(f, t)).map { tl =>
        val st = statsOf(f)
        new SpanTermNode(tl.bytes, w.idf(tl.globalDf, st.numDocs) * boost,
          tl.maxTf, st.avgFieldLen, w)
      }
    case QSpanNear(cs, slop, ord) =>
      val ns = cs.map(buildSpanNode(_, lists, statsOf, w))
      if (ns.isEmpty || ns.exists(_.isEmpty)) None
      else Some(new SpanNearNode(ns.map(_.get).toArray, slop, ord))
    case QSpanOr(cs) =>
      cs.flatMap(buildSpanNode(_, lists, statsOf, w)) match {
        case Nil      => None
        case n :: Nil => Some(n)
        case ns       => Some(new SpanOrNode(ns.toArray))
      }
    case QSpanNot(i, e) =>
      buildSpanNode(i, lists, statsOf, w).map { in =>
        buildSpanNode(e, lists, statsOf, w) match {
          case None     => in
          case Some(en) => new SpanNotNode(in, en)
        }
      }
    case QSpanBi(a, b, mode) => // both sides REQUIRED (intersection)
      for {
        an <- buildSpanNode(a, lists, statsOf, w)
        bn <- buildSpanNode(b, lists, statsOf, w)
      } yield new SpanBiNode(an, bn, mode)
    case QSpanFirst(c, limit) =>
      buildSpanNode(c, lists, statsOf, w).map(new SpanFirstNode(_, limit))
    case _ => None
  }

  /** Single-field segment top-k (lists keyed by plain term, one stats):
    * the pinned-core surface; re-keys every row as a row of the default
    * field and delegates to the multi-field kernel. */
  def topK(q: Q, lists: Map[String, TermList], stats: BM25.CorpusStats,
           k: Int, prune: Boolean = true,
           deleted: Long => Boolean = NoDeletes,
           w: Weighting = BM25Weighting): Array[Hit] =
    topKMulti(q, lists.map { case (t, tl) => rowKey(Q.DefaultField, t) -> tl },
      _ => stats, k, prune, deleted, w)

  /** Segment top-k over field-keyed lists. `prune = false` forces
    * exhaustive evaluation (the WAND-equivalence property-test path).
    * `deleted` hides tombstoned docs at query time (S6) — they are purged
    * physically only at merge. */
  def topKMulti(q: Q, lists: Map[String, TermList],
                statsOf: String => BM25.CorpusStats,
                k: Int, prune: Boolean = true,
                deleted: Long => Boolean = NoDeletes,
                w: Weighting = BM25Weighting): Array[Hit] = {
    val heap = new TopK(k)
    q match {
      case QOr(cs) if prune =>
        val ms = cs.map(buildMatcher(_, lists, statsOf, w)).filterNot(_ eq EmptyMatcher)
        if (ms.nonEmpty) wandOr(ms.toArray, heap, deleted)
      case QTerm(_, _, _) if prune =>
        buildMatcher(q, lists, statsOf, w) match {
          case tm: TermMatcher => singleTerm(tm, heap, deleted)
          case _               => ()
        }
      case _ if prune =>
        // saturation early-exit: docs stream in ascending docId, so once
        // the heap holds k hits and its k-th score >= the tree's GLOBAL
        // upper bound, no later doc can beat it (a tie loses on docId,
        // D4). For constant-score roots (Every / pure NOT, maxScore =
        // boost) this terminates after the first k live matches instead
        // of scanning the segment's whole doc list.
        val m = buildMatcher(q, lists, statsOf, w)
        val cap = m.maxScore
        var done = false
        while (!done && m.docId != Long.MaxValue) {
          if (!deleted(m.docId)) heap.offer(m.docId, m.score)
          if (heap.size >= k && heap.threshold >= cap) done = true
          else m.advance()
        }
      case _ =>
        val m = buildMatcher(q, lists, statsOf, w)
        while (m.docId != Long.MaxValue) {
          if (!deleted(m.docId)) heap.offer(m.docId, m.score)
          m.advance()
        }
    }
    heap.result
  }

  val NoDeletes: Long => Boolean = _ => false

  /** EVERY matching docId in the segment (the delete-by-query feed):
    * exhaustive matcher traversal, no heap, tombstoned docs excluded.
    * Lists are field-keyed like topKMulti. */
  def allMatches(q: Q, lists: Map[String, TermList],
                 statsOf: String => BM25.CorpusStats,
                 deleted: Long => Boolean = NoDeletes): Iterator[Long] = {
    val m = buildMatcher(q, lists, statsOf)
    new Iterator[Long] {
      private var cur = settle(m.docId)
      private def settle(d0: Long): Long = {
        var d = d0
        while (d != Long.MaxValue && deleted(d)) { m.advance(); d = m.docId }
        d
      }
      def hasNext: Boolean = cur != Long.MaxValue
      def next(): Long = {
        val d = cur
        m.advance()
        cur = settle(m.docId)
        d
      }
    }
  }

  /** every match WITH its score (the collapse/grouping feed — no top-k
    * heap; same matcher tree as allMatches, scored at each doc) */
  def allScored(q: Q, lists: Map[String, TermList],
                statsOf: String => BM25.CorpusStats,
                deleted: Long => Boolean = NoDeletes,
                w: Weighting = BM25Weighting): Iterator[Hit] = {
    val m = buildMatcher(q, lists, statsOf, w)
    new Iterator[Hit] {
      private def settle(): Unit =
        while (m.docId != Long.MaxValue && deleted(m.docId)) m.advance()
      settle()
      def hasNext: Boolean = m.docId != Long.MaxValue
      def next(): Hit = {
        val h = Hit(m.docId, m.score)
        m.advance()
        settle()
        h
      }
    }
  }

  /** single-list traversal with block-max skipping */
  private def singleTerm(tm: TermMatcher, heap: TopK, deleted: Long => Boolean): Unit = {
    while (tm.docId != Long.MaxValue) {
      if (tm.currentUpperBound < heap.threshold) tm.skipCurrentBlock()
      else {
        if (!deleted(tm.docId)) heap.offer(tm.docId, tm.score)
        tm.advance()
      }
    }
  }

  /** WAND over the children of an OR root. Children are summed in tree
    * order at evaluation (FP-order identical to RefModel). */
  private def wandOr(children: Array[Matcher], heap: TopK,
                     deleted: Long => Boolean): Unit = {
    val n = children.length
    val order = children.indices.toArray // re-sorted by head docId each round
    var done = false
    while (!done) {
      scala.util.Sorting.stableSort[Int](order,
        (a: Int, b: Int) => children(a).docId < children(b).docId)
      if (children(order(0)).docId == Long.MaxValue) done = true
      else {
        // pivot: first prefix whose maxScore sum could reach the threshold
        val theta = heap.threshold
        var acc = 0.0
        var pivotIdx = -1
        var i = 0
        while (pivotIdx < 0 && i < n) {
          acc += children(order(i)).maxScore
          if (acc >= theta) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) done = true // no list combination can reach theta
        else {
          val pivot = children(order(pivotIdx)).docId
          if (pivot == Long.MaxValue) done = true
          else if (children(order(0)).docId == pivot) {
            // every head is at >= pivot; the ones AT pivot form the match.
            // block-max refinement before full scoring:
            var ub = 0.0
            var j = 0
            while (j < n) {
              if (children(j).docId == pivot) ub += children(j).currentUpperBound
              j += 1
            }
            if (ub >= theta && !deleted(pivot)) {
              var s = 0.0
              var m = 0
              while (m < n) { // tree order for FP determinism
                if (children(m).docId == pivot) s += children(m).score
                m += 1
              }
              heap.offer(pivot, s)
            }
            var a = 0
            while (a < n) {
              if (children(a).docId == pivot) children(a).advance()
              a += 1
            }
          } else {
            // advance the laggard up to the pivot
            children(order(0)).skipTo(pivot)
          }
        }
      }
    }
  }
}
