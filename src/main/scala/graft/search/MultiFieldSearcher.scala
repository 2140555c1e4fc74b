package graft.search

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.build.MultiFieldIndex
import graft.build.MultiFieldIndex.FieldSpec

/** Search over a multi-field index (field-qualified queries — `path:term`,
  * `title:"a phrase"` — with per-field BM25 stats and schema/query boosts).
  *
  * Schema concerns only: open-time layout checks, schema boosts, typed-value
  * encoding and the multifield parse. The query itself runs on Searcher's
  * one query core with this schema's field handles (per field, one pruned
  * lexicon lookup + one pruned segment scan; docId ranges align across
  * fields by construction, so one kernel per segment evaluates the whole
  * tree with field-keyed lists).
  */
object MultiFieldSearcher {

  import Searcher.{IndexHandle, SearchHit}

  final class MultiHandle(val root: String, val fields: Seq[FieldSpec],
                          val handles: Map[String, IndexHandle]) {
    /** the schema's first field is the default for unqualified terms (the
      * reference's QueryParser(default_field, schema) takes it from the
      * schema, not a hardcoded name) */
    val defaultField: String = fields.head.name
    def defaultHandle: IndexHandle = handles(defaultField)
    val boostOf: Map[String, Double] = fields.map(f => f.name -> f.boost).toMap
    val typeOf: Map[String, graft.build.FieldType] =
      fields.map(f => f.name -> f.ftype).toMap
  }

  def open(spark: SparkSession, root: String, fields: Seq[FieldSpec]): MultiHandle = {
    val handles = fields.map(f =>
      f.name -> Searcher.open(spark, MultiFieldIndex.fieldDir(root, f.name))).toMap
    // segment grouping relies on aligned segId ranges across field indexes:
    // same segSize, IDENTICAL live segment layout (compacting one field but
    // not another would split per-segment lists — wrong AND/OR results), and
    // any compaction applied identically per field
    require(handles.values.map(_.segSize).toSet.size == 1,
      "field indexes disagree on segSize")
    val segSets = handles.view.mapValues(_.liveSegIds.toSet).toMap
    require(segSets.values.toSet.size == 1,
      s"field indexes disagree on live segment layout " +
        s"(compact all fields together): ${segSets.view.mapValues(_.toSeq.sorted).toMap}")
    new MultiHandle(root, fields, handles)
  }

  /** fold schema-time field boosts into the query nodes' boosts (pinned
    * multiplication order: node.boost * fieldBoost) */
  private def applyFieldBoosts(q: Q, boostOf: Map[String, Double]): Q = {
    def bf(f: String): Double = boostOf.getOrElse(f, 1.0)
    q match {
      case t: QTerm     => t.copy(boost = t.boost * bf(t.field))
      case p: QPhrase   => p.copy(boost = p.boost * bf(p.field))
      case m: QPrefix   => m.copy(boost = m.boost * bf(m.field))
      case m: QWildcard => m.copy(boost = m.boost * bf(m.field))
      case m: QFuzzy      => m.copy(boost = m.boost * bf(m.field))
      case m: QRange      => m.copy(boost = m.boost * bf(m.field))
      case m: QVariations => m.copy(boost = m.boost * bf(m.field))
      case other          => other.mapChildren(applyFieldBoosts(_, boostOf))
    }
  }

  /** Encode query values on TYPED fields (numeric/datetime/boolean): terms
    * and range bounds become the field's sortable encoding — after which a
    * typed `field:[lo TO hi]` is an ordinary lexicon range scan (encoded
    * term order == value order). An unencodable value matches nothing
    * (QEmpty is absorbing inside AND, dropped inside OR — kernel semantics). */
  private def encodeTyped(q: Q, typeOf: Map[String, graft.build.FieldType]): Q = {
    def isTyped(f: String) =
      typeOf.get(f).exists(_ != graft.build.TextType)
    def enc(f: String, v: String): Option[String] =
      graft.build.FieldTypes.encodeValue(typeOf(f), v)
    def rec(q: Q): Q = q match {
      case t: QTerm if isTyped(t.field) =>
        enc(t.field, t.term).map(e => t.copy(term = e)).getOrElse(QEmpty)
      case r: QRange if isTyped(r.field) =>
        // null bound = unbounded side, passes through unencoded
        def encB(v: String): Option[String] =
          if (v == null) Some(null) else enc(r.field, v)
        (encB(r.lo), encB(r.hi)) match {
          case (Some(lo), Some(hi)) => r.copy(lo = lo, hi = hi)
          case _                    => QEmpty
        }
      case other => other.mapChildren(rec)
    }
    rec(q)
  }

  def search(spark: SparkSession, mh: MultiHandle, query: String, k: Int = 10,
             prune: Boolean = true,
             weighting: Weighting = BM25Weighting): Dataset[SearchHit] =
    searchQ(spark, mh,
      QueryParser.parse(query, defaultField = mh.defaultField,
        chainOf = f => mh.handles.get(f).map(_.chain).getOrElse(graft.analysis.Chain.Standard)),
      k, prune, weighting)

  /** reserved default-field marker for the multifield parse: no schema
    * field can carry this name, so explicitly qualified nodes survive the
    * rewrite untouched */
  private val MultiSentinel = "\u0000multi"

  /** The reference's MultifieldParser/DisMaxParser analog ([W]
    * whoosh/qparser/default.py): UNQUALIFIED leaves search every field in
    * `fields`, combined per leaf by OR (`dismax = None` — MultifieldParser)
    * or DisjunctionMax with the given tiebreak (DisMaxParser). Explicit
    * `field:term` nodes are untouched; schema field boosts then apply to
    * each per-field copy as usual. Unqualified leaves analyze ONCE with the
    * default field's chain and the resulting terms are copied verbatim per
    * field — pass `fields` that share that chain (explicitly qualified
    * nodes always analyze with their own field's chain). */
  def parseMultifield(query: String, mh: MultiHandle,
                      fields: Seq[String] = Seq.empty,
                      dismax: Option[Double] = None): Q = {
    val fs = if (fields.nonEmpty) fields else mh.fields.map(_.name)
    val q0 = QueryParser.parse(query, defaultField = MultiSentinel,
      chainOf = f => mh.handles.get(f).map(_.chain)
        .getOrElse(mh.defaultHandle.chain))
    def combine(cs: List[Q]): Q = cs match {
      case c :: Nil => c
      case _        => dismax.map(QDisMax(cs, _)).getOrElse(QOr(cs))
    }
    // span nodes are positional: their leaves must share one field, so an
    // unqualified span tree replicates WHOLE per field (one positional
    // check per field) rather than per leaf
    def assignField(q: Q, f: String): Q = q match {
      case t: QTerm if t.field == MultiSentinel     => t.copy(field = f)
      case m: QPrefix if m.field == MultiSentinel   => m.copy(field = f)
      case m: QWildcard if m.field == MultiSentinel => m.copy(field = f)
      case m: QFuzzy if m.field == MultiSentinel    => m.copy(field = f)
      case m: QRange if m.field == MultiSentinel    => m.copy(field = f)
      case m: QVariations if m.field == MultiSentinel => m.copy(field = f)
      case QSpanNear(cs, s, o) => QSpanNear(cs.map(assignField(_, f)), s, o)
      case QSpanOr(cs)         => QSpanOr(cs.map(assignField(_, f)))
      case QSpanNot(i, e)      => QSpanNot(assignField(i, f), assignField(e, f))
      case QSpanBi(a, b, m)    => QSpanBi(assignField(a, f), assignField(b, f), m)
      case other               => other
    }
    def hasSentinel(q: Q): Boolean = q.fieldTerms.exists(_._1 == MultiSentinel) ||
      (q match {
        case m: QMulti => m.field == MultiSentinel
        case QSpanNear(cs, _, _) => cs.exists(hasSentinel)
        case QSpanOr(cs)         => cs.exists(hasSentinel)
        case QSpanNot(i, e)      => hasSentinel(i) || hasSentinel(e)
        case QSpanBi(a, b, _)    => hasSentinel(a) || hasSentinel(b)
        case _ => false
      })
    def rec(q: Q): Q = q match {
      case s @ (_: QSpanNear | _: QSpanOr | _: QSpanNot | _: QSpanBi) =>
        if (hasSentinel(s)) combine(fs.map(f => assignField(s, f)).toList) else s
      case t: QTerm if t.field == MultiSentinel =>
        combine(fs.map(f => t.copy(field = f)).toList)
      case p: QPhrase if p.field == MultiSentinel =>
        combine(fs.map(f => p.copy(field = f)).toList)
      case m: QPrefix if m.field == MultiSentinel =>
        combine(fs.map(f => m.copy(field = f)).toList)
      case m: QWildcard if m.field == MultiSentinel =>
        combine(fs.map(f => m.copy(field = f)).toList)
      case m: QFuzzy if m.field == MultiSentinel =>
        combine(fs.map(f => m.copy(field = f)).toList)
      case m: QRange if m.field == MultiSentinel =>
        combine(fs.map(f => m.copy(field = f)).toList)
      case QAnd(cs)        => QAnd(cs.map(rec))
      case QOr(cs)         => QOr(cs.map(rec))
      case QDisMax(cs, tb) => QDisMax(cs.map(rec), tb)
      case QNot(p, n)      => QNot(rec(p), rec(n))
      case QAndMaybe(p, m) => QAndMaybe(rec(p), rec(m))
      case QRequire(p, f)  => QRequire(rec(p), rec(f))
      case QPureNot(n)     => QPureNot(rec(n))
      case other           => other
    }
    rec(q0)
  }

  /** multifield search: unqualified leaves hit every (given) field */
  def searchMultifield(spark: SparkSession, mh: MultiHandle, query: String,
                       k: Int = 10, fields: Seq[String] = Seq.empty,
                       dismax: Option[Double] = None,
                       prune: Boolean = true,
                       weighting: Weighting = BM25Weighting): Dataset[SearchHit] =
    searchQ(spark, mh, parseMultifield(query, mh, fields, dismax), k, prune, weighting)

  def searchQ(spark: SparkSession, mh: MultiHandle, qParsed: Q, k: Int = 10,
              prune: Boolean = true,
              weighting: Weighting = BM25Weighting): Dataset[SearchHit] =
    Searcher.searchFields(spark, Searcher.Fields(mh.handles, mh.defaultField),
      encodeTyped(applyFieldBoosts(qParsed, mh.boostOf), mh.typeOf),
      k, prune, weighting)
}
