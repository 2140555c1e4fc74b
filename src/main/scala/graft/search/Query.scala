package graft.search

import graft.analysis.Analyzer

/** Query AST + parser for the pinned query surface (SURVEY.md §2.6 Q1):
  * term, implicit/explicit AND, OR, quoted phrase; plus NOT (Q6 stretch)
  * and parentheses. Query text runs through the same analyzer as indexing
  * ([W] whoosh/qparser/default.py semantics): stopwords are dropped from
  * queries too, and phrase terms keep their raw-stream positions so a
  * phrase spanning a dropped stopword requires the original gap (q12).
  */
sealed trait Q extends Serializable {
  /** all leaf terms mentioned (for posting-list pruning); prefixes must be
    * expanded (QueryRewrite) before this is meaningful */
  def terms: Set[String] = fieldTerms.map(_._2)
  /** (field, term) leaf pairs — the multi-field pruning/df-lookup unit */
  def fieldTerms: Set[(String, String)] = this match {
    case QTerm(t, f, _)       => Set((f, t))
    case QPhrase(ts, f, _, _) => ts.map(t => (f, t._1)).toSet
    case QAnd(cs)          => cs.flatMap(_.fieldTerms).toSet
    case QOr(cs)           => cs.flatMap(_.fieldTerms).toSet
    case QDisMax(cs, _)    => cs.flatMap(_.fieldTerms).toSet
    case QNot(p, n)        => p.fieldTerms ++ n.fieldTerms
    case QAndMaybe(p, m)   => p.fieldTerms ++ m.fieldTerms
    case QRequire(p, f)    => p.fieldTerms ++ f.fieldTerms
    case QSpanNear(cs, _, _) => cs.flatMap(_.fieldTerms).toSet
    case QSpanOr(cs)       => cs.flatMap(_.fieldTerms).toSet
    case QSpanNot(i, e)    => i.fieldTerms ++ e.fieldTerms
    case QSpanBi(a, b, _)  => a.fieldTerms ++ b.fieldTerms
    case QSpanFirst(c, _)  => c.fieldTerms
    case QConstantScore(c, _) => c.fieldTerms
    case QOtherwise(a, b)  => a.fieldTerms ++ b.fieldTerms
    case _: QMulti         => Set.empty
    case QPureNot(n)       => n.fieldTerms
    case _: QEvery         => Set.empty
    case QEmpty            => Set.empty
  }
  /** leaf terms on POSITIVE branches only — what highlighting and
    * matched-terms report: a NOT's negative side never causes a match, so
    * its terms must not be bolded in docs the positive side matched.
    * REQUIRE's filter side does occur in every match, so it stays. */
  def positiveFieldTerms: Set[(String, String)] = this match {
    case QNot(p, _)        => p.positiveFieldTerms
    case QPureNot(_)       => Set.empty
    case QAnd(cs)          => cs.flatMap(_.positiveFieldTerms).toSet
    case QOr(cs)           => cs.flatMap(_.positiveFieldTerms).toSet
    case QDisMax(cs, _)    => cs.flatMap(_.positiveFieldTerms).toSet
    case QAndMaybe(p, m)   => p.positiveFieldTerms ++ m.positiveFieldTerms
    case QRequire(p, f)    => p.positiveFieldTerms ++ f.positiveFieldTerms
    case QSpanNot(i, _)    => i.positiveFieldTerms // excl side never matches
    case QSpanBi(a, b, _)  => a.positiveFieldTerms ++ b.positiveFieldTerms
    case QSpanFirst(c, _)  => c.positiveFieldTerms
    case QConstantScore(c, _) => c.positiveFieldTerms
    case QOtherwise(a, b)  => a.positiveFieldTerms ++ b.positiveFieldTerms
    case other             => other.fieldTerms
  }
  def positiveTerms: Set[String] = positiveFieldTerms.map(_._2)
  def hasPrefix: Boolean = this match {
    case _: QMulti       => true
    case QAnd(cs)        => cs.exists(_.hasPrefix)
    case QOr(cs)         => cs.exists(_.hasPrefix)
    case QDisMax(cs, _)  => cs.exists(_.hasPrefix)
    case QNot(p, n)      => p.hasPrefix || n.hasPrefix
    case QAndMaybe(p, m) => p.hasPrefix || m.hasPrefix
    case QRequire(p, f)  => p.hasPrefix || f.hasPrefix
    case QSpanNear(cs, _, _) => cs.exists(_.hasPrefix)
    case QSpanOr(cs)     => cs.exists(_.hasPrefix)
    case QSpanNot(i, e)  => i.hasPrefix || e.hasPrefix
    case QSpanBi(a, b, _) => a.hasPrefix || b.hasPrefix
    case QSpanFirst(c, _) => c.hasPrefix
    case QConstantScore(c, _) => c.hasPrefix
    case QOtherwise(a, b) => a.hasPrefix || b.hasPrefix
    case _               => false
  }
  /** fields of the tree's match-all nodes ("" = the all-docs Every); each
    * needs its pseudo doc list shipped to the kernel */
  def everyFields: Set[String] = this match {
    case QEvery(_, f)    => Set(f)
    case QAnd(cs)        => cs.flatMap(_.everyFields).toSet
    case QOr(cs)         => cs.flatMap(_.everyFields).toSet
    case QDisMax(cs, _)  => cs.flatMap(_.everyFields).toSet
    case QNot(p, n)      => p.everyFields ++ n.everyFields
    case QAndMaybe(p, m) => p.everyFields ++ m.everyFields
    case QRequire(p, f)  => p.everyFields ++ f.everyFields
    case QConstantScore(c, _) => c.everyFields
    case QOtherwise(a, b) => a.everyFields ++ b.everyFields
    case _               => Set.empty
  }
  /** does the tree contain a match-all node (needs the segment doc list) */
  def hasEvery: Boolean = everyFields.nonEmpty
  /** this node with `f` applied to each direct child — the one structural
    * recursion of the rewrites that must reach every node (field boosts,
    * typed encoding, query correction, Otherwise resolution) */
  def mapChildren(f: Q => Q): Q = this match {
    case QAnd(cs)            => QAnd(cs.map(f))
    case QOr(cs)             => QOr(cs.map(f))
    case QDisMax(cs, tb)     => QDisMax(cs.map(f), tb)
    case QNot(p, n)          => QNot(f(p), f(n))
    case QAndMaybe(p, m)     => QAndMaybe(f(p), f(m))
    case QRequire(p, r)      => QRequire(f(p), f(r))
    case QSpanNear(cs, s, o) => QSpanNear(cs.map(f), s, o)
    case QSpanOr(cs)         => QSpanOr(cs.map(f))
    case QSpanNot(i, e)      => QSpanNot(f(i), f(e))
    case QSpanBi(a, b, m)    => QSpanBi(f(a), f(b), m)
    case QSpanFirst(c, l)    => QSpanFirst(f(c), l)
    case QConstantScore(c, sc) => QConstantScore(f(c), sc)
    case QOtherwise(a, b)    => QOtherwise(f(a), f(b))
    case QPureNot(n)         => QPureNot(f(n))
    case _: QTerm | _: QPhrase | _: QMulti | _: QEvery | QEmpty => this
  }
}
object Q {
  /** the schema's default field — what unqualified query terms hit */
  final val DefaultField = "content"
  /** reserved pseudo-term for the match-all doc list: analyzed terms never
    * contain \u0000, so it cannot collide with a real term */
  final val EveryTerm = "\u0000*"
  /** reserved pseudo-term for the "field has a value" doc list (docs whose
    * field produced >= 1 token, rawLen > 0) — the persisted backing of
    * field-scoped Every (`field:*`). Both pseudo lists are written per
    * segment at BUILD time (decision D14) as ordinary term-sorted posting
    * rows, so a match-all/NOT query is a pruned `term IN` read like any
    * other term — never a per-query docstats scan. */
  final val EveryNonEmptyTerm = "\u0000+"
  /** every real (analyzed) term sorts >= this bound; the reserved pseudo
    * terms sort strictly below it — the filter that keeps pseudo rows out
    * of lexicon aggregation and manifest metrics */
  final val RealTermMin = "\u0001"

  /** Coerce a node into span-capable form (D15): terms and span nodes pass
    * through; an OR of span-capables becomes QSpanOr (`(a OR b) NEAR c`);
    * multiterm nodes pass (their lexicon expansion spanifies later --
    * QueryRewrite); everything else cannot carry positions -> QEmpty. */
  def spanify(q: Q): Q = q match {
    case t: QTerm     => t
    case s: QSpanNear => s
    case s: QSpanOr   => s
    case s: QSpanNot  => s
    case s: QSpanBi   => s
    case s: QSpanFirst => s
    case m: QMulti    => m
    case QOr(cs) =>
      val es = cs.map(spanify)
      if (es.contains(QEmpty)) QEmpty else QSpanOr(es)
    case _ => QEmpty
  }
}
/** a term in a field, optionally boosted (`term^2`, Whoosh parser surface):
  * contribution = BM25(idf(field df) * boost, tf, field length stats) */
final case class QTerm(term: String, field: String = Q.DefaultField,
                       boost: Double = 1.0) extends Q
/** Phrase terms with raw-stream offsets, e.g. "engine is information" ->
  * List((engine,0),(information,2)) after stop removal.
  *
  * `slop` (Whoosh `Phrase(slop=N)`, parsed `"a b"~N`): slop == 1 (default)
  * is the pinned exact-offset pattern match (D3). slop > 1 switches to
  * ordered window matching — pinned semantics (in-repo decision D8, oracle-
  * enforced): the surviving terms must occur IN ORDER with each consecutive
  * matched pair's position gap in [1, slop] (raw offsets are ignored — the
  * window subsumes stopword gaps); tf = number of distinct first-term
  * positions admitting a full chain. */
final case class QPhrase(ts: List[(String, Int)], field: String = Q.DefaultField,
                         boost: Double = 1.0, slop: Int = 1) extends Q
final case class QAnd(cs: List[Q]) extends Q
/** Whoosh DisjunctionMax (programmatic surface — no query-language form):
  * matches any child's doc; score = the best matching child's score plus
  * `tiebreak` times the remaining matching children's scores
  * (mx + tiebreak * (sum - mx), FP order pinned thus in kernel+RefModel). */
final case class QDisMax(cs: List[Q], tiebreak: Double = 0.0) extends Q
final case class QOr(cs: List[Q]) extends Q
/** matches positive minus docs matching negative; scored by positive only */
final case class QNot(positive: Q, negative: Q) extends Q
/** `a ANDMAYBE b` (Whoosh AndMaybe): matches exactly a's docs; adds b's
  * score where b also matches */
final case class QAndMaybe(positive: Q, maybe: Q) extends Q
/** `a REQUIRE b` (Whoosh Require): matches where both match, scored by a */
final case class QRequire(positive: Q, filter: Q) extends Q

/** Span queries ([W] whoosh/spans.py SpanNear/SpanOr/SpanNot — decision
  * D15). A span is one occurrence's inclusive raw-position interval
  * [start, end]; a term leaf yields (p, p) per posting position. Children
  * must be span-capable: QTerm or another span node (Q.spanify converts a
  * parenthesized OR of span-capables to QSpanOr; anything else degrades to
  * QEmpty).
  *
  * Pinned semantics:
  *  - QSpanNear: all children must match the doc; spans fold left-to-right
  *    pairwise — ordered: next.start - prev.end in [1, slop], merged span
  *    (prev.start, next.end); unordered: the two spans must be disjoint
  *    with gap in [1, slop] in either order. The doc matches iff the folded
  *    span set is nonempty.
  *  - QSpanOr: any child's spans (union).
  *  - QSpanNot: incl's spans minus those OVERLAPPING an excl span
  *    (a.start <= b.end && b.start <= a.end); matches iff any survive.
  *  - Scoring (Whoosh-faithful: spans only FILTER which docs match; the
  *    wrapped compound scores as usual): Near = sum of children's ordinary
  *    scores; Or = sum over children matching the doc; Not = incl's score.
  *
  * Parser forms: `a NEAR b`, `a NEAR/3 b` (unordered), `a ONEAR/2 b`
  * (ordered), left-associative; slop defaults to 1 (adjacent). SpanNot is
  * programmatic-only, as in Whoosh (no default query-language form). */
final case class QSpanNear(cs: List[Q], slop: Int = 1,
                           ordered: Boolean = true) extends Q
final case class QSpanOr(cs: List[Q]) extends Q
final case class QSpanNot(incl: Q, excl: Q) extends Q

/** The remaining Whoosh span bi-operators ([W] whoosh/spans.py
  * SpanContains / SpanBefore / SpanCondition), one node with a mode —
  * all three require BOTH sides to match the doc (intersection scoring:
  * a's score + b's score) and differ only in which of a's spans survive:
  *  - Contains: a spans that CONTAIN some b span
  *    (a.start <= b.start && b.end <= a.end);
  *  - Before: a spans that END before some b span STARTS (a.end < b.start
  *    for some b — i.e. a.end < the doc's max b start);
  *  - Condition: ALL of a's spans (b is a pure same-doc condition, exactly
  *    Whoosh's "use a's spans but require b"). Programmatic surface. */
sealed abstract class SpanBiMode(val name: String)
case object SpanContainsMode extends SpanBiMode("contains")
case object SpanBeforeMode extends SpanBiMode("before")
case object SpanConditionMode extends SpanBiMode("condition")
final case class QSpanBi(a: Q, b: Q, mode: SpanBiMode) extends Q
object QSpanContains { def apply(big: Q, little: Q): QSpanBi = QSpanBi(big, little, SpanContainsMode) }
object QSpanBefore { def apply(a: Q, b: Q): QSpanBi = QSpanBi(a, b, SpanBeforeMode) }
object QSpanCondition { def apply(a: Q, b: Q): QSpanBi = QSpanBi(a, b, SpanConditionMode) }

/** SpanFirst ([W] whoosh/spans.py SpanFirst(q, limit) — the last member of
  * the Whoosh span family, round-5): keeps the child's spans that END
  * strictly before raw position `limit` ("the term appears in the first N
  * positions of the field"). Matches iff any survive; scored by the child
  * (spans only filter, D15). Programmatic surface, like Whoosh. */
final case class QSpanFirst(child: Q, limit: Int) extends Q

/** ConstantScore ([W] whoosh/query/wrappers.py ConstantScoreQuery):
  * matches exactly the child's docs, each scoring the constant `score`
  * (Whoosh wraps filter-like clauses this way to skip the scorer).
  * Programmatic surface. */
final case class QConstantScore(child: Q, score: Double = 1.0) extends Q

/** Otherwise ([W] whoosh/query/qcore.py Otherwise(a, b)): matches `a`'s
  * docs — unless `a` matches NOTHING, in which case it matches `b`'s.
  * Pinned GLOBAL semantics (resolved index-wide at query time with one
  * bounded existence probe, Searcher.resolveOtherwise): per-segment
  * resolution would let a segment without `a` hits answer from `b` while
  * its neighbor answers from `a`. Programmatic surface. */
final case class QOtherwise(a: Q, b: Q) extends Q
/** Multiterm queries (the reference surface beyond the pinned set —
  * SURVEY.md §2.6 "Prefix, Wildcard, FuzzyTerm, TermRange"): each expands
  * driver-side against the global lexicon into an OR over the first
  * MaxExpand matching terms (pinned order: ascending term), then runs
  * through the ordinary kernel. */
sealed trait QMulti extends Q {
  /** lexicon predicate + optional scan-narrowing prefix */
  def matches(term: String): Boolean
  def scanPrefix: String
  def field: String
  def boost: Double
}
/** `foo*` (Whoosh Prefix) */
final case class QPrefix(prefix: String, field: String = Q.DefaultField,
                         boost: Double = 1.0) extends QMulti {
  def matches(t: String): Boolean = t.startsWith(prefix)
  def scanPrefix: String = prefix
}
/** `fo?b*r` (Whoosh Wildcard): * = any run, ? = one char */
final case class QWildcard(pattern: String, field: String = Q.DefaultField,
                           boost: Double = 1.0) extends QMulti {
  lazy val regexStr: String = {
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    sb.toString
  }
  @transient private lazy val re = java.util.regex.Pattern.compile(regexStr)
  def matches(t: String): Boolean = re.matcher(t).matches()
  def scanPrefix: String = pattern.takeWhile(c => c != '*' && c != '?')
}
/** `term~` / `term~2` (Whoosh FuzzyTerm): Levenshtein distance <= maxDist */
final case class QFuzzy(term: String, maxDist: Int = 1,
                        field: String = Q.DefaultField,
                        boost: Double = 1.0) extends QMulti {
  def matches(t: String): Boolean =
    math.abs(t.length - term.length) <= maxDist &&
      QFuzzy.levenshtein(term, t, maxDist) <= maxDist
  def scanPrefix: String = "" // fuzzy can differ in the first char
}
object QFuzzy {
  /** banded Levenshtein with early exit above `cap` */
  def levenshtein(a: String, b: String, cap: Int): Int = {
    if (a == b) return 0
    val n = a.length
    val m = b.length
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > cap) return cap + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}
/** Morphological query expansion ([W] whoosh/query/terms.py `Variations`
  * backed by whoosh/lang/morph_en.py): match inflectional variants of a
  * word WITHOUT stemming the index. Decision D16 pins a compact,
  * deterministic rule set (a simplification of morph_en's ruleset — that
  * file is a large generated table; ours covers the regular English
  * suffix family and is SQL-replicable): candidates =
  * {w, w+s, w+es, w+ed, w+ing, w+d} ∪ e-aware adds {(w-e)+ing} ∪ strips
  * {w-s, w-es, w-ed, (w-ed)+e, w-ing, (w-ing)+e, w-d} ∪ y/ies swaps
  * {(w-y)+ies, (w-ies)+y}, each only when long enough, all lowercase,
  * min length 2 — then intersected with the index lexicon like every
  * multiterm (ascending order, MaxExpand cap). Programmatic surface, as
  * in Whoosh (wired there via a parser termclass, not query syntax). */
final case class QVariations(term: String, field: String = Q.DefaultField,
                             boost: Double = 1.0) extends QMulti {
  lazy val candidates: Set[String] = QVariations.candidates(term)
  def matches(t: String): Boolean = candidates.contains(t)
  def scanPrefix: String = ""
}
object QVariations {
  def candidates(w0: String): Set[String] = {
    val w = w0.toLowerCase(java.util.Locale.ROOT)
    val n = w.length
    val b = Set.newBuilder[String]
    b += w
    b += w + "s"; b += w + "es"; b += w + "ed"; b += w + "ing"; b += w + "d"
    if (w.endsWith("e")) b += w.dropRight(1) + "ing"
    if (w.endsWith("y") && n > 2) b += w.dropRight(1) + "ies"
    if (w.endsWith("ies") && n > 4) b += w.dropRight(3) + "y"
    if (w.endsWith("s") && n > 3) b += w.dropRight(1)
    if (w.endsWith("es") && n > 4) b += w.dropRight(2)
    if (w.endsWith("ed") && n > 4) { b += w.dropRight(2); b += w.dropRight(1) }
    if (w.endsWith("d") && n > 3) b += w.dropRight(1)
    if (w.endsWith("ing") && n > 5) { b += w.dropRight(3); b += w.dropRight(3) + "e" }
    b.result().filter(_.length >= 2)
  }
}

/** `[alpha TO beta]` (Whoosh TermRange). Round-4 completes the Whoosh
  * range surface: `{a TO b}` excludes a bound per bracket style (mixed
  * `[a TO b}` allowed), an omitted side (`[a TO]`, `[TO b]`) leaves that
  * end unbounded (null), and the GtLtPlugin forms `field:>v`, `>=`, `<`,
  * `<=` parse to single-bound ranges. */
final case class QRange(lo: String, hi: String,
                        field: String = Q.DefaultField,
                        boost: Double = 1.0,
                        minIncl: Boolean = true,
                        maxIncl: Boolean = true) extends QMulti {
  def matches(t: String): Boolean =
    (lo == null || (if (minIncl) t >= lo else t > lo)) &&
      (hi == null || (if (maxIncl) t <= hi else t < hi))
  def scanPrefix: String =
    if (lo == null || hi == null) ""
    else lo.zip(hi).takeWhile { case (a, b) => a == b }.map(_._1).mkString
}
object QMulti { final val MaxExpand = 128 }
/** Match-all (Whoosh `Every`): every live document matches with CONSTANT
  * score = boost (Whoosh scores Every hits 1.0). `field == ""` (a bare `*`)
  * matches ALL documents; `field:*` (Whoosh Every(fieldname)) matches the
  * documents where that field has at least one indexed token. Makes
  * top-level/AND-side pure negation answerable ("NOT x" == Every NOT x)
  * and composes delete-by-query. The kernel resolves it against a
  * per-segment pseudo posting list built from the docstats sidecar, keyed
  * (field, Q.EveryTerm). */
final case class QEvery(boost: Double = 1.0, field: String = "") extends Q
case object QEmpty extends Q
/** parser-internal: a group with ONLY negative clauses ("(NOT a)",
  * "NOT a AND NOT b"). Folds into the enclosing AND group's negative list;
  * dropped from OR groups and at top level (no match-all to subtract from).
  * Never escapes QueryParser.parse. */
final case class QPureNot(neg: Q) extends Q

object QueryRewrite {
  /** expand every multiterm node against the global lexicon; `scan(mq)`
    * returns the matching terms in ascending order (callers push
    * `mq.matches` / `mq.scanPrefix` into their term store) */
  def expandPrefixes(q: Q, scan: QMulti => Seq[String]): Q = q match {
    case mq: QMulti =>
      scan(mq).iterator.take(QMulti.MaxExpand).toList match {
        case Nil      => QEmpty
        case t :: Nil => QTerm(t, mq.field, mq.boost)
        case ts       => QOr(ts.map(t => QTerm(t, mq.field, mq.boost)))
      }
    case QAnd(cs) =>
      val es = cs.map(expandPrefixes(_, scan))
      if (es.contains(QEmpty)) QEmpty else QAnd(es)
    case QOr(cs) =>
      es2or(cs.map(expandPrefixes(_, scan)))
    case QDisMax(cs, tb) =>
      cs.map(expandPrefixes(_, scan)).filterNot(_ == QEmpty) match {
        case Nil      => QEmpty
        case c :: Nil => c
        case xs       => QDisMax(xs, tb)
      }
    case QNot(p, n) =>
      val pe = expandPrefixes(p, scan)
      val ne = expandPrefixes(n, scan)
      if (pe == QEmpty) QEmpty else if (ne == QEmpty) pe else QNot(pe, ne)
    case QAndMaybe(p, m) =>
      val pe = expandPrefixes(p, scan)
      val me = expandPrefixes(m, scan)
      if (pe == QEmpty) QEmpty else if (me == QEmpty) pe else QAndMaybe(pe, me)
    case QRequire(p, f) =>
      val pe = expandPrefixes(p, scan)
      val fe = expandPrefixes(f, scan)
      if (pe == QEmpty || fe == QEmpty) QEmpty else QRequire(pe, fe)
    // span children: a multiterm expands to an OR of terms, which spanify
    // re-coerces to QSpanOr so positions stay available (D15)
    case QSpanNear(cs, slop, ord) =>
      val es = cs.map(c => Q.spanify(expandPrefixes(c, scan)))
      if (es.contains(QEmpty)) QEmpty else QSpanNear(es, slop, ord)
    case QSpanOr(cs) =>
      cs.map(c => Q.spanify(expandPrefixes(c, scan))).filterNot(_ == QEmpty) match {
        case Nil      => QEmpty
        case c :: Nil => c
        case xs       => QSpanOr(xs)
      }
    case QSpanNot(i, e) =>
      val ie = Q.spanify(expandPrefixes(i, scan))
      val ee = Q.spanify(expandPrefixes(e, scan))
      if (ie == QEmpty) QEmpty else if (ee == QEmpty) ie else QSpanNot(ie, ee)
    case QSpanBi(a, b, m) =>
      val ae = Q.spanify(expandPrefixes(a, scan))
      val be = Q.spanify(expandPrefixes(b, scan))
      if (ae == QEmpty || be == QEmpty) QEmpty else QSpanBi(ae, be, m)
    case QSpanFirst(c, l) =>
      val ce = Q.spanify(expandPrefixes(c, scan))
      if (ce == QEmpty) QEmpty else QSpanFirst(ce, l)
    case QConstantScore(c, sc) =>
      val ce = expandPrefixes(c, scan)
      if (ce == QEmpty) QEmpty else QConstantScore(ce, sc)
    case QOtherwise(a, b) =>
      val ae = expandPrefixes(a, scan)
      val be = expandPrefixes(b, scan)
      if (ae == QEmpty) be else if (be == QEmpty) ae else QOtherwise(ae, be)
    case other => other
  }
  private def es2or(cs: List[Q]): Q = cs.filterNot(_ == QEmpty) match {
    case Nil      => QEmpty
    case c :: Nil => c
    case xs       => QOr(xs)
  }
}

object QueryParser {

  private sealed trait Tok
  private case class Word(s: String) extends Tok
  private case class Phrase(s: String) extends Tok
  private case class RangeTok(lo: String, hi: String,
                              minIncl: Boolean, maxIncl: Boolean) extends Tok
  /** bracket-range interior: optional lo, the TO keyword, optional hi */
  private val RangeInner = "^\\s*(?:(\\S.*?)\\s+)?TO(?:\\s+(.*\\S))?\\s*$".r
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private case object TAndMaybe extends Tok
  private case object TRequire extends Tok
  private case class TNear(slop: Int, ordered: Boolean) extends Tok
  private case object LP extends Tok
  private case object RP extends Tok

  /** `NEAR`, `NEAR/3` (unordered), `ONEAR`, `ONEAR/2` (ordered) */
  private val NearOp = "^(O?)NEAR(?:/(\\d+))?$".r

  private def lex(s: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '[' || c == '{') {
        // Whoosh range brackets: [ ] inclusive, { } exclusive, mixed
        // allowed ([a TO b}); an omitted side is unbounded
        val j1 = s.indexOf(']', i + 1)
        val j2 = s.indexOf('}', i + 1)
        val j = (j1, j2) match {
          case (-1, x)           => x
          case (x, -1)           => x
          case (a, b)            => math.min(a, b)
        }
        val end = if (j < 0) n else j
        val inner = s.substring(i + 1, end)
        def lc(v: String): String =
          if (v == null) null else v.toLowerCase(java.util.Locale.ROOT)
        inner match {
          case RangeInner(lo, hi) if lo != null || hi != null =>
            out += RangeTok(lc(lo), lc(hi),
              minIncl = c == '[',
              maxIncl = j >= 0 && s.charAt(j) == ']')
          case _ => // malformed range: fall back to word tokens
            out ++= inner.split("\\s+").filter(_.nonEmpty).map(Word.apply)
        }
        i = if (j < 0) n else j + 1
      }
      else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        val end = if (j < 0) n else j
        out += Phrase(s.substring(i + 1, end))
        i = if (j < 0) n else j + 1
      } else {
        var j = i
        while (j < n && !s.charAt(j).isWhitespace && s.charAt(j) != '(' &&
          s.charAt(j) != ')' && s.charAt(j) != '"' && s.charAt(j) != '[') j += 1
        val w = s.substring(i, j)
        w match {
          case "AND"      => out += TAnd
          case "OR"       => out += TOr
          case "NOT"      => out += TNot
          case "ANDNOT"   => out += TNot // Whoosh AndNot == our NOT clause
          case "ANDMAYBE" => out += TAndMaybe
          case "REQUIRE"  => out += TRequire
          case NearOp(o, k) =>
            out += TNear(Option(k).flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1),
              ordered = o == "O")
          case _          => out += Word(w)
        }
        i = j
      }
    }
    out.toList
  }

  /** `field:` prefix of a raw word token, Whoosh-style: letters/underscore
    * name, nonempty or phrase-adjacent remainder */
  private val FieldPrefix = "^([A-Za-z_][A-Za-z0-9_]*):(.*)$".r

  /** trailing `~<slop>` and/or `^<boost>` of a phrase (one word token) */
  private val TrailingMods = "^(?:~(\\d+))?(?:\\^(\\d+(?:\\.\\d+)?))?$".r

  /** trailing `^<boost>` of a raw word token (positive float) */
  private def splitBoost(w: String): (String, Double) = {
    val i = w.lastIndexOf('^')
    if (i <= 0 || i == w.length - 1) (w, 1.0)
    else w.substring(i + 1).toDoubleOption.filter(_ > 0.0) match {
      case Some(b) => (w.substring(0, i), b)
      case None    => (w, 1.0)
    }
  }

  /** Parse a query string; QEmpty if nothing indexable remains.
    * Unqualified terms hit `defaultField` (the reference's
    * QueryParser(default_field, schema)); `chainOf` supplies each field's
    * analysis chain so query text is analyzed exactly like that field's
    * index (the reference runs query terms through the schema's per-field
    * analyzer). */
  def parse(s: String, defaultField: String = Q.DefaultField,
            chainOf: String => graft.analysis.Chain = _ => graft.analysis.Chain.Standard): Q = {
    var toks = lex(s)

    def peek: Option[Tok] = toks.headOption
    def pop(): Tok = { val t = toks.head; toks = toks.tail; t }

    // orExpr := andExpr (OR andExpr)*
    def orExpr(): Q = {
      var cs = List(andExpr())
      while (peek.contains(TOr)) { pop(); cs = cs :+ andExpr() }
      // a single child (e.g. a parenthesized pure-negative group) passes
      // through untouched; mkOr's pure-negative drop applies to real unions
      if (cs.lengthCompare(1) == 0) cs.head else mkOr(cs)
    }

    // andExpr := (NOT? unary) ((AND|NOT)? unary)*  — adjacency = AND; NOT
    // binds the following unary as a negative clause of the group
    // (Whoosh-style AndNot). A group-leading NOT ("NOT foo", "a OR NOT b")
    // also routes its operand to the negative list; with no positive clause
    // left the group is QEmpty (the engine has no match-all to subtract
    // from — Whoosh's Not(foo) over every doc is out of surface).
    def andExpr(): Q = {
      var pos = List.empty[Q]
      var neg = List.empty[Q]
      var maybe = List.empty[Q]    // ANDMAYBE operands: optional score adders
      var reqs = List.empty[Q]     // REQUIRE operands: unscored filters
      var continue = true
      if (peek.contains(TNot)) { pop(); neg = neg :+ prox() }
      else pos = pos :+ prox()
      while (continue) {
        peek match {
          case Some(TAnd)                              => pop(); pos = pos :+ prox()
          case Some(TNot)                              => pop(); neg = neg :+ prox()
          case Some(TAndMaybe)                         => pop(); maybe = maybe :+ prox()
          case Some(TRequire)                          => pop(); reqs = reqs :+ prox()
          case Some(Word(_)) | Some(Phrase(_)) | Some(LP) |
               Some(_: RangeTok)                       => pos = pos :+ prox()
          case _                                       => continue = false
        }
      }
      // parenthesized pure-negative operands ("a AND (NOT b)") fold into
      // this group's negative list
      val (pures, realPos) = pos.partition(_.isInstanceOf[QPureNot])
      val p0 = mkAnd(realPos)
      // layering (innermost first): REQUIRE filters, then ANDMAYBE adders,
      // then NOT exclusions — "a REQUIRE b ANDMAYBE c NOT d"
      val reqsLive = reqs.filterNot(_ == QEmpty)
      val p1 = if (reqsLive.isEmpty || p0 == QEmpty) p0 else QRequire(p0, mkAnd(reqsLive))
      val maybeLive = maybe.filterNot(_ == QEmpty)
      val p = if (maybeLive.isEmpty || p1 == QEmpty) p1 else QAndMaybe(p1, mkOr(maybeLive))
      val negsLive = (neg ++ pures.map(_.asInstanceOf[QPureNot].neg))
        .filterNot(_ == QEmpty)
      if (negsLive.isEmpty) p
      else if (p == QEmpty) QPureNot(mkOr(negsLive))
      else QNot(p, mkOr(negsLive))
    }

    // proximity level (binds tighter than AND/OR, left-associative):
    // `a NEAR/3 b NEAR/3 c` nests as SpanNear(SpanNear(a, b), c). A side
    // that isn't span-capable (spanify -> QEmpty) absorbs the node to
    // QEmpty — dropped from its group, never a crash (D15).
    def prox(): Q = {
      var left = unary()
      var continue = true
      while (continue) {
        peek match {
          case Some(TNear(slop, ord)) =>
            pop()
            val l = Q.spanify(left)
            val r = Q.spanify(unary())
            left = if (l == QEmpty || r == QEmpty) QEmpty
                   else QSpanNear(List(l, r), slop, ord)
          case _ => continue = false
        }
      }
      left
    }

    // a dangling operator / unclosed paren leaves no tokens: treat the
    // missing operand as QEmpty (dropped from its group) instead of crashing
    def unary(): Q = if (toks.isEmpty) QEmpty else pop() match {
      case LP =>
        val q = orExpr()
        if (peek.contains(RP)) pop()
        q
      case Word(w0) =>
        // strip trailing boost, then a leading field qualifier
        val (w1, boost) = splitBoost(w0)
        val (fieldOpt, w) = w1 match {
          case FieldPrefix(f, rest) => (Some(f), rest)
          case _                    => (None, w1)
        }
        val field = fieldOpt.getOrElse(defaultField)
        if (w.isEmpty) {
          // `field:"a phrase"` / `field:[lo TO hi]` — the quote/bracket
          // ended the word token; the phrase or range follows
          peek match {
            case Some(Phrase(p)) =>
              pop()
              val (slop, b) = trailingMods()
              phraseNode(p, field, boost * b, slop)
            case Some(RangeTok(lo, hi, mi, ma)) =>
              pop()
              QRange(lo, hi, field, boost, mi, ma)
            case _ => QEmpty // dangling `field:`
          }
        } else wordNode(w, field, boost, fieldOpt.isDefined)
      case Phrase(p) =>
        val (slop, b) = trailingMods()
        phraseNode(p, defaultField, b, slop)
      case RangeTok(lo, hi, mi, ma) => QRange(lo, hi, defaultField, 1.0, mi, ma)
      case RP          => QEmpty
      case TAnd        => QEmpty
      case TOr         => QEmpty
      case TNot        => QEmpty
      case TAndMaybe   => QEmpty
      case TRequire    => QEmpty
      case TNear(_, _) => QEmpty // leading NEAR: missing left operand
    }

    // `"a b"~2`, `"a b"^3`, `"a b"~2^3`: slop and/or boost lex as one
    // trailing word token after the closing quote
    def trailingMods(): (Int, Double) = peek match {
      case Some(Word(w)) if w.startsWith("~") || w.startsWith("^") =>
        w match {
          case TrailingMods(s, b) if s != null || b != null =>
            pop()
            (Option(s).flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1),
              Option(b).flatMap(_.toDoubleOption).filter(_ > 0.0).getOrElse(1.0))
          case _ => (1, 1.0)
        }
      case _ => (1, 1.0)
    }

    // multiterm syntax (reference semantics: multiterm query text is
    // lowercased but NOT run through the full analyzer)
    def wordNode(w: String, field: String, boost: Double,
                 explicitField: Boolean = false): Q = {
      def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      // bare `*` = all docs; `field:*` = docs where the field has a value
      if (w == "*") QEvery(boost, if (explicitField) field else "")
      // GtLt forms (Whoosh GtLtPlugin): `field:>v` etc. -> one-sided range
      else if (w.startsWith(">=") && w.length > 2)
        QRange(lower(w.drop(2)), null, field, boost)
      else if (w.startsWith("<=") && w.length > 2)
        QRange(null, lower(w.drop(2)), field, boost)
      else if (w.startsWith(">") && w.length > 1)
        QRange(lower(w.drop(1)), null, field, boost, minIncl = false)
      else if (w.startsWith("<") && w.length > 1)
        QRange(null, lower(w.drop(1)), field, boost, maxIncl = false)
      else if (w.length > 1 && w.endsWith("*") && !w.init.exists(c => c == '*' || c == '?'))
        QPrefix(lower(w.init), field, boost)
      else if (w.exists(c => c == '*' || c == '?'))
        QWildcard(lower(w), field, boost)
      else if (w.length > 1 && (w.endsWith("~") ||
          (w.length > 2 && w.charAt(w.length - 2) == '~' && w.last.isDigit))) {
        if (w.endsWith("~")) QFuzzy(lower(w.init), 1, field, boost)
        else QFuzzy(lower(w.dropRight(2)), w.last.asDigit, field, boost)
      } else chainOf(field).tokenize(w).toList match {
        case Nil      => QEmpty // stopword-only -> dropped from group
        case t :: Nil => QTerm(t.term, field, boost)
        case ts       => mkPhrase(ts.map(t => (t.term, t.pos)), field, boost) // dotted compounds etc.
      }
    }

    def phraseNode(p: String, field: String, boost: Double, slop: Int = 1): Q =
      chainOf(field).tokenize(p).toList.map(t => (t.term, t.pos)) match {
        case Nil           => QEmpty
        case (t, _) :: Nil => QTerm(t, field, boost)
        case ts            => mkPhrase(ts, field, boost, slop)
      }

    // phrase offsets are rebased so the first surviving term sits at 0 —
    // relative gaps (incl. gaps across removed stopwords, q12) are what matters
    def mkPhrase(ts: List[(String, Int)], field: String, boost: Double,
                 slop: Int = 1): Q = {
      val base = ts.head._2
      QPhrase(ts.map { case (t, p) => (t, p - base) }, field, boost, slop)
    }

    // dropped (stopword-only) children vanish from their group, Whoosh-style:
    // "the search" == "search". A group that loses ALL children is QEmpty.
    def mkAnd(cs0: List[Q]): Q = cs0.filterNot(_ == QEmpty) match {
      case Nil      => QEmpty
      case c :: Nil => c
      case cs       => QAnd(cs)
    }
    // pure-negative children are dropped from OR groups too: "a OR NOT b"
    // would need a match-all ("everything except b") to union with
    def mkOr(cs0: List[Q]): Q =
      cs0.filterNot(c => c == QEmpty || c.isInstanceOf[QPureNot]) match {
        case Nil      => QEmpty
        case c :: Nil => c
        case cs       => QOr(cs)
      }

    if (toks.isEmpty) QEmpty
    else orExpr() match {
      // top-level pure negative: subtract from the match-all ("NOT x" ==
      // Every NOT x, constant Every scores — answerable since QEvery landed)
      case QPureNot(n) => QNot(QEvery(), n)
      case q           => q
    }
  }
}
