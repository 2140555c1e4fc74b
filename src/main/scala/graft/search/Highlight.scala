package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.build.IndexBuilder
import graft.model.CorpusRow

/** Hit highlighting ([W] whoosh/highlight.py: analyzer-driven fragmenter +
  * scorer + HTML formatter; reconstruction per SURVEY.md §0 — reference
  * tree empty, semantics pinned by the in-repo oracle).
  *
  * Decision D12 (pinned):
  *  - the display stream is the RAW tokenizer output of the content —
  *    original case, stop words kept (`\w+(\.?\w+)*` non-overlapping
  *    matches in order, the pinned A1 pattern);
  *  - a position p matches iff lowercase(token(p)) is one of the query's
  *    analyzed terms (query terms are post-filter, so stop words can never
  *    match);
  *  - fragments are token windows: each match spans [p-surround, p+surround];
  *    overlapping/adjacent spans merge (two matches share a fragment iff
  *    their positions differ by <= 2*surround), then clip to the token
  *    stream (the ContextFragmenter analog, token- not char-budgeted);
  *  - fragment score = number of matching positions in it (the
  *    BasicFragmentScorer analog); the top `maxFrags` fragments are kept,
  *    ranked (score desc, start asc), `frag` = that rank ordinal;
  *  - rendering joins the window's tokens with single spaces, wrapping
  *    EVERY matching token in `<b>...</b>` (the HtmlFormatter analog;
  *    original inter-token whitespace/punctuation is not reproduced — the
  *    token-stream render is what makes the semantics exactly
  *    SQL-checkable).
  *
  * Scale shape: one pruned docstats key lookup for the requested hit ids,
  * a broadcast semi-join against the corpus (content read only for those
  * keys), then a narrow per-row kernel — no shuffle beyond the join.
  */
object Highlight {

  final case class Fragment(startPos: Int, endPos: Int, matches: Int, text: String)

  /** Fragmenter variants ([W] whoosh/highlight.py fragmenters — round-5):
    *  - ContextFragmenter: the pinned D12 island-merge token windows;
    *  - SentenceFragmenter: the content splits into sentences at the pinned
    *    boundary `(?<=[.!?])\s+`; a sentence is a candidate fragment iff it
    *    holds >= 1 matching token; positions are cumulative token offsets
    *    (per-sentence tokenization, concatenated);
    *  - WholeFragmenter: the entire token stream as one fragment (Whoosh's
    *    "don't fragment" option for short fields). */
  sealed trait Fragmenter
  final case class ContextFragmenter(surround: Int = 3) extends Fragmenter
  case object SentenceFragmenter extends Fragmenter
  case object WholeFragmenter extends Fragmenter

  /** fragment ordering ([W] whoosh SCORE vs FIRST): by match count
    * (desc, then position — the D12 default) or by position in the doc */
  sealed trait FragOrder
  case object OrderByScore extends FragOrder
  case object OrderByPosition extends FragOrder

  /** HtmlFormatter analog: how a MATCHED token renders. Non-matching
    * tokens always render verbatim. */
  type Formatter = String => String
  val BoldFormatter: Formatter = t => s"<b>$t</b>"
  val UppercaseFormatter: Formatter = _.toUpperCase(java.util.Locale.ROOT)

  /** raw display tokens: original-case matches of the pinned A1 pattern */
  private[search] def rawTokens(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = Analyzer.TokenPattern.matcher(text)
    while (m.find()) out += m.group()
    out.toArray
  }

  @inline private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** the pure fragment kernel (D12 defaults) — property-tested against a
    * brute-force window model in HighlightSpec */
  def fragments(content: String, terms: Set[String], surround: Int = 3,
                maxFrags: Int = 2): Seq[Fragment] =
    fragmentsEx(content, terms, ContextFragmenter(surround), maxFrags,
      OrderByScore, BoldFormatter)

  /** the pinned sentence boundary: terminal punctuation then whitespace */
  private val SentenceSplit = "(?<=[.!?])\\s+"

  /** generalized fragment kernel (round-5): fragmenter x order x formatter */
  def fragmentsEx(content: String, terms: Set[String],
                  fragmenter: Fragmenter = ContextFragmenter(),
                  maxFrags: Int = 2,
                  order: FragOrder = OrderByScore,
                  formatter: Formatter = BoldFormatter): Seq[Fragment] = {
    require(maxFrags >= 1)
    def render(toks: Iterator[String]): String =
      toks.map(t => if (terms.contains(lc(t))) formatter(t) else t).mkString(" ")
    val cands: Seq[Fragment] = fragmenter match {
      case ContextFragmenter(surround) =>
        require(surround >= 0)
        val toks = rawTokens(content)
        val ms = new scala.collection.mutable.ArrayBuffer[Int]
        var i = 0
        while (i < toks.length) {
          if (terms.contains(lc(toks(i)))) ms += i
          i += 1
        }
        if (ms.isEmpty) return Seq.empty
        // greedy island merge over sorted match positions: a new fragment
        // starts when the gap to the previous match exceeds 2*surround
        final case class Isl(lo: Int, hi: Int, n: Int)
        val islands = scala.collection.mutable.ArrayBuffer.empty[Isl]
        var lo = ms.head; var hi = ms.head; var n = 1
        ms.iterator.drop(1).foreach { p =>
          if (p - hi <= 2 * surround) { hi = p; n += 1 }
          else { islands += Isl(lo, hi, n); lo = p; hi = p; n = 1 }
        }
        islands += Isl(lo, hi, n)
        islands.map { isl =>
          val s = math.max(0, isl.lo - surround)
          val e = math.min(toks.length - 1, isl.hi + surround)
          Fragment(s, e, isl.n, render((s to e).iterator.map(toks)))
        }.toSeq
      case SentenceFragmenter =>
        var off = 0
        content.split(SentenceSplit).iterator.flatMap { sent =>
          val toks = rawTokens(sent)
          val s = off
          off += toks.length
          val m = toks.count(t => terms.contains(lc(t)))
          if (m == 0 || toks.isEmpty) None
          else Some(Fragment(s, s + toks.length - 1, m, render(toks.iterator)))
        }.toSeq
      case WholeFragmenter =>
        val toks = rawTokens(content)
        val m = toks.count(t => terms.contains(lc(t)))
        if (m == 0 || toks.isEmpty) Seq.empty
        else Seq(Fragment(0, toks.length - 1, m, render(toks.iterator)))
    }
    val ordered = order match {
      case OrderByScore    => cands.sortBy(f => (-f.matches, f.startPos))
      case OrderByPosition => cands.sortBy(_.startPos)
    }
    ordered.take(maxFrags)
  }

  /** fragments for a set of hit docIds: (docId, frag, start_pos, end_pos,
    * matches, fragment). `query` is analyzed with the handle's chain;
    * multiterm nodes expand against the lexicon first, then only the
    * POSITIVE branches' terms highlight (a NOT's negative side never causes
    * a match, so it must not be bolded). Docs with no match emit no rows. */
  def highlights(spark: SparkSession, handle: Searcher.IndexHandle,
                 corpus: Dataset[CorpusRow], query: String, docIds: Seq[Long],
                 surround: Int = 3, maxFrags: Int = 2): DataFrame =
    highlightsEx(spark, handle, corpus, query, docIds,
      ContextFragmenter(surround), maxFrags, OrderByScore, BoldFormatter)

  /** the generalized per-hit surface: fragmenter x order x formatter
    * (round-5) — same scale shape as `highlights` */
  def highlightsEx(spark: SparkSession, handle: Searcher.IndexHandle,
                   corpus: Dataset[CorpusRow], query: String, docIds: Seq[Long],
                   fragmenter: Fragmenter, maxFrags: Int = 2,
                   order: FragOrder = OrderByScore,
                   formatter: Formatter = BoldFormatter): DataFrame = {
    import spark.implicits._
    val q0 = QueryParser.parse(query, chainOf = _ => handle.chain)
    val q = if (q0.hasPrefix)
      QueryRewrite.expandPrefixes(q0, mq => Searcher.scanMulti(spark, handle, mq))
    else q0
    val terms = q.positiveTerms
    val keys = handle.docstats
      .filter(col("docId").isin(docIds: _*))
      .select("docId", "repo", "path", "commit")
    val fLocal = fragmenter
    val mLocal = maxFrags
    val oLocal = order
    val fmtLocal = formatter
    corpus.toDF()
      .join(broadcast(keys), Seq("repo", "path", "commit"))
      .select($"docId".as[Long], $"content".as[String])
      .flatMap { case (id, content) =>
        fragmentsEx(content, terms, fLocal, mLocal, oLocal, fmtLocal)
          .iterator.zipWithIndex.map {
            case (f, rank) => (id, rank, f.startPos, f.endPos, f.matches, f.text)
          }
      }
      .toDF("docId", "frag", "start_pos", "end_pos", "matches", "fragment")
  }
}
