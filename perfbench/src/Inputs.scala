package graft.perfbench

import graft.analysis.Analyzer
import graft.corpus.SynthCorpus
import graft.model.CorpusRow

/** One query of a workload's stream: its shape and its text in the query
  * syntax `Searcher.search` parses. */
final case class BQuery(shape: String, text: String)

/** Seeded query stream over the synthetic corpus vocabulary w0000..w9999.
  *
  * Terms are drawn Zipf-like (rank = 10000^u - 1, the corpus's own law),
  * with u taken from a golden-ratio sequence at a seed-chosen start rather
  * than independently at random: every prefix of the stream then covers
  * the rank range evenly, so two seeds give query mixes of the same cost
  * and a run's figures do not depend on a lucky draw of head terms. */
final class QueryGen(seed: Long, stream: Long, corpus: Corpus) {
  private val Phi = 0.6180339887498949

  private def u(i: Long, slot: Int): Double = {
    val start = (SynthCorpus.hash64(seed, stream * 64 + slot, 0x5eedL) >>> 11).toDouble /
      (1L << 53).toDouble
    val x = start + i * Phi * (1.0 + slot * 0.1)
    x - math.floor(x)
  }

  /** a term whose u falls in [lo, hi): [0, .5) are the 100 head terms */
  def term(i: Long, slot: Int, lo: Double = 0.0, hi: Double = 1.0): String =
    QueryGen.word(QueryGen.rank(lo + (hi - lo) * u(i, slot)))

  /** two adjacent tokens of an indexed document, so the phrase matches */
  def phrase(i: Long): String = {
    val d = java.lang.Long.remainderUnsigned(SynthCorpus.hash64(seed, stream, 1000L + i), corpus.size.toLong)
    val toks = corpus.rows(d.toInt).content.split(' ')
    val p = java.lang.Long.remainderUnsigned(SynthCorpus.hash64(seed, stream, 2000L + i),
      (toks.length - 1).toLong).toInt
    "\"" + toks(p) + " " + toks(p + 1) + "\""
  }

  /** ten-term prefix family over ranks 99..999: w012* expands to
    * w0120..w0129 */
  def prefix(i: Long): String = {
    val r = QueryGen.rank(0.5 + 0.25 * u(i, 0))
    f"w${r / 10}%03d*"
  }

  /** Single-query shapes draw from u >= 0.15, past the five hottest
    * terms, whose lists cover most documents: with a few queries of each
    * shape per run, one such draw more or less would move a run's cost by
    * more than the noise. The batch shapes (head, matchall) keep them; a
    * batch of 50 averages them out. */
  def query(shape: String, i: Long): BQuery = BQuery(shape, shape match {
    case "term"     => term(i, 0, 0.25, 0.75)
    case "head"     => term(i, 0, 0.0, 0.5)
    case "and"      => s"${term(i, 0, 0.15, 0.5)} AND ${term(i, 1, 0.15, 0.5)}"
    case "or"       => s"${term(i, 0, 0.15, 1.0)} OR ${term(i, 1, 0.15, 1.0)} OR ${term(i, 2, 0.15, 1.0)}"
    case "phrase"   => phrase(i)
    case "not"      => s"${term(i, 0, 0.25, 0.75)} NOT ${term(i, 1, 0.15, 0.25)}"
    case "matchall" => s"NOT ${term(i, 0, 0.0, 0.5)}"
    case "prefix"   => prefix(i)
    case "faceted"  => term(i, 0, 0.25, 0.75)
  })
}

object QueryGen {
  def rank(u: Double): Int = math.min(9999, math.max(0, (math.pow(10000.0, u) - 1.0).toInt))
  def word(r: Int): String = f"w$r%04d"
}

/** A synthetic corpus held by the benchmark: rows from `SynthCorpus.row`
  * for ids [lo, lo + n), and the engine's documented docId rule (D1: rank
  * in (repo, path, commit) order within one build or append) computed here
  * independently of the engine. */
final class Corpus(val seed: Long, val lo: Long, n: Int) {
  val rows: IndexedSeq[CorpusRow] = (0 until n).map(i => SynthCorpus.row(seed, lo + i))
  def size: Int = rows.size
  /** row index -> rank among these rows by (repo, path, commit) */
  lazy val rank: Array[Int] = {
    val order = rows.indices.sortWith { (a, b) =>
      val x = rows(a); val y = rows(b)
      val c1 = x.repo.compareTo(y.repo)
      if (c1 != 0) c1 < 0
      else {
        val c2 = x.path.compareTo(y.path)
        if (c2 != 0) c2 < 0 else x.commit.compareTo(y.commit) < 0
      }
    }
    val r = new Array[Int](n)
    order.zipWithIndex.foreach { case (row, k) => r(row) = k }
    r
  }
  def contentBytes: Long = rows.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum
  /** BM25 field length summed over the rows, by the analyzer */
  lazy val fieldLen: Long = rows.iterator.map(r => Analyzer.analyze(r.content).fieldLen.toLong).sum
}
