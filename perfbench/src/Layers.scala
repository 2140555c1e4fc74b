package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.codec.PostingsCodec
import graft.model.CorpusRow
import graft.search.{Kernel, QueryParser, Searcher}

/** Per-layer figures timed on the driver thread, outside Spark, on the
  * workload's own inputs: the scoring kernel and the posting codec on the
  * posting lists the workload's queries read, and the analyzer on its
  * corpus. Trace mode only. */
object Layers {

  /** runs `f` at least 3 times and until `minNs` has passed; the median ns */
  private def medianNs(minNs: Long)(f: => Unit): Double = {
    val ts = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    while (ts.size < 3 || System.nanoTime() - t0 < minNs) {
      val s = System.nanoTime(); f; ts += System.nanoTime() - s
    }
    Stats.median(ts.map(_.toDouble).toSeq)
  }

  def kernelAndCodec(spark: SparkSession, h: Searcher.IndexHandle,
                     texts: Seq[String]): Map[String, Double] = {
    // prefix and match-all queries read lists resolved at query time
    val qs = texts.map(QueryParser.parse(_)).filter(q => !q.hasPrefix && !q.hasEvery)
    val terms = qs.flatMap(_.terms).toSet
    val dfs = Searcher.termDfs(spark, h, terms)
    val rows = h.segments.filter(col("term").isin(terms.toSeq: _*))
      .select("segId", "term", "maxTf", "blocks").collect()
    val lists: Seq[Map[String, Kernel.TermList]] = rows.groupBy(_.getInt(0)).values.map { rs =>
      val m = mutable.HashMap.empty[String, Kernel.TermList]
      rs.foreach { r =>
        Kernel.mergeList(m, r.getString(1),
          Kernel.TermList(r.getAs[Array[Byte]](3), r.getInt(2), dfs.getOrElse(r.getString(1), 0L)))
      }
      m.toMap
    }.toSeq
    val topkNs = medianNs(300_000_000L) {
      qs.foreach(q => lists.foreach(l => Kernel.topK(q, l, h.stats, 10)))
    }
    val blobs = lists.flatMap(_.values.map(_.bytes))
    var postings = 0L
    val decodeNs = medianNs(200_000_000L) {
      postings = 0L
      blobs.foreach(b => postings += PostingsCodec.decodeIterator(b).size)
    }
    val decoded = blobs.map(b => PostingsCodec.decodeIterator(b).toArray)
    val encodeNs = medianNs(200_000_000L) {
      decoded.foreach(ps => PostingsCodec.encode(ps.iterator))
    }
    val p = math.max(1L, postings).toDouble
    Map(
      "kernel.topk_ms_per_batch" -> topkNs / 1e6,
      "kernel.postings_per_query" ->
        qs.map(_.terms.toSeq.map(t => dfs.getOrElse(t, 0L)).sum.toDouble).sum / math.max(1, qs.size),
      "codec.decode_postings_per_s" -> p / (decodeNs / 1e9),
      "codec.encode_postings_per_s" -> p / (encodeNs / 1e9),
      "codec.bytes_per_posting" -> blobs.map(_.length.toLong).sum / p)
  }

  def analysis(rows: Seq[CorpusRow]): Map[String, Double] = {
    val sample = rows.take(300)
    val tokens = sample.map(r => Analyzer.analyze(r.content).fieldLen.toLong).sum
    val ns = medianNs(300_000_000L)(sample.foreach(r => Analyzer.analyze(r.content)))
    Map("analysis.tokens_per_s" -> tokens / (ns / 1e9))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear interpolation between closest ranks */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
