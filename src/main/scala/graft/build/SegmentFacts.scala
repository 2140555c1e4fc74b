package graft.build

import scala.jdk.CollectionConverters._

import org.apache.spark.util.AccumulatorV2

import graft.model.{DocStat, SegRow, SegmentManifest}

/** One segment's record facts: its real posting rows' count, bytes and
  * digest, its docs' count, docId range and rawLen sum. Partials merge
  * commutatively, so the facts do not depend on how rows split into tasks. */
private[graft] final class SegFacts extends Serializable {
  var rows, bytes, docCount, rawLenSum = 0L
  var docLo = Long.MaxValue
  var docHi = Long.MinValue
  /** XOR of the per-row sha256(term, 0, df, maxTf, blocks) 16-byte prefixes */
  val digest = new Array[Byte](16)

  private[build] def xorDigest(h: Array[Byte]): Unit = {
    var i = 0
    while (i < 16) { digest(i) = (digest(i) ^ h(i)).toByte; i += 1 }
  }

  def merge(o: SegFacts): Unit = {
    rows += o.rows
    bytes += o.bytes
    xorDigest(o.digest)
    docCount += o.docCount
    docLo = math.min(docLo, o.docLo)
    docHi = math.max(docHi, o.docHi)
    rawLenSum += o.rawLenSum
  }

  /** the record line of segment `segId`, whose docIds span [lo, hi] */
  def line(segId: Int, lo: Long, hi: Long, source: String, files: Seq[(String, Long)],
           docstats: Seq[(String, Long)], covers: Seq[Int] = Seq.empty): SegmentManifest =
    SegmentManifest(segId, lo, hi, docCount, rawLenSum, rows, bytes, IndexBuilder.toHex(digest),
      source, files, docstats, covers)
}

/** The record facts of the segments a write job stages, keyed by segId and
  * folded by the tasks that write their rows: no writer reads a segment
  * back ([W] whoosh/writing.py: a SegmentWriter knows its counts when it
  * commits). Fold only in a write job's result stage, after its last
  * exchange and never in a range partitioner's sampling job: Spark merges
  * a result task's updates once per partition, even with retries and
  * speculation, but a shuffle-map task's again whenever its stage reruns.
  * The digest is order-independent, so it witnesses bit-determinism across
  * parallelism levels; the D14 pseudo rows (derived data) are not folded,
  * so postingRows == distinct indexed terms. */
private[graft] final class SegmentFacts
    extends AccumulatorV2[(Int, SegFacts), Map[Int, SegFacts]] {
  private val segs = new java.util.HashMap[Int, SegFacts]()
  private def of(segId: Int): SegFacts = segs.computeIfAbsent(segId, _ => new SegFacts)

  def isZero: Boolean = segs.isEmpty
  def copy(): SegmentFacts = { val c = new SegmentFacts; c.merge(this); c }
  def reset(): Unit = segs.clear()
  def add(v: (Int, SegFacts)): Unit = of(v._1).merge(v._2)
  def merge(other: AccumulatorV2[(Int, SegFacts), Map[Int, SegFacts]]): Unit =
    other.value.foreach(add)
  def value: Map[Int, SegFacts] = segs.asScala.toMap
  /** the facts folded for `segId`; empty when no task wrote its rows */
  def apply(segId: Int): SegFacts = segs.getOrDefault(segId, new SegFacts)

  /** `rows` unchanged, each real posting row folded into its segment */
  def postings(rows: Iterator[SegRow]): Iterator[SegRow] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val ints = java.nio.ByteBuffer.allocate(8)
    rows.map { r =>
      if (r.term >= graft.search.Q.RealTermMin) {
        md.reset()
        md.update(r.term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(0.toByte)
        ints.clear()
        md.update(ints.putInt(r.df).putInt(r.maxTf).array())
        md.update(r.blocks)
        val f = of(r.segId)
        f.xorDigest(md.digest())
        f.rows += 1
        f.bytes += r.blocks.length
      }
      r
    }
  }

  /** `rows` unchanged, each doc folded into its segment */
  def docs(rows: Iterator[DocStat]): Iterator[DocStat] =
    rows.map { d =>
      val f = of(d.segId)
      f.docCount += 1
      f.docLo = math.min(f.docLo, d.docId)
      f.docHi = math.max(f.docHi, d.docId)
      f.rawLenSum += d.rawLen
      d
    }
}
