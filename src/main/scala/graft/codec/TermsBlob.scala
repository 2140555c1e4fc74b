package graft.codec

import graft.analysis.Analyzer

/** Packed per-document term-stats blob: the analysis result of one doc as a
  * single binary column. Serializing this instead of nested
  * Array[Struct[String, Array[Int]]] rows keeps the persisted analyzed
  * dataset and its Tungsten encode/decode an order of magnitude cheaper at
  * 10^12-doc scale, and the positions section uses the block codec's exact
  * wire form (varint pos0 + gaps) so the run builder copies bytes verbatim.
  *
  * {{{
  * blob := varint numTerms, entry*          // entries in ascending term order
  * entry := varint termLen, termBytes(utf8), varint tf, posBytes
  * posBytes := varint pos0, varint gap[tf-1]
  * }}}
  */
object TermsBlob {

  def encode(a: Analyzer.Analyzed): Array[Byte] = {
    val w = new Varint.Writer(64 + a.fieldLen * 3)
    w.writeVarInt(a.terms.length)
    a.terms.foreach { case (term, ps) =>
      val tb = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      w.writeVarInt(tb.length)
      w.writeRawBytes(tb)
      w.writeVarInt(ps.length)
      w.writeVarInt(ps(0))
      var j = 1
      while (j < ps.length) { w.writeVarInt(ps(j) - ps(j - 1)); j += 1 }
    }
    w.toBytes
  }

  /** each entry's (term, tf, posOff, posLen), posOff/posLen delimiting its
    * wire-form positions bytes, passed positionally (no box) — the build's
    * hot path visits one entry per (doc, distinct term) */
  def foreachEntryFields(blob: Array[Byte])(f: (String, Int, Int, Int) => Unit): Unit = {
    val r = new Varint.Reader(blob)
    val numTerms = r.readVarInt()
    var i = 0
    while (i < numTerms) {
      val tl = r.readVarInt()
      val term = new String(blob, r.pos, tl, java.nio.charset.StandardCharsets.UTF_8)
      r.skip(tl)
      val tf = r.readVarInt()
      val posOff = r.pos
      var j = 0
      while (j < tf) { r.readVarInt(); j += 1 } // skip over positions
      f(term, tf, posOff, r.pos - posOff)
      i += 1
    }
  }
}
