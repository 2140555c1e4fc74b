package graft.build

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.build.IndexBuilder.{BuildReport, IndexConfig}
import graft.model.CorpusRow

/** Multi-field schema (reference surface: [R] cockatrice/schema.py — a
  * per-index, multi-field declared schema; SURVEY.md §1.1).
  *
  * Spark-native representation: ONE INDEX DIRECTORY PER FIELD under
  * `root/fields/<name>` — the columnar analog of a per-field terms
  * dictionary. Each field index is a complete, independently usable
  * instance of the single-field pipeline (segments, lexicon, deletes and
  * the stats.json commit record), so merge/compaction/resume/streaming all apply per
  * field unchanged. docIds align across fields automatically: the D1 stamp
  * is a pure function of the corpus keys (repo, path, commit), which are
  * identical for every field of the same corpus.
  *
  * Per-field BM25 statistics come for free (each index has its own df,
  * lengths, and avg field length; N is the same everywhere), matching
  * Whoosh's BM25F-style per-field scoring. Field boosts are schema-time
  * multipliers folded into query-node boosts at search (MultiFieldSearcher).
  */
object MultiFieldIndex {

  /** a schema field: name, how to derive its raw value from a corpus row,
    * a schema-time boost, the field's analysis chain, and its TYPE
    * ([R] cockatrice/schema.py field args: type + analyzer + boost).
    * Non-text types index one sortable-encoded term per doc through the
    * keyword chain (FieldTypes) — the analyzer arg is ignored for them. */
  final case class FieldSpec(name: String, extract: CorpusRow => String,
                             boost: Double = 1.0,
                             analyzer: graft.analysis.AnalyzerSpec =
                               graft.analysis.AnalyzerSpec.Standard,
                             ftype: FieldType = TextType) {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad field name: $name")
    def effectiveAnalyzer: graft.analysis.AnalyzerSpec =
      if (ftype == TextType) analyzer else graft.analysis.AnalyzerSpec.Keyword
  }

  def fieldDir(root: String, name: String): String = s"$root/fields/$name"

  /** build every field's index (one full single-field build per field over
    * the field's derived corpus; at 10^12-doc scale the analyze passes
    * could share one corpus scan — a per-field generator split — but each
    * pass here stays a one-scan pipeline already) */
  def build(spark: SparkSession, corpus: Dataset[CorpusRow], root: String,
            fields: Seq[FieldSpec], cfg: IndexConfig = IndexConfig()): Map[String, BuildReport] = {
    import spark.implicits._
    require(fields.nonEmpty && fields.map(_.name).distinct.size == fields.size)
    fields.map { f =>
      val ex = f.extract
      val ft = f.ftype
      // typed fields index the sortable encoding; an unencodable value
      // leaves the field absent for that doc (empty -> zero keyword tokens)
      val derived = corpus.map(r => CorpusRow(r.repo, r.path, r.commit, r.lang,
        if (ft == TextType) ex(r)
        else FieldTypes.encodeValue(ft, ex(r)).getOrElse("")))
      f.name -> IndexBuilder.build(spark, derived, fieldDir(root, f.name),
        cfg.copy(analyzer = f.effectiveAnalyzer))
    }.toMap
  }

  /** tombstone docIds across every field index (a document deletes whole) */
  def delete(spark: SparkSession, root: String, fields: Seq[FieldSpec],
             ids: Seq[Long]): Unit =
    fields.foreach(f => Deletes.add(spark, fieldDir(root, f.name), ids))
}
