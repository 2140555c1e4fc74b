package graft.model

/** Row shapes of the build pipeline (SURVEY.md §1.3): corpus -> stamped docs
  * -> analyzed docs -> postings -> encoded posting-list rows -> segments. */

/** the authoritative input shape (BASELINE.json:15 input_hint) */
final case class CorpusRow(repo: String, path: String, commit: String,
                           lang: String, content: String)

/** corpus row stamped with the deterministic dense docId (decision D1) and
  * the per-row sha256(content) invariant (BASELINE.json:15) */
final case class Doc(docId: Long, repo: String, path: String, commit: String,
                     lang: String, content: String, sha: String)

/** one tokenized document: everything both downstream consumers (docstats +
  * postings) need, so the analysis chain runs exactly once per doc; term
  * stats are packed into a binary blob (TermsBlob) to keep persist +
  * shuffle encoding cheap */
final case class AnalyzedDoc(segId: Int, docId: Long, repo: String, path: String,
                             commit: String, lang: String, sha: String,
                             rawLen: Int, lenByte: Int, blob: Array[Byte])

/** per-doc sidecar row: stored-field keys + stats + sha invariant */
final case class DocStat(segId: Int, docId: Long, repo: String, path: String,
                         commit: String, lang: String, sha: String,
                         rawLen: Int, lenByte: Int)

/** map-side partial posting list: one encoded docId-sorted run per
  * (source partition, segment, term) — the salt of the two-phase salted
  * aggregation is the source-partition id (G2: a term hot across a whole
  * segment still arrives as bounded-size runs from each input split) */
final case class Run(segId: Int, term: String, salt: Int, df: Int, maxTf: Int,
                     cf: Long, blocks: Array[Byte])

/** final per-(segment, term) posting-list row, written term-sorted; `cf` =
  * the list's collection frequency (sum of tf), aggregated into the lexicon */
final case class SegRow(segId: Int, term: String, df: Int, maxTf: Int,
                        cf: Long, blocks: Array[Byte])

/** read-back shape (segId comes last as the partition column) */
final case class SegRead(term: String, df: Int, maxTf: Int,
                         blocks: Array[Byte], segId: Int)

/** global lexicon row: term -> corpus-wide document frequency, collection
  * frequency (total term weight, the Bo1 expansion-model input), and max
  * term frequency ([W] whoosh TermInfo max_weight — the driver-side query
  * score upper bound: w.upperBound(idf(df), maxTf) needs no segment read) */
final case class LexRow(term: String, df: Long, cf: Long, maxTf: Long)

/** per-segment manifest (SURVEY.md S5): lineage + row-count/digest metrics
  * (folded by the tasks that wrote its files, `SegmentFacts`, one rule for
  * every writer), one line of the index's commit record (stats.json) per
  * live segment — the checkpoint unit for resumable builds.
  *
  * `covers` = the ORIGINAL build-layout segIds whose docId ranges this
  * segment contains (transitive through merges) — resume treats every
  * covered segId as built, so a compacted index never re-ingests merged
  * ranges. `source` names the writer: `corpus` for a build or append, or
  * `merge(a,b,...)` with the group a merge replaced.
  *
  * `files` / `docstats` = the segment's parquet files (name, bytes) in its
  * segments/ and docstats/ dirs, as its writer listed them when it staged
  * them: every reader finds the segment's rows through these lists.
  * `deletes` = its tombstone files (name, bytes) in the flat deletes/ dir,
  * each written once (Deletes); `inLexicon` = the record's lexicon holds
  * its term stats (else it is part of the delta lexicon). */
final case class SegmentManifest(segId: Int, docLo: Long, docHi: Long,
                                 docCount: Long, rawLenSum: Long,
                                 postingRows: Long, postingBytes: Long,
                                 digest: String, source: String,
                                 files: Seq[(String, Long)],
                                 docstats: Seq[(String, Long)],
                                 covers: Seq[Int] = Seq.empty,
                                 deletes: Seq[(String, Long)] = Seq.empty,
                                 inLexicon: Boolean = false) {
  def coverSet: Seq[Int] = if (covers.isEmpty) Seq(segId) else covers
}

/** The lexicon's parquet files (name, bytes) in the flat lexicon/ and
  * lexgrams/ dirs, as the record's header names them. */
final case class LexiconFiles(lexicon: Seq[(String, Long)], lexgrams: Seq[(String, Long)])

/** The index's commit record (stats.json): its stats header, the lexicon
  * the header names (None: a multi-batch build that has not written it
  * yet), and one line per live segment. */
final case class Record(stats: IndexStats, lexicon: Option[LexiconFiles],
                        segments: Seq[SegmentManifest])

final case class IndexStats(numDocs: Long, totalFieldLen: Long,
                            numSegments: Int, segSize: Int,
                            analyzer: String = "standard|lower|stop(2)",
                            formatVersion: Int = IndexStats.CurrentFormat)

object IndexStats {
  /** On-disk layout version, stamped into stats.json and checked at
    * Searcher.open (round-5 advice: a pre-D14 index opened by current code
    * silently returned empty `*`/NOT results and only failed later on the
    * missing lexicon maxTf column — now it fails fast with a clear error).
    * History: <=6 unstamped (v6 = persisted pseudo rows + lexicon maxTf);
    * 7 = v6 + the optional LSM delta-lexicon dir (lexdeltas) and TOC cache;
    * 8 = segment-backed deltas: appends write no lexicon, the base lexicon
    * carries a covers marker file and readers fold it with the uncovered
    * segments' own term stats (a v7 index may hold pending lexdeltas this
    * reader would not count, so it must be rebuilt);
    * 9 = one commit record: stats.json lists the live segments after its
    * header, and the per-segment manifests/ dir and the toc.json cache are
    * gone (a v8 index keeps its segment set in files this reader ignores);
    * 10 = every segment line lists its posting and docstats files, and
    * readers find the rows through those lists only (a v9 line may lack
    * them, and nothing lists a segment dir to make up for it);
    * 11 = the record names every live file: each line lists its tombstone
    * files and whether the lexicon holds it, the header the lexicon's and
    * the gram sidecar's files, so no reader lists a dir (a v10 index keeps
    * its tombstones in range files and its lexicon coverage in a marker
    * file this reader ignores). */
  final val CurrentFormat = 11
}
