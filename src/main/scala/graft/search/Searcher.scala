package graft.search

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, sources}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.build.IndexBuilder
import graft.model.{LexRow, SegmentManifest}

/** Distributed BM25 top-k search over the segmented index (SURVEY.md §3.2).
  *
  * ONE query core serves every search entry point, single- and multi-field
  * alike: it works on a map from field name to IndexHandle plus a default
  * field (`Fields`). A single-field index is a schema with one field,
  * `Map(Q.DefaultField -> handle)`; MultiFieldSearcher calls the same core
  * with its schema's handles after applying boosts and typed encoding.
  *
  * Query path — deliberately shuffle-light (the p95 lever):
  *  1. driver: parse + analyze the query, expand multiterm nodes against
  *     their field's lexicon, resolve Otherwise nodes (`prepare`);
  *  2. per field, one pruned lexicon lookup for the <=|terms| global dfs
  *     (term-sorted parquet -> pushed `term IN (...)` prunes row groups).
  *     It reads the base lexicon plus the own term stats of segments
  *     appended since the last fold, and sums a term's rows on the driver:
  *     one job and no exchange either way;
  *  3. the per-segment runner (`perSegment`): one task per group of whole
  *     segments reads each segment's recorded files for the query terms'
  *     posting rows (pushed `term IN` prunes row groups and pages; `content`
  *     never read), folds them into field-keyed lists one segment at a
  *     time, and runs the kernel (block-max WAND) -> k rows per segment;
  *  4. driver/TakeOrdered merge of numSegments x k tiny rows, tie rule D4.
  *
  * One physical shape for every layout and every field count, like Whoosh's
  * one reader per segment combined above it ([W] whoosh/reading.py
  * SegmentReader/MultiReader): a segment is whole in one task by
  * construction, so no query ever exchanges posting rows.
  */
object Searcher {

  final case class SearchHit(docId: Long, score: Double)

  /** Opened once per index: corpus stats and the live segments with their
    * files and tombstone files (`manifests`) from the commit record, the
    * lexicon relations over the files its header names, the relations over
    * the segment files (built once, on first use), and a df memo (the
    * index is immutable under a handle). The tombstones themselves are
    * loaded per segment INSIDE the kernel, never collected to the driver.
    *
    * Lexicon: `lexiconBase` is the lexicon, `lexDelta` the term stats of
    * the live segments outside it (appended since the last fold;
    * IndexBuilder.writeLexicon). `lexiconRows` is their union, one row
    * per (source, term) — pruned lookups sum it on the driver (termDfs,
    * termStats); `lexicon` is the grouped one-row-per-term view, for scans
    * (multiterm expansion, suggest, key terms, reader stats). With no
    * deltas all three are the bare lexicon scan.
    *
    * SNAPSHOT SEMANTICS: a handle reads only the files its record named —
    * segments, docstats, tombstones and lexicon — and every file is
    * written once, so later deletes, upserts and appends do not change its
    * answers. Merges, folds and lexicon rebuilds delete the files their
    * new record no longer names, so a query, lookup or facet through a
    * handle opened before one fails with an error that names the missing
    * file (the reference behaves the same: searchers are reopened after
    * optimize). At cluster scale, leave superseded files in place until
    * readers drain before GC'ing them. */
  final class IndexHandle(val indexDir: String, val stats: BM25.CorpusStats,
                          val segSize: Int,
                          /** the record's live segments, with their files */
                          val manifests: Seq[SegmentManifest],
                          val lexiconBase: DataFrame,
                          val chain: graft.analysis.Chain,
                          val lexgrams: DataFrame,
                          val lexDelta: Option[DataFrame]) {
    def hasDeletes: Boolean = manifests.exists(_.deletes.nonEmpty)
    val liveSegIds: Seq[Int] = manifests.map(_.segId)
    /** every query runs with no exchange below the kernel (one path) */
    val segColocated: Boolean = true
    /** posting rows (tools and measurement; queries read via perSegment) */
    lazy val segments: DataFrame =
      IndexBuilder.segmentRows(lexiconBase.sparkSession, indexDir, manifests)
    /** docstats rows: every stored-field lookup, facet and sort key */
    lazy val docstats: DataFrame =
      IndexBuilder.docstatsRows(lexiconBase.sparkSession, indexDir, manifests)
    val lexiconRows: DataFrame = lexDelta.fold(lexiconBase)(lexiconBase.unionByName(_))
    val lexicon: DataFrame =
      if (lexDelta.isEmpty) lexiconBase else IndexBuilder.aggregateLexicon(lexiconRows)
    private[search] val dfCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  }

  /** Open an index from its commit record: stats, live segments, their
    * files and tombstone files and the lexicon's files come from ONE read
    * of stats.json; open writes nothing, lists no dir and reads no other
    * file (a corrupt one fails only the queries that read it), and starts
    * no job. */
  def open(spark: SparkSession, indexDir: String): IndexHandle = {
    val fs = FileSystem.get(new java.net.URI(indexDir),
      spark.sparkContext.hadoopConfiguration)
    // Fail FAST on a foreign layout (round-5 advice): an older index would
    // silently answer wrong (a v10 record names no tombstone or lexicon
    // file, which this reader never looks for elsewhere), so it asks for a
    // rebuild.
    val rec = IndexBuilder.readRecord(fs, indexDir)
    // a multi-batch build commits after every batch and names the lexicon
    // last: segments without a lexicon are an unfinished build
    val lex = IndexBuilder.lexiconOf(rec, indexDir)
    // LSM lexicon: the lexicon plus the term stats of the live segments
    // outside it (appended since the last fold), read from their recorded
    // files (IndexBuilder.segmentLexicon)
    val deltas = rec.segments.filterNot(_.inLexicon)
    val (lexicon, lexgrams) = IndexBuilder.lexiconTables(spark, indexDir, lex)
    new IndexHandle(indexDir, BM25.CorpusStats(rec.stats.numDocs, rec.stats.totalFieldLen),
      rec.stats.segSize, rec.segments, lexicon,
      new graft.analysis.Chain(graft.analysis.AnalyzerSpec.fromString(rec.stats.analyzer)),
      lexgrams, Option.when(deltas.nonEmpty)(IndexBuilder.segmentLexicon(spark, indexDir, deltas)))
  }

  /** Multiterm expansion against the global lexicon: matching terms in
    * ascending order, capped at QMulti.MaxExpand. Three scan regimes, best
    * first:
    *  1. prefix-narrowed (pushed StartsWith prunes row groups on the
    *     term-sorted lexicon) — prefix/anchored-wildcard/range;
    *  2. gram-pruned: unprefixed fuzzy/wildcard probe the 3-gram sidecar
    *     (pushed gram IN (...)), superset-guaranteed — a fuzzy within d
    *     edits of t shares a 3-gram of t when len(t) >= 3d + 3; a wildcard
    *     match contains every gram of its longest literal run;
    *  3. full lexicon pass — only for terms too short for the guarantee. */
  private[graft] def scanMulti(spark: SparkSession, handle: IndexHandle,
                               mq: QMulti): Seq[String] = {
    import spark.implicits._
    val finish: DataFrame => Seq[String] = df =>
      df.orderBy($"term").limit(QMulti.MaxExpand)
        .select($"term").as[String].collect().toSeq

    def gramProbe(grams: Seq[String]): Option[DataFrame] =
      Option.when(grams.nonEmpty)(gramTerms(handle, grams))

    mq match {
      case v: QVariations => // D16: a small enumerated set -> pushed IN
        finish(handle.lexicon.filter($"term".isin(v.candidates.toSeq: _*)))
      case QRange(lo, hi, _, _, minI, maxI) =>
        var df = handle.lexicon
        if (lo != null) df = df.filter(if (minI) $"term" >= lo else $"term" > lo)
        if (hi != null) df = df.filter(if (maxI) $"term" <= hi else $"term" < hi)
        finish(df)
      case _: QPrefix =>
        finish(handle.lexicon.filter($"term".startsWith(mq.scanPrefix)))
      case w: QWildcard =>
        val base =
          if (w.scanPrefix.nonEmpty) handle.lexicon.filter($"term".startsWith(w.scanPrefix))
          else {
            val runs = w.pattern.split("[*?]+").filter(_.length >= 3)
            val longest = if (runs.isEmpty) "" else runs.maxBy(_.length)
            gramProbe(IndexBuilder.grams3(longest).toSeq).getOrElse(handle.lexicon)
          }
        finish(base.filter($"term".rlike("^" + w.regexStr + "$")))
      case QFuzzy(t, d, _, _) =>
        val base =
          if (t.length >= 3 * d + 3)
            gramProbe(IndexBuilder.grams3(t).toSeq).getOrElse(handle.lexicon)
          else handle.lexicon
        finish(base.filter(levenshtein($"term", lit(t)) <= d))
    }
  }

  /** The distinct candidate terms sharing one of `grams`: the gram
    * sidecar's pruned probe, plus every term of the delta segments (the
    * sidecar holds only the lexicon's terms; the delta's term set is
    * tail-sized, and every caller filters candidates exactly). */
  private def gramTerms(handle: IndexHandle, grams: Seq[String]): DataFrame = {
    val probed = handle.lexgrams.filter(col("gram").isin(grams: _*)).select(col("term"))
    handle.lexDelta.fold(probed)(d => probed.unionByName(d.select(col("term")))).distinct()
  }

  /** Spelling suggestions (Whoosh `Searcher.suggest`): lexicon terms within
    * `maxDist` edits of `word`, ranked (distance asc, df desc, term asc) —
    * common corpus terms first among equally-close candidates. Reuses the
    * fuzzy scan machinery: gram-pruned when the 3-gram sidecar guarantees
    * coverage, full lexicon pass otherwise; the lexicon is term-count-sized,
    * never corpus-sized. */
  def suggest(spark: SparkSession, handle: IndexHandle, word: String,
              k: Int = 5, maxDist: Int = 2): Seq[(String, Int, Long)] = {
    import spark.implicits._
    val w = word.toLowerCase(java.util.Locale.ROOT)
    val base =
      if (w.length >= 3 * maxDist + 3)
        handle.lexicon.join(gramTerms(handle, IndexBuilder.grams3(w).toIndexedSeq), Seq("term"))
      else handle.lexicon
    base
      .filter(abs(length($"term") - lit(w.length)) <= maxDist)
      .filter(levenshtein($"term", lit(w)) <= maxDist)
      .select($"term", levenshtein($"term", lit(w)).as("dist"),
        $"df".cast("long").as("df"))
      .orderBy($"dist".asc, $"df".desc, $"term".asc)
      .limit(k)
      .as[(String, Int, Long)]
      .collect().toSeq
  }

  /** Query correction ([W] whoosh/searching.py `correct_query`, decision
    * D13): every term of the parsed query that is NOT in the lexicon
    * (df 0) is replaced by its top spelling suggestion (distance asc,
    * df desc, term asc — the `suggest` ranking); terms with no suggestion
    * within `maxDist` stay as-is. Terms inside phrases are corrected too;
    * multiterm/Every nodes are untouched. Cost: one pruned df lookup plus
    * one suggest scan per unknown term (lexicon-sized, never corpus-sized). */
  def correctQuery(spark: SparkSession, handle: IndexHandle, query: String,
                   maxDist: Int = 2): Q = {
    val q0 = parse(handle, query)
    val dfs = termDfs(spark, handle, q0.terms)
    val unknown = dfs.collect { case (t, 0L) => t }.toSet
    if (unknown.isEmpty) return q0
    val repl: Map[String, String] = unknown.iterator.map { t =>
      t -> suggest(spark, handle, t, 1, maxDist).headOption.map(_._1).getOrElse(t)
    }.toMap
    def rec(q: Q): Q = q match {
      case t: QTerm if repl.contains(t.term) => t.copy(term = repl(t.term))
      case p: QPhrase =>
        p.copy(ts = p.ts.map { case (t, o) => (repl.getOrElse(t, t), o) })
      case other => other.mapChildren(rec)
    }
    rec(q0)
  }

  /** The lexicon rows of `terms`, base and delta alike: one pruned
    * `term IN` scan, ONE job and no exchange (no groupBy); callers sum a
    * term's rows on the driver. */
  private def lexRowsOf(spark: SparkSession, handle: IndexHandle,
                        terms: Set[String]): Array[LexRow] = {
    import spark.implicits._
    handle.lexiconRows.filter($"term".isin(terms.toSeq: _*)).as[LexRow].collect()
  }

  /** global df for the query's terms: one pruned lexicon scan for the
    * not-yet-cached terms (a term absent from the lexicon has df 0 and is
    * cached as such so it's never re-fetched) */
  def termDfs(spark: SparkSession, handle: IndexHandle, terms: Set[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    val missing = terms.filterNot(handle.dfCache.containsKey)
    if (missing.nonEmpty) {
      val fetched = lexRowsOf(spark, handle, missing).groupMapReduce(_.term)(_.df)(_ + _)
      missing.foreach(t => handle.dfCache.put(t, Long.box(fetched.getOrElse(t, 0L))))
    }
    terms.iterator.map(t => t -> handle.dfCache.get(t).longValue()).toMap
  }

  /** Global per-term stats from the lexicon ([W] whoosh/reading.py
    * TermInfo: doc_frequency, frequency, max_weight): one pruned IN
    * lookup. `upperBound(w)` = the term's corpus-wide score ceiling
    * w.upperBound(idf(df), maxTf) — driver-side query bound math with no
    * segment read (e.g. ordering OR terms, or skipping terms that cannot
    * reach a threshold). */
  final case class TermStats(df: Long, cf: Long, maxTf: Long) {
    def upperBound(w: Weighting, numDocs: Long): Double =
      if (df == 0) 0.0 else w.upperBound(w.idf(df, numDocs), maxTf.toInt)
  }
  def termStats(spark: SparkSession, handle: IndexHandle,
                terms: Set[String]): Map[String, TermStats] =
    if (terms.isEmpty) Map.empty
    else lexRowsOf(spark, handle, terms).groupMapReduce(_.term)(
      l => TermStats(l.df, l.cf, l.maxTf))((a, b) =>
      TermStats(a.df + b.df, a.cf + b.cf, math.max(a.maxTf, b.maxTf)))

  /** The query core's view of an index: one IndexHandle per field plus the
    * default field, whose handle serves the all-docs list of a bare `*` and
    * the tombstones (field indexes share one docId space and one deletes
    * set). A single-field index is the one-field case `single(handle)`;
    * MultiFieldSearcher passes its schema's handles after its own rewrites. */
  private[search] final case class Fields(handles: Map[String, IndexHandle],
                                          default: String) {
    def defaultHandle: IndexHandle = handles(default)
    /** total: a node on an unknown field scores nothing, but phrase matcher
      * construction reads the field's stats before the lists miss shows */
    def statsOf: Map[String, BM25.CorpusStats] =
      handles.map { case (f, h) => f -> h.stats }
        .withDefaultValue(BM25.CorpusStats(0, 0))
  }
  private def single(handle: IndexHandle): Fields =
    Fields(Map(Q.DefaultField -> handle), Q.DefaultField)

  private def parse(handle: IndexHandle, query: String): Q =
    QueryParser.parse(query, chainOf = _ => handle.chain)

  /** multiterm expansion: one pruned scan per node against the NODE'S
    * field's lexicon (scanMulti); a field without a handle expands to
    * nothing */
  private def expand(spark: SparkSession, fs: Fields, q: Q): Q =
    if (!q.hasPrefix) q
    else QueryRewrite.expandPrefixes(q, mq =>
      fs.handles.get(mq.field).map(scanMulti(spark, _, mq)).getOrElse(Seq.empty))

  private def matchesNothing(q: Q): Boolean =
    q == QEmpty || (q.terms.isEmpty && !q.hasEvery)

  /** Query preparation, shared by every kernel entry point: expand
    * multiterm nodes, resolve Otherwise nodes, apply the Every-aware
    * emptiness rule. None = the query can match nothing. */
  private def prepare(spark: SparkSession, fs: Fields, q0: Q): Option[Q] =
    Some(resolveOtherwise(spark, fs, expand(spark, fs, q0))).filterNot(matchesNothing)

  /** Resolve Otherwise nodes ([W] whoosh qcore.Otherwise — round-5, pinned
    * GLOBAL semantics): use `a` iff it matches anywhere in the INDEX, else
    * `b`. Resolved driver-side with one bounded existence probe per node —
    * per-segment resolution would answer from different branches in
    * different segments. */
  private def resolveOtherwise(spark: SparkSession, fs: Fields, q: Q): Q = {
    def rec(q: Q): Q = q match {
      case QOtherwise(a, b) =>
        val ar = rec(a)
        if (hasAnyMatch(spark, fs, ar)) ar else rec(b)
      case other => other.mapChildren(rec)
    }
    rec(q)
  }

  /** Does ANY document match q? One pruned kernel pass, lazily stopped at
    * the first match per segment (allMatches iterator take(1)) and at the
    * first matching segment (CollectLimit) — the Otherwise probe. */
  private def hasAnyMatch(spark: SparkSession, fs: Fields, q: Q): Boolean =
    !matchesNothing(q) && {
      import spark.implicits._
      val statsOf = fs.statsOf
      perSegment[Long](spark, fs, q.fieldTerms, q.everyFields,
        fieldDfs(spark, fs, q.fieldTerms)) { (lists, deleted) =>
        Kernel.allMatches(q, lists, statsOf, deleted).take(1)
      }.head(1).nonEmpty
    }

  /** global dfs of (field, term) pairs, keyed `Kernel.key(field, term)`:
    * one pruned, memoized lexicon lookup per field (termDfs) */
  private def fieldDfs(spark: SparkSession, fs: Fields,
                       fieldTerms: Set[(String, String)]): Map[String, Long] =
    fieldTerms.groupBy(_._1).flatMap { case (f, pairs) =>
      fs.handles.get(f).iterator.flatMap(h =>
        termDfs(spark, h, pairs.map(_._2)).iterator.map { case (t, d) =>
          Kernel.key(f, t) -> d
        })
    }

  /** Executor-side tombstone probe for one segment: loads only the
    * tombstone files the segment's record line lists (the handle's), opened
    * through the session's Hadoop conf — no tombstone set ever rides the
    * driver or a closure. None: the index has no deletes. */
  private def tombstoneProbe(deletes: Option[(Map[Int, SegmentManifest], SerializableConfiguration)],
                             indexDir: String, segId: Int): Long => Boolean =
    deletes.flatMap { case (lines, conf) =>
      lines.get(segId).map { m =>
        val tomb = graft.build.Deletes.ofLine(
          FileSystem.get(new java.net.URI(indexDir), conf.value), indexDir, m)
        (id: Long) => java.util.Arrays.binarySearch(tomb, id) >= 0
      }
    }.getOrElse(Kernel.NoDeletes)

  /** The per-segment runner, the one place a query meets the segments.
    *
    * Each field with something to read contributes its query terms plus
    * the match-all pseudo rows the query needs. The pseudo lists are
    * PERSISTED per segment at build time (decision D14) as two reserved-term
    * rows, so `*` / `NOT x` / `field:*` read a handful of pruned posting
    * rows, never docstats. Rows fold into the segment's kernel list map
    * under `Kernel.rowKey(field, term)`: a real term as (field, term), the
    * all-docs row as ("", EveryTerm) for a bare `*` (read from the default
    * field only), a field's non-empty row as (field, EveryTerm) for
    * `field:*`. Duplicate rows of a key k-way-merge (mergeList); df is the
    * global one from `dfs`. Then `f` produces the segment's output rows,
    * with the executor-side tombstone probe. The closure captures only
    * plain locals (never a handle), so it stays serialization-clean.
    *
    * One physical shape: an RDD with one partition per group of WHOLE
    * segments (`segmentGroups`). A task reads every recorded file of a
    * segment, for every field read, with Spark's own parquet reader
    * (vectorized decode; the pushed `term IN` prunes row groups and pages),
    * folds that segment's rows, emits its output, then reads the next: task
    * memory is bounded by its largest segment, and no layout, file or field
    * count needs an exchange. Output reaches Catalyst via `createDataset`. */
  private def perSegment[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, fs: Fields, fieldTerms: Set[(String, String)],
      everyFields: Set[String], dfs: Map[String, Long])(
      f: (Map[String, Kernel.TermList], Long => Boolean) => Iterator[T]): Dataset[T] = {
    val reads: Map[String, Set[String]] = fs.handles.keys.iterator.map { field =>
      field -> (fieldTerms.collect { case (`field`, t) => t } ++
        Option.when(field == fs.default && everyFields(""))(Q.EveryTerm) ++
        Option.when(everyFields(field))(Q.EveryNonEmptyTerm))
    }.filter(_._2.nonEmpty).toMap
    val groups = segmentGroups(spark, reads.keys.toSeq.sorted.map(f => f -> fs.handles(f)))
    if (groups.isEmpty) return spark.emptyDataset[T]
    val fileSchema = StructType(IndexBuilder.SegmentsSchema.dropRight(1)) // segId: the dir
    val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, fileSchema, StructType(Nil),
        StructType(fileSchema.filter(_.name != "cf")),
        Seq(sources.In("term", reads.values.flatten.toSet.toArray[Any])),
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val deletes = Some(fs.defaultHandle.manifests.filter(_.deletes.nonEmpty)
        .map(m => m.segId -> m).toMap).filter(_.nonEmpty)
      .map(_ -> new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val dirLocal = fs.defaultHandle.indexDir
    implicit val tag: scala.reflect.ClassTag[T] = implicitly[org.apache.spark.sql.Encoder[T]].clsTag
    spark.createDataset(spark.sparkContext.parallelize(groups, groups.size)
      .flatMap(_.iterator.flatMap { case (segId, files) =>
        val lists = scala.collection.mutable.HashMap.empty[String, Kernel.TermList]
        files.foreach { case (field, path, bytes) =>
          // the pushed IN prunes row groups and pages, not rows: match each
          // row's term bytes, and decode only the rows the query reads
          val terms = reads(field).map(UTF8String.fromString)
          try read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L,
              bytes, Array.empty, 0L, bytes)).foreach { r =>
            val term = r.getUTF8String(0)
            if (terms(term)) {
              val key = Kernel.rowKey(field, term.toString)
              Kernel.mergeList(lists, key, Kernel.TermList(r.getBinary(3), r.getInt(2),
                dfs.getOrElse(key, r.getInt(1).toLong)))
            }
          } catch {
            case e: java.io.FileNotFoundException => throw new IllegalStateException(
              s"segment $segId: $path is gone — the index changed since this handle was " +
                "opened (a merge or compaction replaced the segment); reopen it with " +
                "Searcher.open", e)
          }
        }
        if (lists.isEmpty) Iterator.empty
        else f(lists.toMap, tombstoneProbe(deletes, dirLocal, segId))
      }))
  }

  /** The tasks of a query that reads the given (field, handle)s: whole
    * segments, each with its recorded (field, file, bytes) over the fields,
    * packed largest-first by bytes into at most `defaultParallelism` groups
    * (each into the one with the fewest bytes so far), segId order within. */
  private[graft] def segmentGroups(spark: SparkSession, handles: Seq[(String, IndexHandle)])
      : Seq[Seq[(Int, Seq[(String, String, Long)])]] = {
    val segs = handles.flatMap { case (field, h) =>
      h.manifests.flatMap { m =>
        val dir = s"${IndexBuilder.segmentsDir(h.indexDir)}/segId=${m.segId}"
        m.files.map { case (name, bytes) => m.segId -> ((field, s"$dir/$name", bytes)) }
      }
    }.groupMap(_._1)(_._2).toSeq
    val slots = math.min(segs.size, spark.sparkContext.defaultParallelism)
    val groups = Array.fill(slots)(Vector.empty[(Int, Seq[(String, String, Long)])])
    val load = new Array[Long](slots)
    segs.sortBy { case (id, files) => (-files.map(_._3).sum, id) }.foreach { seg =>
      val i = load.indices.minBy(load(_))
      groups(i) :+= seg
      load(i) += seg._2.map(_._3).sum
    }
    groups.toSeq.map(_.sortBy(_._1))
  }

  /** ALL docIds matching a query — the delete-by-query feed: same pruned
    * scan and per-segment kernel as searchQ, but every match is emitted
    * (no top-k heap, no global sort, nothing driver-side). */
  def matchingIds(spark: SparkSession, handle: IndexHandle,
                  query: String): Dataset[Long] = {
    import spark.implicits._
    val fs = single(handle)
    prepare(spark, fs, parse(handle, query)) match {
      case None => spark.emptyDataset[Long]
      case Some(q) =>
        val statsOf = fs.statsOf
        perSegment[Long](spark, fs, q.fieldTerms, q.everyFields,
          fieldDfs(spark, fs, q.fieldTerms)) {
          (lists, deleted) => Kernel.allMatches(q, lists, statsOf, deleted)
        }
    }
  }

  /** every match WITH its score — the collapse/grouping feed (same pruned
    * scan as matchingIds; no top-k heap, nothing driver-side) */
  def scoredMatches(spark: SparkSession, handle: IndexHandle,
                    query: String,
                    weighting: Weighting = BM25Weighting): Dataset[SearchHit] = {
    import spark.implicits._
    val fs = single(handle)
    prepare(spark, fs, parse(handle, query)) match {
      case None => spark.emptyDataset[SearchHit]
      case Some(q) =>
        val statsOf = fs.statsOf
        val w = weighting
        perSegment[SearchHit](spark, fs, q.fieldTerms, q.everyFields,
          fieldDfs(spark, fs, q.fieldTerms)) { (lists, deleted) =>
          Kernel.allScored(q, lists, statsOf, deleted, w)
            .map(h => SearchHit(h.docId, h.score))
        }
    }
  }

  /** Field collapsing ([W] whoosh/collectors.py `collapse`): only the
    * best-scoring hit per value of a stored field survives, then the
    * global top-k. One kernel match pass, one docId join against
    * docstats, one window per collapse key — content never read. Ties
    * pinned (score desc, docId asc) at both levels. */
  def searchCollapsed(spark: SparkSession, handle: IndexHandle, query: String,
                      field: String, k: Int = 10,
                      weighting: Weighting = BM25Weighting): DataFrame = {
    import spark.implicits._
    val hits = scoredMatches(spark, handle, query, weighting).toDF()
    val joined = handle.docstats
      .select(col("docId"), col(field))
      .join(hits, Seq("docId"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(field)).orderBy(col("score").desc, col("docId").asc)
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Which of the query's terms matched each of the given docs ([W]
    * whoosh Results.matched_terms, the `terms=True` surface): one pruned
    * scan of the query terms' posting rows, then a forward cursor probe of
    * the (sorted, <=k) requested ids per segment — bounded by
    * |terms| x segments rows, nothing corpus-sized. Returns (docid, term)
    * pairs; multiterm nodes expand first, so `s*` reports the concrete
    * matched expansions. */
  def matchedTerms(spark: SparkSession, handle: IndexHandle, query: String,
                   docIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    val fs = single(handle)
    // positive branches only: a NOT's negative side never causes a match
    val fieldTerms = expand(spark, fs, parse(handle, query)).positiveFieldTerms
    if (fieldTerms.isEmpty || docIds.isEmpty)
      return spark.emptyDataset[(Long, String)].toDF("docid", "term")
    val ids = docIds.distinct.sorted.toArray
    val keys = fieldTerms.toSeq.map { case (f, t) => Kernel.key(f, t) -> t }
    perSegment[(Long, String)](spark, fs, fieldTerms, Set.empty, Map.empty) {
      (lists, _) =>
        keys.iterator.flatMap { case (key, term) =>
          lists.get(key).iterator.flatMap { tl =>
            val cur = new graft.codec.PostingsCodec.TermCursor(tl.bytes)
            ids.iterator.flatMap { id =>
              cur.skipTo(id)
              if (cur.docId == id) Some((id, term)) else None
            }
          }
        }
    }
      .toDF("docid", "term")
  }

  /** top-k hits as a Dataset (k rows), rank-identical to RefModel.
    * `weighting` selects the scoring model (reference surface:
    * search_documents(..., weighting=...); BM25 is the pinned default). */
  def search(spark: SparkSession, handle: IndexHandle, query: String, k: Int = 10,
             prune: Boolean = true,
             weighting: Weighting = BM25Weighting): Dataset[SearchHit] =
    searchQ(spark, handle, parse(handle, query), k, prune, weighting)

  def searchQ(spark: SparkSession, handle: IndexHandle, q0: Q, k: Int,
              prune: Boolean = true,
              weighting: Weighting = BM25Weighting): Dataset[SearchHit] =
    searchFields(spark, single(handle), q0, k, prune, weighting)

  /** top-k over field-keyed lists: per-segment kernel top-k, then the
    * global top-k — Catalyst plans TakeOrderedAndProject over the tiny
    * per-segment candidate set */
  private[search] def searchFields(spark: SparkSession, fs: Fields, q0: Q, k: Int,
                                   prune: Boolean,
                                   weighting: Weighting): Dataset[SearchHit] = {
    import spark.implicits._
    prepare(spark, fs, q0) match {
      case None => spark.emptyDataset[SearchHit]
      case Some(q) =>
        val statsOf = fs.statsOf
        val kLocal = k
        val pruneLocal = prune
        val wLocal = weighting
        perSegment[SearchHit](spark, fs, q.fieldTerms, q.everyFields,
          fieldDfs(spark, fs, q.fieldTerms)) { (lists, deleted) =>
          Kernel.topKMulti(q, lists, statsOf, kLocal, pruneLocal, deleted, wLocal)
            .iterator.map(h => SearchHit(h.docId, h.score))
        }.orderBy($"score".desc, $"docId".asc).limit(k)
    }
  }

  /** Batch search: evaluate MANY queries in ONE Spark job — the serving-
    * throughput shape. The measured per-job scheduling floor (~180 ms,
    * BENCH/BASELINE.md) is paid once for the whole batch: one pruned
    * lexicon lookup for the UNION of all queries' terms, one pruned
    * segment scan for that union, one kernel pass per segment evaluating
    * every query against the already-built term lists, then a per-query
    * top-k window over the tiny (queries x segments x k) candidate set.
    * Returns (qid, docId, score), k rows per query, same rank/tie
    * semantics as `search`. */
  def searchMany(spark: SparkSession, handle: IndexHandle,
                 queries: Seq[(String, String)], k: Int = 10,
                 prune: Boolean = true,
                 weighting: Weighting = BM25Weighting): DataFrame = {
    import spark.implicits._
    val fs = single(handle)
    val parsed: Seq[(String, Q)] = queries.flatMap { case (qid, qs) =>
      prepare(spark, fs, parse(handle, qs)).map(qid -> _)
    }
    if (parsed.isEmpty)
      return spark.emptyDataset[(String, Long, Double)].toDF("qid", "docId", "score")

    val fieldTerms = parsed.iterator.flatMap(_._2.fieldTerms).toSet
    val statsOf = fs.statsOf
    val kLocal = k
    val pruneLocal = prune
    val wLocal = weighting
    val parsedLocal = parsed
    // ONE pruned lexicon lookup and ONE segment scan for the batch
    val perSeg = perSegment[(String, Long, Double)](spark, fs, fieldTerms,
      parsed.iterator.flatMap(_._2.everyFields).toSet,
      fieldDfs(spark, fs, fieldTerms)) { (lists, deleted) =>
      parsedLocal.iterator.flatMap { case (qid, q) =>
        Kernel.topKMulti(q, lists, statsOf, kLocal, pruneLocal, deleted, wLocal)
          .iterator.map(h => (qid, h.docId, h.score))
      }
    }
      .toDF("qid", "docId", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"score".desc, $"docId".asc)
    perSeg.withColumn("rn", row_number().over(w))
      .filter($"rn" <= kLocal).drop("rn")
  }

  /** reader stats over the lexicon ([W] whoosh/reading.py
    * `most_frequent_terms` / `most_distinctive_terms`): top terms by
    * collection frequency, and by cf * idf (the pinned idf form). Lexicon-
    * sized scans; nothing touches postings. */
  def mostFrequentTerms(spark: SparkSession, handle: IndexHandle,
                        k: Int = 10): DataFrame =
    handle.lexicon.select(col("term"), col("cf"))
      .orderBy(col("cf").desc, col("term").asc).limit(k)

  def mostDistinctiveTerms(spark: SparkSession, handle: IndexHandle,
                           k: Int = 10): DataFrame = {
    val n = handle.stats.numDocs.toDouble
    handle.lexicon
      .withColumn("score",
        col("cf").cast("double") *
          (log(lit(n) / (col("df").cast("double") + lit(1.0))) + lit(1.0)))
      .select(col("term"), col("score"))
      .orderBy(col("score").desc, col("term").asc).limit(k)
  }

  /** Paged top-k (Q7: the reference's search_page(q, page_num, page_len),
    * default page_len 10): collect the first pageNum*pageLen hits, return
    * the requested page. */
  def searchPage(spark: SparkSession, handle: IndexHandle, query: String,
                 pageNum: Int = 1, pageLen: Int = 10,
                 weighting: Weighting = BM25Weighting): Seq[SearchHit] = {
    require(pageNum >= 1 && pageLen >= 1)
    search(spark, handle, query, pageNum * pageLen, weighting = weighting)
      .collect().toSeq
      .slice((pageNum - 1) * pageLen, pageNum * pageLen)
  }

  /** Facet counts ([W] whoosh/sorting.py `groupedby` — out of the pinned
    * cockatrice scope per SURVEY.md §2.8, added as reference-surface
    * stretch): EVERY doc matching the query, counted per value of a stored
    * docstats field. Scale shape: the same pruned kernel pass as
    * delete-by-query (no top-k heap), one docId equi-join against the
    * docstats sidecar, one aggregation on the facet key — the content
    * corpus is never touched. */
  def facetCounts(spark: SparkSession, handle: IndexHandle, query: String,
                  field: String): DataFrame =
    facetCountsExpr(spark, handle, query, col(field), field)

  /** FunctionFacet ([W] whoosh/sorting.py FunctionFacet): every match
    * counted per value of an arbitrary Column expression over the stored
    * docstats fields — the general form behind range and multi facets.
    * Same scale shape as facetCounts: kernel match pass, one docId
    * equi-join against docstats, one aggregation; content never read. */
  def facetCountsExpr(spark: SparkSession, handle: IndexHandle, query: String,
                      key: org.apache.spark.sql.Column, name: String): DataFrame =
    countMatchesBy(spark, handle, query, Seq(key.as(name)))

  /** RangeFacet ([W] whoosh/sorting.py RangeFacet(field, start, end, gap)):
    * numeric binning — matches with field value in [start, end) counted
    * per bucket, keyed by the bucket's inclusive lower bound. */
  def facetRangeCounts(spark: SparkSession, handle: IndexHandle, query: String,
                       field: String, start: Double, end: Double,
                       gap: Double): DataFrame = {
    require(gap > 0 && end > start, s"bad range facet: [$start, $end) gap $gap")
    val v = col(field).cast("double")
    countMatchesBy(spark, handle, query,
      Seq((floor((v - lit(start)) / lit(gap)) * lit(gap) + lit(start)).as(s"${field}_lo")),
      v >= start && v < end)
  }

  /** MultiFacet ([W] whoosh/sorting.py MultiFacet): compound facet key —
    * every match counted per combination of the given stored fields. */
  def facetCountsMulti(spark: SparkSession, handle: IndexHandle, query: String,
                       fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty)
    countMatchesBy(spark, handle, query, fields.map(col))
  }

  /** the one facet-count body: every match of `query` joined on docId with
    * docstats, the rows `where` keeps counted per value of `keys` */
  private def countMatchesBy(spark: SparkSession, handle: IndexHandle, query: String,
                             keys: Seq[org.apache.spark.sql.Column],
                             where: org.apache.spark.sql.Column = lit(true)): DataFrame =
    handle.docstats
      .join(matchingIds(spark, handle, query).toDF("docId"), Seq("docId"))
      .filter(where)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("count"))

  /** Combined groupedby + sortedby in ONE pass ([W] whoosh search supports
    * facets and sort keys on the same call — round-5 verdict item 5; the
    * two-call composition ran the kernel match pass twice). One scored
    * kernel pass + one docId equi-join against docstats, persisted; `hits`
    * (top-k by the sort keys, or by score when none) and `facets` (count
    * per facet value) are both served from that cached match set — the
    * second consumer's plan is an InMemoryTableScan, not a second segment
    * scan. Call `close()` when done (or let it age out of the cache). */
  final class FacetedSearch private[search] (private[search] val matches: DataFrame,
                                             facetField: String,
                                             sortKeys: Seq[(String, Boolean)], k: Int) {
    lazy val hits: DataFrame = {
      val order =
        if (sortKeys.isEmpty) Seq(col("score").desc)
        else sortKeys.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }
      val cols = col("docId") +: col("score") +: sortKeys.map(kf => col(kf._1))
      matches.select(cols.distinct: _*)
        .orderBy(order :+ col("docId").asc: _*)
        .limit(k)
    }
    lazy val facets: DataFrame =
      matches.groupBy(col(facetField)).agg(count(lit(1)).as("count"))
    def close(): Unit = { matches.unpersist(); () }
  }

  def searchFaceted(spark: SparkSession, handle: IndexHandle, query: String,
                    facetField: String, sortKeys: Seq[(String, Boolean)] = Seq.empty,
                    k: Int = 10,
                    weighting: Weighting = BM25Weighting): FacetedSearch = {
    val hitsDf = scoredMatches(spark, handle, query, weighting).toDF()
    val need = (facetField +: sortKeys.map(_._1)).distinct.map(col)
    // the hits side gets an explicit docId exchange BEFORE the docstats
    // join (r6): hit rows are 16 bytes, so the shuffle is cheap, and its
    // materialization lets AQE size the join from REAL row counts — a
    // selective query broadcast-joins the (tiny) hit set into the docstats
    // scan, while a match-all query degrades to a co-shuffled join. Without
    // it the static planner broadcast-collected the docstats side on every
    // call (measured +~250 ms per faceted query once the r6 exchange-free
    // kernel removed the shuffle AQE used to re-plan around).
    val matches = handle.docstats
      .select(col("docId") +: need: _*)
      .join(hitsDf.repartition(col("docId")), Seq("docId"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new FacetedSearch(matches, facetField, sortKeys, k)
  }

  /** Sorted search ([W] whoosh/sorting.py `sortedby`): the query's matches
    * ordered by a stored field instead of score. Catalyst plans the final
    * step as TakeOrderedAndProject over the joined match set — only k rows
    * reach the driver. */
  def searchSortedBy(spark: SparkSession, handle: IndexHandle, query: String,
                     field: String, asc: Boolean = true, k: Int = 10): DataFrame =
    searchSortedByKeys(spark, handle, query, Seq(field -> asc), k)

  /** multi-key `sortedby` (Whoosh sortedby=[...]): matches ordered by
    * several stored fields, each with its own direction; docId asc is the
    * final tiebreak. Same TakeOrderedAndProject shape as the single key. */
  def searchSortedByKeys(spark: SparkSession, handle: IndexHandle, query: String,
                         keys: Seq[(String, Boolean)], k: Int = 10): DataFrame = {
    require(keys.nonEmpty)
    val ids = matchingIds(spark, handle, query).toDF("docId")
    val order = keys.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }
    handle.docstats
      .join(ids, Seq("docId"))
      .select(col("docId") +: keys.map(kf => col(kf._1)): _*)
      .orderBy(order :+ col("docId").asc: _*)
      .limit(k)
  }

  /** S4 as an API: the reference's `get_document(id)` point lookup —
    * stored fields for explicit docIds. One pruned docstats scan: the
    * sidecar is segId-partitioned with per-file docId min/max stats, so the
    * pushed IN filter prunes to the ids' segments/row groups. Deleted docs
    * are hidden, like every read path. */
  def getDocuments(spark: SparkSession, handle: IndexHandle, ids: Seq[Long]): DataFrame = {
    val live =
      if (!handle.hasDeletes) ids
      else {
        // only the tombstones of the segments whose docId ranges hold the
        // requested ids are read (driver-side, but bounded by those
        // segments' files, not by the tombstone count)
        val fs = FileSystem.get(new java.net.URI(handle.indexDir),
          spark.sparkContext.hadoopConfiguration)
        val tomb = handle.manifests
          .filter(m => m.deletes.nonEmpty && ids.exists(id => id >= m.docLo && id <= m.docHi))
          .flatMap(graft.build.Deletes.ofLine(fs, handle.indexDir, _)).toSet
        ids.filterNot(tomb)
      }
    handle.docstats
      .select("docId", "repo", "path", "commit", "lang", "sha", "rawLen")
      .filter(col("docId").isin(live: _*))
  }

  /** hits + stored fields (Q8): broadcast semi-join of the <=k ids against
    * the docstats sidecar (never the content-bearing corpus scan) */
  def searchWithFields(spark: SparkSession, handle: IndexHandle, query: String,
                       k: Int = 10): DataFrame = {
    val hits = search(spark, handle, query, k).toDF()
    val docstats = handle.docstats
      .select("docId", "repo", "path", "commit", "lang", "sha")
    docstats.join(broadcast(hits), Seq("docId"), "inner")
      .orderBy(col("score").desc, col("docId").asc)
  }
}
