package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data deduplication operators, Spark-first.
  *
  * All of these shuffle on content-derived keys (sha / LSH bucket), never on
  * the raw corpus: at 100 TB the only wide exchanges move hashes,
  * signatures, and candidate id pairs. Verification joins fetch shingle
  * sets for the (tiny) candidate set only.
  */
object Dedup {

  /** word tokens for dedup: lowercased \w+ runs (NO stop removal — dedup
    * compares raw surface text, unlike the search analyzer) */
  def words(text: String): Array[String] = {
    val m = java.util.regex.Pattern.compile("\\w+").matcher(
      text.toLowerCase(java.util.Locale.ROOT))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** distinct word n-gram shingles, space-joined */
  def shingles(text: String, n: Int = 3): Array[String] = {
    val w = words(text)
    if (w.length < n) Array.empty
    else w.sliding(n).map(_.mkString(" ")).toArray.distinct.sorted
  }

  /** 64-bit string hash (FNV-1a over UTF-16 code units, then avalanche) */
  def hashString(seed: Long, s: String): Long = {
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  /** Exact dedup (hash-groupBy): every row mapped to the minimal id sharing
    * its sha256(text). One shuffle on sha. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("sha"))
    df.select(col(idCol).cast("long").as("id"), sha2(col(textCol), 256).as("sha"))
      .withColumn("canonical_id", min(col("id")).over(w))
      .select(col("id"), col("canonical_id"), col("sha"))
  }

  /** MinHash + LSH banding near-dup pairs (shingle -> minhash -> band ->
    * bucket-join -> exact-Jaccard verify).
    *
    * k = bands * rowsPerBand hash functions; a pair collides in a band with
    * probability j^rowsPerBand, so P(candidate) = 1-(1-j^r)^bands. Defaults
    * (45 bands x 3 rows) are tuned to the default threshold 0.7: miss
    * probability (1 - 0.7^3)^45 ~ 6e-9 AT the threshold (and lower above
    * it), while r=3 still rejects low-j bulk pairs (j=0.1 collides in a
    * band w.p. 1e-3). The exact verify keeps precision at 1.0, so output ==
    * exhaustive pairs above the threshold up to that miss probability (the
    * DuckDB oracle computes the exhaustive set); lowering `threshold`
    * without re-tuning bands/rows weakens the recall guarantee — the
    * band-reliable threshold for (b, r) is roughly (ln(b)/b)^(1/r).
    *
    * `maxBucket` (0 = exact): a bucket of k ids emits k(k-1)/2 candidate
    * rows — one degenerate bucket (boilerplate text) is quadratic. Above
    * the cap the bucket emits STAR pairs to its minimum id instead
    * (linear): duplicate CLUSTERS stay connected through the hub (the
    * transitive closure is what dedup consumes), but a non-duplicate pair
    * that only co-occurred in capped buckets can be missed — the standard
    * corpus-scale trade. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7, bands: Int = 45, rowsPerBand: Int = 3,
                   shingleSize: Int = 3, seed: Long = 42L,
                   maxBucket: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = bands * rowsPerBand

    val docs: Dataset[(Long, Array[String], Array[Long])] = df
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val sh = shingles(text, shingleSize)
        val sig = Array.fill(k)(Long.MaxValue)
        sh.foreach { s =>
          val base = hashString(seed, s)
          var i = 0
          while (i < k) {
            // per-function permutation: avalanche of (base, i)
            val h = graft.corpus.SynthCorpus.hash64(seed + i, base, 0L)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        (id, sh, sig)
      }
    // two consumers (band rows, verify sets) recompute the narrow shingle
    // map rather than pinning a corpus-sized cache (returned DF stays lazy)
    val bandRows = docs.filter(_._2.nonEmpty).flatMap { case (id, _, sig) =>
        (0 until bands).iterator.map { b =>
          var h = seed
          var i = b * rowsPerBand
          while (i < (b + 1) * rowsPerBand) {
            h = graft.corpus.SynthCorpus.hash64(h, sig(i), i.toLong)
            i += 1
          }
          (b, h, id)
        }
    }.toDF("band", "bucket", "id")

    val cap = maxBucket
    val candidates = bandRows.as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._3).toArray.sorted
        if (cap > 0 && ids.length > cap)
          ids.iterator.drop(1).map(j => (ids(0), j)) // star to the hub
        else
          for (i <- ids.indices.iterator; j <- (i + 1) until ids.length)
            yield (ids(i), ids(j))
      }
      .distinct()
      .toDF("id_a", "id_b")

    val sets = docs.map { case (id, sh, _) => (id, sh) }.toDF("id", "sh")
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs, fully relational: explode
    * distinct shingles -> self-join on shingle (a shuffle equi-join; any
    * pair with J > 0 shares a shingle, so candidate generation is EXACT) ->
    * |A intersect B| = the pair's shared-shingle count, |A union B| =
    * |A| + |B| - intersect. No shingle-set fetch join, no cartesian: the
    * only wide operations key on shingle hashes and id pairs.
    *
    * Skew note: a shingle shared by k docs emits k(k-1)/2 pair rows —
    * boilerplate text is the quadratic hazard. `maxShingleDf` (0 = exact)
    * drops shingles above a df cap before pairing; capped runs lower-bound
    * the true Jaccard (standard at corpus scale, where ubiquitous shingles
    * carry no dedup signal). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.7, shingleSize: Int = 3,
                        maxShingleDf: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) => shingles(text, shingleSize).iterator.map(s => (id, hashString(99L, s))) }
      .toDF("id", "sh")
    val capped =
      if (maxShingleDf <= 0) sh
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
        sh.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= maxShingleDf).drop("df")
      }
    val sizes = capped.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = capped.select(col("id").as("id_a"), col("sh"))
    val b = capped.select(col("id").as("id_b"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash over tf-weighted word hashes. */
  def simhash64(text: String, seed: Long = 7L): Long = {
    val acc = new Array[Int](64)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    words(text).foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
    counts.foreach { case (w, c) =>
      val h = hashString(seed, w)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += c else acc(j) -= c
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  def simhash(df: DataFrame, idCol: String, textCol: String,
              seed: Long = 7L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) => (id, f"${simhash64(t, seed)}%016x") }
      .toDF("id", "simhash")
  }

  /** chunk boundaries for pigeonhole blocking: `numChunks` contiguous bit
    * ranges covering [0, 64), widths as even as possible */
  private[ops] def chunkBounds(numChunks: Int): Array[(Int, Int)] = {
    val base = 64 / numChunks
    val extra = 64 % numChunks
    val out = new Array[(Int, Int)](numChunks)
    var lo = 0
    var c = 0
    while (c < numChunks) {
      val w = base + (if (c < extra) 1 else 0)
      out(c) = (lo, w)
      lo += w
      c += 1
    }
    out
  }

  /** SimHash near-dup pairs: pigeonhole blocking on `maxHamming + 1` bit
    * chunks — a pair within hamming distance d <= maxHamming differs in at
    * most maxHamming chunks, so by pigeonhole it agrees EXACTLY on at least
    * one of the maxHamming+1 chunks — then exact hamming verify inside each
    * block. Recall is therefore 1.0 by construction (not probabilistic);
    * the exhaustive DuckDB oracle asserts exact equality.
    *
    * `maxBucket` (0 = exact): blocks larger than the cap emit star pairs
    * to the block's minimum id instead of all k(k-1)/2 (see minhashPairs —
    * same trade: cluster connectivity preserved, recall 1.0 claim waived
    * for pairs only co-blocked in capped buckets). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, seed: Long = 7L,
                   maxBucket: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming=$maxHamming")
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = chunkBounds(maxHamming + 1)
    val sigs = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t, seed)) }
    val blocked = sigs.flatMap { case (id, sig) =>
      chunks.indices.iterator.map { c =>
        val (lo, w) = chunks(c)
        (c, (sig >>> lo) & ((1L << w) - 1L), id, sig)
      }
    }
    val cap = maxBucket
    blocked.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val xs = it.map(r => (r._3, r._4)).toArray.sortBy(_._1)
        if (cap > 0 && xs.length > cap)
          (1 until xs.length).iterator.flatMap { j =>
            val d = java.lang.Long.bitCount(xs(0)._2 ^ xs(j)._2)
            if (d <= maxHamming) Some((xs(0)._1, xs(j)._1, d.toLong)) else None
          }
        else
          for {
            i <- xs.indices.iterator
            j <- (i + 1) until xs.length
            d = java.lang.Long.bitCount(xs(i)._2 ^ xs(j)._2)
            if d <= maxHamming
          } yield (xs(i)._1, xs(j)._1, d.toLong)
      }
      .distinct()
      .toDF("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair relation (`id_a`, `id_b`) —
    * the clustering step a corpus-scale dedup pipeline runs after pair
    * generation (minhashPairs / simhashPairs / cosinePairs), mapping every
    * non-singleton member to its component's minimum id (the canonical doc).
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round does (1) label(v) <- min over neighbors' labels (one
    * shuffle join on the edge relation) and (2) label(v) <-
    * label(label(v)) (one self-join on the label map — path-doubling, so a
    * chain of length L converges in O(log L) rounds, not O(L)). Rounds end
    * at fixpoint; `localCheckpoint` truncates the per-round lineage so the
    * plan stays flat no matter how many rounds run. Labels shrink
    * monotonically toward the component minimum — convergence is exact and
    * deterministic, no tolerance involved. Singletons (rows in no pair)
    * are omitted; they are trivially their own canonical doc. */
  def components(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionByName(pairs.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("ncomp")).as("nmin"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      val jumped = propagated.as("l")
        .join(propagated.select(col("id").as("cid"), col("comp").as("ccomp")).as("m"),
          col("l.comp") === col("m.cid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("ccomp"), col("l.comp"))).as("comp"))
        .localCheckpoint(true)
      converged = jumped.join(labels.withColumnRenamed("comp", "old"), Seq("id"))
        .filter(col("comp") =!= col("old"))
        .isEmpty
      labels = jumped
      it += 1
    }
    require(converged, s"components did not converge in $maxIters rounds")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Passage-level duplicated-span statistics (the ExactSubstr idea of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — approximated at fixed window size, the
    * standard relational form): a doc's span of `window` consecutive word
    * tokens starting at position p is DUPLICATED iff the identical token
    * sequence occurs in >= `minDocs` DISTINCT docs corpus-wide. Reports per
    * doc: token count, total spans, duplicated spans, the number of TOKENS
    * covered by at least one duplicated span (the paper's removal unit),
    * and that coverage as a fraction of the doc's tokens.
    *
    * Scale shape (r6 rework of all three exchanges; output unchanged):
    *  - span TEXT never shuffles — spans are hashed to 64-bit keys map-side
    *    (the r5 verdict's #2: the text form shipped ~10x corpus token bytes
    *    across TWO exchanges; the hashed form ships 24-byte rows; the
    *    2^-64-per-pair collision risk is the same trade `ngramJaccardPairs`
    *    and `stripRepeatedLines` already make, and the driver oracle
    *    verifies the fixture corpus collision-free). That bound holds for
    *    natural text only: the FNV-1a key is not a keyed hash, so a corpus
    *    an attacker controls can carry crafted colliding spans and mark a
    *    unique span as duplicated;
    *  - n_spans = max(0, ntok - window + 1) arithmetically from the
    *    token-count pass — the r5 form recomputed the whole span stream and
    *    shuffled it a third time just to count it;
    *  - dup-token coverage is an interval-union fold over each doc's sorted
    *    duplicated-span starts (codegen'd collect_list + aggregate HOF) —
    *    the r5 form exploded window x dupSpans rows per doc through a
    *    countDistinct exchange.
    * Remaining exchanges: ONE hash shuffle of (sh, id) for the distinct-doc
    * count (map-side partials absorb hot spans — the G2 argument), the
    * equi-join back on `sh`, and per-doc aggregations of (id, counters). */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 10, minDocs: Int = 2): DataFrame = {
    require(window >= 1 && minDocs >= 2)
    val spark = df.sparkSession
    import spark.implicits._
    val wLocal = window
    // per-doc token counts (all docs, even span-less short ones)
    val base = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) => (id, words(text).length.toLong) }
      .toDF("id", "ntok")
    // (id, pos, span-HASH) rows; docs shorter than the window emit none
    val sp = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = words(text)
        (0 to w.length - wLocal).iterator.map(p =>
          (id, p, hashString(1013L, w.slice(p, p + wLocal).mkString(" "))))
      }.toDF("id", "pos", "sh")
    val dup = sp.groupBy(col("sh"))
      .agg(countDistinct(col("id")).as("docs"))
      .filter(col("docs") >= minDocs)
      .select(col("sh"))
    val dupSp = sp.join(dup, Seq("sh"))
    val nDup = dupSp.groupBy(col("id")).agg(count(lit(1)).as("dup_spans"))
    // tokens covered by >= 1 duplicated span: union of [pos, pos+window-1]
    // intervals == fold over ascending starts of min(window, gap)
    val cov = dupSp.groupBy(col("id"))
      .agg(aggregate(
        array_sort(collect_list(col("pos"))),
        struct(lit(-1).as("prev"), lit(0L).as("acc")),
        (s, p) => struct(p.cast("int").as("prev"),
          (s.getField("acc") +
            when(s.getField("prev") < 0, lit(window))
              .otherwise(least(lit(window), p - s.getField("prev"))))
            .as("acc")),
        s => s.getField("acc")).as("dup_tokens"))
    base.join(nDup, Seq("id"), "left")
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("ntok"),
        greatest(col("ntok") - lit(window - 1).cast("long"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("ntok") > 0,
          round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("ntok"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** SemDeDup-style representative pruning (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540 — public method): given a near-duplicate PAIR
    * relation (any of this file's pair producers, or [[Similarity
    * .cosinePairs]] over embeddings for the semantic variant), keep exactly
    * ONE representative per connected near-dup group — the minimum id, the
    * deterministic stand-in for the paper's keep-one-per-cluster rule — and
    * every untouched singleton. Returns the surviving ids.
    *
    * Scale shape: [[components]] label propagation (O(log chain) rounds of
    * bounded equi-joins over the EDGE set only — near-dup edges, not the
    * corpus) followed by one left-anti equi-join of the full id set against
    * the dropped labels. Nothing collects; the corpus-sized side crosses
    * the wire once, hashed on id. */
  def keepRepresentatives(ids: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    val dropped = components(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id"))
    ids.select(col(idCol).cast("long").as("id"))
      .join(dropped, Seq("id"), "left_anti")
  }

  /** Corpus-wide repeated-line REMOVAL (round-5; the RefinedWeb §3.2 /
    * CCNet line-dedup stage: a line that recurs across the corpus is
    * boilerplate — nav bars, cookie banners, license headers — and is
    * stripped from every document, not merely flagged). `sep` is a LITERAL
    * separator (newline for real corpora); a line occurring >= minDf times
    * corpus-wide is dropped, survivors are rejoined with the same
    * separator in original order. Output one row per input doc:
    * (id, cleaned, n_lines, n_dropped) — a doc whose every line is
    * boilerplate comes back as the empty string, which a downstream
    * length filter then removes.
    *
    * Scale shape (r6 rework; output unchanged): line frequencies aggregate
    * and join on a 64-bit xxhash64 of the line, not the line TEXT — the
    * count exchange moves 8-byte keys, and the flag join's build side is
    * just the DROPPED hash set (lines at/above minDf — boilerplate, a tiny
    * fraction of distinct lines), which AQE broadcast-joins when it fits so
    * the line text crosses the wire exactly ONCE (the id-keyed rebuild,
    * which must ship text by definition). The r5 form keyed both the agg
    * and the join on full line text. Same 2^-64 collision trade as the
    * other hashed-key ops; driver-oracle-verified collision-free on the
    * fixtures. The trade assumes natural text: xxhash64 with its fixed
    * seed is not collision-resistant, so an attacker-controlled corpus can
    * craft a line that collides with a boilerplate line's hash and have it
    * stripped. Per-group state stays one document's lines. */
  def stripRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                         minDf: Long, sep: String = "\n"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would strip every line")
    val lines = df.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "ln")))
      .withColumn("h", xxhash64(col("ln")))
    val droppedKeys = lines.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDf)
      .select(col("h"), lit(true).as("drp0"))
    lines.join(droppedKeys, Seq("h"), "left")
      .withColumn("drp", coalesce(col("drp0"), lit(false)))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("drp"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("drp"), struct(col("pos"), col("ln"))))),
            x => x.getField("ln")),
          sep).as("cleaned"))
      .select(col("id"), col("cleaned"), col("n_lines"), col("n_dropped"))
  }
}
