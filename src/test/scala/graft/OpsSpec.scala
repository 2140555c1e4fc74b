package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.build.IndexBuilder
import graft.corpus.SynthCorpus
import graft.ops.{Dedup, Fusion, Packing, Similarity, TextQuality}

/** Training-data operators: LSH completeness vs exhaustive ground truth,
  * ANN recall, and pinned text-metric semantics. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  // corpus with planted near-duplicates: pairs (i, i+100) share most text
  private def dupDocs(n: Int = 120): Seq[(Long, String)] = {
    val base = (0 until n).map(i => SynthCorpus.doc(21L, i.toLong))
    val planted = (0 until 20).map { i =>
      // near-dup of doc i: drop the last 2 words, append 2 new ones
      val w = base(i).split(' ')
      (n + i).toLong -> (w.dropRight(2).mkString(" ") + " zz yy")
    }
    base.zipWithIndex.map { case (d, i) => (i.toLong, d) } ++ planted
  }

  private def exhaustivePairs(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
    val sh = docs.map { case (id, d) => (id, Dedup.shingles(d).toSet) }
      .filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sh
      (b, sb) <- sh
      if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (a, b, math.floor(j * 1e4 + 0.5) / 1e4)).toSet
  }

  test("minhash LSH pairs == exhaustive jaccard pairs (planted near-dups)") {
    import spark.implicits._
    val docs = dupDocs()
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = exhaustivePairs(docs, 0.7)
    assert(want.size >= 20, s"expected planted pairs, got ${want.size}")
    assert(got == want, s"LSH=${got.size} exhaustive=${want.size}\n missing=${want -- got}\n extra=${got -- want}")
  }

  test("ngram Jaccard pairs (relational exact) == exhaustive; plan has no cartesian") {
    import spark.implicits._
    val docs = dupDocs()
    val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 0.7)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = exhaustivePairs(docs, 0.7)
    assert(gotSet == want, s"missing=${want -- gotSet} extra=${gotSet -- want}")
    // df-capped run is a lower bound: subset of the exact pair set
    val capped = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        0.7, maxShingleDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(want.map(t => (t._1, t._2))))
  }

  test("tfidfTerms: brute-force identity, L2 norm, minDf filter (round-5)") {
    import spark.implicits._
    val docs = Seq(
      0L -> "alpha beta alpha gamma",
      1L -> "alpha delta delta",
      2L -> "gamma gamma epsilon",
      3L -> "")
    val n = docs.size
    // brute-force model of the pinned semantics (minDf = 1)
    val tf = docs.flatMap { case (id, t) =>
      Dedup.words(t).groupBy(identity).map { case (w, g) => (id, w, g.length.toLong) }
    }
    val dfm = tf.groupBy(_._2).view.mapValues(_.size).toMap
    def weight(t: Long, df: Int) = t * (math.log((n + 1.0) / (df + 1.0)) + 1.0)
    val byDoc = tf.groupBy(_._1)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val want = byDoc.flatMap { case (id, rows) =>
      val nrm = math.sqrt(rows.map(r => math.pow(weight(r._3, dfm(r._2)), 2)).sum)
      rows.map(r => (id, r._2, r._3, r4(weight(r._3, dfm(r._2))),
        r4(weight(r._3, dfm(r._2)) / nrm)))
    }.toSet
    val got = TextQuality.tfidfTerms(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // empty doc emits nothing; per-doc L2 norm property (sum of squares == 1)
    assert(!got.exists(_._1 == 3L))
    got.groupBy(_._1).foreach { case (id, rows) =>
      val ss = rows.map(r => r._5 * r._5).sum
      assert(math.abs(ss - 1.0) < 1e-3, s"doc $id L2 norm broke: $ss")
    }
    // minDf = 2 keeps only cross-doc terms (alpha df=2, gamma df=2)
    val kept = TextQuality.tfidfTerms(docs.toDF("doc_id", "text"), "doc_id", "text",
      minDf = 2).select("term").distinct().as[String].collect().toSet
    assert(kept == Set("alpha", "gamma"))
  }

  test("contentSampleStratified: per-stratum == contentSample(rate) of the stratum") {
    import spark.implicits._
    val docs = (0 until 400).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
        s"doc body $i ${(i * 31) % 97}"))
    val df = docs.toDF("doc_id", "lang", "text")
    val rates = Map("en" -> 700, "de" -> 200)
    val got = graft.ops.Sampling.contentSampleStratified(df, "lang", "text",
      rates, defaultPerMille = 50)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    // identity per stratum vs the unstratified sampler at that stratum's rate
    Seq("en" -> 700, "de" -> 200, "fr" -> 50).foreach { case (lang, rate) =>
      val strat = df.filter(col("lang") === lang)
      val want = graft.ops.Sampling.contentSample(strat, "text", rate)
        .select("doc_id").as[Long].collect().toSet
      assert(got.filter(_._2 == lang).map(_._1) == want, s"stratum $lang diverged")
    }
    // deterministic: re-running yields the same membership
    val again = graft.ops.Sampling.contentSampleStratified(df, "lang", "text",
      rates, defaultPerMille = 50)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(again == got)
    assert(got.nonEmpty && got.size < docs.size)
  }

  test("dupSpanStats: brute-force identity on planted shared passages (round-5)") {
    import spark.implicits._
    val w = 10
    // planted: docs 0/1/3 share an exact 12-token passage (doc 3 twice),
    // doc 2 is all-distinct, doc 4 is shorter than the window, doc 5 empty
    val passage = (0 until 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      0L -> s"alpha beta $passage gamma delta",
      1L -> s"$passage omega",
      2L -> (0 until 30).map(i => s"u$i").mkString(" "),
      3L -> s"$passage zz $passage",
      4L -> "short doc here",
      5L -> "")
    // brute-force model of the pinned semantics
    val spans = docs.flatMap { case (id, t) =>
      val ws = Dedup.words(t)
      (0 to ws.length - w).map(p => (id, p, ws.slice(p, p + w).mkString(" ")))
    }
    val dupSet = spans.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = docs.map { case (id, t) =>
      val ws = Dedup.words(t)
      val sp = spans.filter(_._1 == id)
      val d = sp.filter(s => dupSet(s._3))
      val cov = d.flatMap(s => s._2 until s._2 + w).distinct.size
      (id, ws.length.toLong, sp.size.toLong, d.size.toLong, cov.toLong,
        if (ws.nonEmpty) math.floor(cov.toDouble / ws.length * 1e4 + 0.5) / 1e4 else 0.0)
    }.toSet
    val got = Dedup.dupSpanStats(docs.toDF("doc_id", "text"), "doc_id", "text", w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // the planted shape is non-degenerate: shared passage detected, the
    // distinct doc stays clean, short/empty docs report zeros
    assert(want.exists { case (id, _, _, d, _, _) => id == 0L && d > 0 })
    assert(want.exists { case (id, _, _, d, _, _) => id == 2L && d == 0 })
    assert(want.exists { case (id, nt, ns, _, _, _) => id == 4L && nt == 3 && ns == 0 })
    // no cartesian anywhere in the plan
    val plan = Dedup.dupSpanStats(docs.toDF("doc_id", "text"), "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("exact dedup canonicalizes planted exact duplicates") {
    import spark.implicits._
    val docs = Seq(0L -> "alpha beta gamma", 1L -> "delta", 2L -> "alpha beta gamma")
    val out = Dedup.exact(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
  }

  test("simhash: near-dups land within small hamming distance") {
    import spark.implicits._
    val docs = dupDocs()
    val pairs = Dedup.simhashPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (i, i+120) pair should be found
    val planted = (0 until 20).map(i => (i.toLong, (120 + i).toLong)).toSet
    assert(planted.subsetOf(pairs), s"missing ${planted -- pairs}")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  test("cosinePairs block-grid == exhaustive; plan has no cartesian/BNLJ") {
    import spark.implicits._
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 1000L).toFloat / 1000f
    }
    val rows = (0 until 300).map(i => (i.toLong, vec(i.toLong, 16)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.cosinePairs(df, "vec_id", "embedding", 0.45)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"quadratic join node in plan:\n$plan")
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.length
      sim = cosine(rows(i)._2, rows(j)._2)
      if sim >= 0.45
    } yield (rows(i)._1, rows(j)._1, math.floor(sim * 1e4 + 0.5) / 1e4)).toSet
    assert(want.nonEmpty && gotSet == want,
      s"got=${gotSet.size} want=${want.size} missing=${want -- gotSet} extra=${gotSet -- want}")
    // uneven block counts must still cover every pair exactly once
    val got5 = Similarity.cosinePairs(df, "vec_id", "embedding", 0.45, numBlocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got5 == want)
  }

  test("cosinePairsLsh finds planted high-sim pairs exactly (verify keeps precision)") {
    import spark.implicits._
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 2000L - 1000L).toFloat / 1000f
    }
    val base = (0 until 50).map(i => (i.toLong, vec(i.toLong, 32)))
    val planted = (0 until 15).map { i =>
      val v = base(i)._2.zipWithIndex.map { case (x, j) =>
        x + (SynthCorpus.hash64(900L + i, j.toLong, 0L) % 100L).toFloat / 5000f
      }
      ((100 + i).toLong, v)
    }
    val rows = base ++ planted
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.cosinePairsLsh(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.length
      if cosine(rows(i)._2, rows(j)._2) >= 0.9
    } yield (rows(i)._1, rows(j)._1)).toSet
    assert(want.size >= 15, s"expected planted pairs, got ${want.size}")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("srp ANN finds planted near-neighbors; recall vs brute force") {
    import spark.implicits._
    // clustered vectors: 20 bases x 10 noisy copies
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 1000L).toFloat / 1000f
    }
    val rows = for (b <- 0 until 20; c <- 0 until 10) yield {
      val base = vec(100L + b, 32)
      val noisy = base.zipWithIndex.map { case (x, j) =>
        x + (SynthCorpus.hash64(200L + b, c.toLong, j.toLong) % 100L).toFloat / 2000f
      }
      ((b * 10 + c).toLong, noisy)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.srpTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall, exact=$exact approx=$approx")
    // exact top-10 should be the query's own cluster (ids 0..9)
    assert(exact == (0 until 10).map(_.toLong).toSet)
  }

  test("IVF ANN: probing a fraction of the lists keeps recall on clustered data") {
    import spark.implicits._
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 1000L).toFloat / 1000f
    }
    val rows = for (b <- 0 until 20; c <- 0 until 10) yield {
      val base = vec(300L + b, 32)
      val noisy = base.zipWithIndex.map { case (x, j) =>
        x + (SynthCorpus.hash64(400L + b, c.toLong, j.toLong) % 100L).toFloat / 2000f
      }
      ((b * 10 + c).toLong, noisy)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
        nLists = 16, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall, exact=$exact ivf=$ivf")
  }

  private def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in plan")
    (scans.map(_.metrics("numFiles").value).sum,
      scans.map(_.metrics("numOutputRows").value).sum)
  }

  test("persisted SRP index: probe == in-flight srpTopK, pushed IN prunes the scan") {
    import spark.implicits._
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 2000L - 1000L).toFloat / 1000f
    }
    val rows = (0 until 400).map(i => (i.toLong, vec(500L + i, 24)))
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(7)._2
    val dir = SparkTestBase.tmpDir("annix")
    Similarity.buildAnnIndex(df, "vec_id", "embedding", dir, numFiles = 8)

    val inflight = Similarity.srpTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probeDf = Similarity.srpTopKIndexed(spark, dir, q, 10)
    val probed = probeDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == inflight, s"probed=$probed inflight=$inflight")

    // the probe is a pushed IN over the persisted sig column — no per-query
    // signature map (no object (de)serialization anywhere in the plan)
    val plan = probeDf.queryExecution.executedPlan.toString
    assert(plan.contains("In(sig"), s"no pushed sig IN:\n$plan")
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements"),
      s"per-row object map survived in probe plan:\n$plan")
    // the radius ball's members are scattered across the sorted-sig range,
    // so at this tiny scale every file's [min,max] intersects the IN set —
    // the pushed filter still restricts the candidate set...
    val candidates = spark.read.parquet(s"$dir/vectors")
      .filter(col("sig").isin(Similarity.sigsWithin(
        Similarity.srpSig(q), 16, 5).map(Int.box): _*)).count()
    assert(candidates < rows.size, s"ball admitted all $candidates rows")
    // ...and an exact-bucket probe (radius 0) demonstrates physical
    // ROW-GROUP skipping on the same index: only the sig-sorted group(s)
    // containing the probed value decode (plain parquet prunes row groups
    // on min/max; pruning the file LISTING as well needs a stats-aware
    // table format — the Iceberg seam of §1.2)
    val exactProbe = Similarity.srpTopKIndexed(spark, dir, q, 10, radius = 0)
    exactProbe.collect()
    val (_, rows0) = scanStats(exactProbe)
    assert(rows0 < rows.size,
      s"radius-0 probe decoded all $rows0 rows — no row-group pruning")
  }

  test("persisted IVF index: partition-pruned probe keeps recall on clustered data") {
    import spark.implicits._
    def vec(seed: Long, d: Int): Array[Float] = Array.tabulate(d) { j =>
      (SynthCorpus.hash64(seed, j.toLong, 0L) % 1000L).toFloat / 1000f
    }
    val rows = for (b <- 0 until 20; c <- 0 until 10) yield {
      val base = vec(700L + b, 32)
      val noisy = base.zipWithIndex.map { case (x, j) =>
        x + (SynthCorpus.hash64(800L + b, c.toLong, j.toLong) % 100L).toFloat / 2000f
      }
      ((b * 10 + c).toLong, noisy)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val dir = SparkTestBase.tmpDir("ivfix")
    Similarity.buildIvfIndex(df, "vec_id", "embedding", dir, nLists = 16, iters = 5)

    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val probeDf = Similarity.ivfTopKIndexed(spark, dir, q, 10, nProbe = 4)
    val probed = probeDf.collect().map(_.getLong(0)).toSet
    val recall = (exact & probed).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall, exact=$exact probed=$probed")
    // partition pruning: only the probed lists' rows are read
    val (_, rowsOut) = scanStats(probeDf)
    assert(rowsOut < rows.size, s"probe scanned all $rowsOut rows")
    val plan = probeDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
  }

  test("degenerate LSH buckets: maxBucket caps quadratic emit to star pairs") {
    import spark.implicits._
    val n = 200
    val same = (0 until n).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
    val df = same.toDF("doc_id", "text")
    val star = (1 until n).map(j => (0L, j.toLong)).toSet

    val mh = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.7, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == star, s"minhash cap: got ${mh.size} pairs")

    val sp = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 6, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp == star, s"simhash cap: got ${sp.size} pairs")

    val vecs = (0 until n).map(i => (i.toLong,
      Array.tabulate(16)(j => (j + 1).toFloat))) // identical vectors
    val cp = Similarity.cosinePairsLsh(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", 0.9, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp == star, s"cosine-lsh cap: got ${cp.size} pairs")
  }

  test("multimodal plumbing: binary payloads -> deterministic stub features") {
    import spark.implicits._
    val df = Seq((0L, "hello world"), (1L, ""), (2L, "abc")).toDF("doc_id", "text")
    val media = graft.ops.Multimodal.fakeMediaTable(df, "doc_id", "text")
    val feats = graft.ops.Multimodal.extractFeatures(media).collect().sortBy(_.id)
    assert(feats.length == 3)
    assert(feats.forall(_.features.length == 16))
    assert(feats(0).byteLen == 11)
    assert(math.abs(feats(0).features.sum - 1f) < 1e-5) // unit L1 mass
    assert(feats(1).features.forall(_ == 0f)) // empty payload
    val resized = graft.ops.Multimodal.resize(media, 32, 32).collect()
    assert(resized.forall(r => r.width == 32 && r.height == 32))
    assert(resized.map(_.media.length).sum == feats.map(_.byteLen).sum)
    // frame sampling: only video rows explode; every stride-th frame slice
    val long = Seq((2L, "x" * 300)).toDF("doc_id", "text") // id % 3 == 2 -> video
    val frames = graft.ops.Multimodal.frameSample(
      graft.ops.Multimodal.fakeMediaTable(long, "doc_id", "text"),
      stride = 2, frameBytes = 64).collect().sortBy(_.frame)
    assert(frames.map(_.frame).toSeq == Seq(0, 2)) // 300/64 = 4 full frames -> 0,2
    assert(frames.forall(f => f.payload.length <= 64 && f.id == 2L))
    assert(graft.ops.Multimodal.frameSample(media, 2, 64).collect()
      .forall(f => f.id % 3 == 2))
  }

  test("decontamination: n-gram overlap flags vs brute force") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),          // bench
      (1L, "one two three four five six"),                  // bench
      (2L, "xx alpha beta gamma delta epsilon yy"),         // shares a 5-gram
      (3L, "alpha beta gamma delta zz epsilon"),            // only a 4-gram: clean
      (4L, "one two three four five seven eight"),          // shares one 5-gram
      (5L, "totally unrelated words here today now"),       // clean
      (6L, "short doc")                                     // < n tokens: clean
    ).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" < 2)
    val out = graft.ops.Decontam.flagNgramOverlap(docs, "doc_id", "text", bench, "text", n = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    def grams(s: String) = s.toLowerCase.split("\\W+").filter(_.nonEmpty)
      .sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    val benchSet = grams("alpha beta gamma delta epsilon zeta") ++
      grams("one two three four five six")
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val expect = (grams(text) & benchSet).size.toLong
      val got = out.find(_._1 == id).get
      assert(got._2 == expect && got._3 == (expect > 0), s"doc $id: $got vs $expect")
    }
    // bench docs flag against themselves; the 4-gram-only doc stays clean
    assert(out.find(_._1 == 3L).get._3 == false)
    assert(out.find(_._1 == 2L).get._3 == true)
    assert(out.find(_._1 == 6L).get._2 == 0L)
  }

  test("bloom decontamination == exact op bit-identically (round-5)") {
    import spark.implicits._
    // 60 docs: ~1/3 share a planted 5-gram with the bench set, rest clean
    val planted = "alpha beta gamma delta epsilon"
    val docs = (0L until 60L).map { i =>
      val body =
        if (i < 3) s"$planted bench tail ${i} marker"
        else if (i % 3 == 0) s"lead ${i} $planted trailing words here"
        else s"doc ${i} carries only its own tokens w${i}a w${i}b w${i}c w${i}d"
      (i, body)
    }.toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" < 3)
    val exact = graft.ops.Decontam
      .flagNgramOverlap(docs, "doc_id", "text", bench, "text", n = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // tiny bloom (forces a real false-positive regime) still exact output
    for (expected <- Seq(16L, 1L << 16)) {
      val got = graft.ops.Decontam
        .flagNgramOverlapBloom(docs, "doc_id", "text", bench, "text", n = 5,
          expectedNgrams = expected, fpp = 0.2)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(got == exact, s"expectedNgrams=$expected")
    }
    assert(exact.count(_._3) > 3 && exact.exists(!_._3))
  }

  test("capPerGroup: bounded heap == window row_number model (round-5)") {
    import spark.implicits._
    // 4 groups, skewed sizes (1..40), planted score ties inside groups
    val rows = for {
      (g, size) <- Seq(("a", 40), ("b", 17), ("c", 5), ("d", 1))
      i <- 0 until size
    } yield (g, (g.hashCode.abs % 100) * 1000L + i, (i % 7).toDouble)
    val df = rows.toDF("src", "id", "score").repartition(5)
    for (k <- Seq(1, 3, 10)) {
      val got = graft.ops.Quota.capPerGroup(df, "src", "id", "score", k)
        .as[(String, Long, Long, Double)].collect()
        .sortBy { case (g, r, _, _) => (g, r) }.toSeq
      val exp = rows.groupBy(_._1).toSeq.flatMap { case (g, grp) =>
        grp.map { case (_, id, s) => (s, id) }
          .sortBy { case (s, id) => (-s, id) }.take(k).zipWithIndex
          .map { case ((s, id), i) => (g, (i + 1).toLong, id, s) }
      }.sortBy { case (g, r, _, _) => (g, r) }
      assert(got == exp, s"k=$k")
      // no group exceeds k rows
      assert(got.groupBy(_._1).values.forall(_.size <= k))
    }
  }

  test("unigram log-prob: corpus-distribution mean vs brute force") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aa aa bb"),   // common tokens
      (1L, "aa cc"),      // one rare token
      (2L, "")            // empty -> 0.0
    ).toDF("doc_id", "text")
    val out = graft.ops.TextQuality.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // corpus: aa x3, bb x1, cc x1 -> total 5
    def lp(c: Double) = math.log(c / 5.0)
    def r4(x: Double) = math.round(x * 1e4) / 1e4.toDouble
    assert(out(0) == ((0L, 3L, r4((lp(3) + lp(3) + lp(1)) / 3.0))))
    assert(out(1) == ((1L, 2L, r4((lp(3) + lp(1)) / 2.0))))
    assert(out(2) == ((2L, 0L, 0.0)))
    // ordering property: the rare-heavy doc scores below the common-heavy
    assert(out(1)._3 < out(0)._3)
  }

  test("repetition stats: pinned Gopher-style fractions") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a b"),                 // top 2-gram 'a b' x3 -> 6/6
      (1L, "x y z w v x y z w v"),         // dup 5-gram x2 -> 10/10
      (2L, "all distinct words here now"), // no repetition
      (3L, "one"),                         // < 2 tokens -> both 0
      (4L, "")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextQuality.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 6L, 1.0, 0.0)))
    assert(out(1) == ((1L, 10L, 0.4, 1.0)))
    assert(out(2) == ((2L, 5L, 0.4, 0.0))) // max 2-gram count 1 -> 2/5
    assert(out(3) == ((3L, 1L, 0.0, 0.0)))
    assert(out(4) == ((4L, 0L, 0.0, 0.0)))
  }

  test("text quality metrics pinned semantics") {
    import spark.implicits._
    val df = Seq((1L, "The cat sat on the mat... 123 ab_c!")).toDF("doc_id", "text")
    val q = TextQuality.qualityScore(df, "doc_id", "text").collect()(0)
    // words: the cat sat on the mat 123 ab_c -> 8 tokens, stops: the,on,the -> 3
    assert(q.getLong(1) == 8)
    assert(q.getDouble(2) == 0.375) // stop_ratio
    val t = TextQuality.tokenCounts(df, "doc_id", "text").collect()(0)
    assert(t.getLong(1) == 8)  // ws tokens
    assert(t.getLong(2) == 8)  // word tokens
    val l = TextQuality.langId(df, "doc_id", "text").collect()(0)
    assert(l.getString(2) == "en")
    val f = TextQuality.fingerprint(df, "doc_id", "text").collect()(0)
    assert(f.getString(1).length == 64)
  }

  test("rrf fusion: hand model + hybridTopK vs independently computed ranks (round-5)") {
    import spark.implicits._
    // hand model on two explicit lists
    val l1 = Seq((10L, 5.0), (11L, 4.0), (12L, 3.0)).toDF("id", "score")
    val l2 = Seq((12L, 0.9), (13L, 0.8)).toDF("id", "score")
    val got = Fusion.rrf(Seq(l1, l2), kRrf = 60).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val exp = Map(
      10L -> (1.0 / 61, 1L), 11L -> (1.0 / 62, 1L),
      12L -> (1.0 / 61 + 1.0 / 63, 2L), 13L -> (1.0 / 62, 1L))
    assert(got.keySet == exp.keySet)
    exp.foreach { case (id, (r, n)) =>
      assert(math.abs(got(id)._1 - r) < 1e-12 && got(id)._2 == n, s"id=$id got=${got(id)}")
    }

    // end-to-end: fixture index (docId == i by construction) + synthetic
    // embeddings with a known cosine order; fused == hand-fused ranks
    val dir = SparkTestBase.tmpDir("hybrid")
    val corpus = spark.createDataset(TestFixtures.fixture5.map { case (i, text) =>
      graft.model.CorpusRow("r0", f"d/$i%07d.txt", f"$i%040x", "text", text)
    })
    IndexBuilder.build(spark, corpus, dir, IndexBuilder.IndexConfig(segSize = 8))
    val handle = graft.search.Searcher.open(spark, dir)
    // vectors ranked 0,1,2,3,4 against query (1,0,0,0) by construction
    val emb = (0 until 5).map(i => (i.toLong, Array(1.0f, 0.1f * i, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val qv = Array(1.0f, 0f, 0f, 0f)
    val lexRank = graft.search.Searcher.search(spark, handle, "search", 10)
      .collect().zipWithIndex.map { case (h, i) => h.docId -> (i + 1) }.toMap
    val vecRank = (0 until 5).map(i => i.toLong -> (i + 1)).toMap
    val expFused = (lexRank.keySet ++ vecRank.keySet).map { id =>
      id -> (lexRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        + vecRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.toMap
    val fused = Fusion.hybridTopK(spark, handle, "search", null,
        emb, "vec_id", "embedding", qv, k = 10, kPer = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fused.map(_._1).toSet == expFused.keySet)
    fused.foreach { case (id, s) =>
      assert(math.abs(s - expFused(id)) < 1e-12, s"id=$id got=$s exp=${expFused(id)}")
    }
    // fused order is descending with id tie-break
    assert(fused.sortBy { case (id, s) => (-s, id) }.toSeq == fused.toSeq)
  }

  test("packPlan: sequential prefix model identity + partition invariance (round-5)") {
    import spark.implicits._
    val docs = Seq(
      (3L, "a b c"), (10L, ""), (11L, "one two three four five six seven"),
      (20L, (1 to 25).map(i => s"w$i").mkString(" ")), (21L, "x"),
      (40L, Seq.fill(9)("t").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val cap = 8L
    var run = 0L
    val exp = docs.sortBy(_._1).map { case (id, t) =>
      val n = "\\S+".r.findAllIn(t).size.toLong
      val before = run; run += n
      val first = before / cap
      val last = if (n == 0) first else (before + n - 1) / cap
      (id, n, before, first, before % cap, last,
        if (n == 0) 0L else last - first + 1)
    }
    for (parts <- Seq(1, 3, 7)) {
      val got = Packing.packPlan(df, "doc_id", "text", cap, parts)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      assert(got.toSeq == exp, s"parts=$parts")
    }
  }

  test("lineStats: C4 line rules on hand fixtures (round-5)") {
    import spark.implicits._
    val nl = "\n"
    val docs = Seq(
      (1L, Seq("one two three four five.", "six seven eight nine ten!",
        "a b c d e?", "tail no punct").mkString(nl)),
      (2L, Seq("short line.", "another tiny.", "third one.").mkString(nl)),
      (3L, "this has lorem ipsum somewhere and one two three four five six."),
      (4L, "code line one two three {" + nl),
      (5L, ""))
    val got = TextQuality.lineStats(docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    assert(got(0) == ((1L, 4L, 3L, 0.75, false, false, true)))
    assert(got(1) == ((2L, 3L, 0L, 0.0, false, false, false)))
    assert(got(2) == ((3L, 1L, 1L, 1.0, true, false, false)))
    assert(got(3) == ((4L, 2L, 0L, 0.0, false, true, false)))
    assert(got(4) == ((5L, 1L, 0L, 0.0, false, false, false)))
  }

  test("codeQuality stats: pinned Stack/StarCoder rules on hand fixtures (round-5)") {
    import spark.implicits._
    val nl = "\n"
    val docs = Seq(
      // clean keeper: 3 short alpha lines
      ("r1", "a.sc", "ok line one here" + nl + "ok line two here" + nl + "tail"),
      // minified: one 1200-char line (also trips the long-run detector)
      ("r1", "b.js", "y" * 1200),
      // auto-generated marker, mixed case
      ("r2", "c.py", "# Auto-Generated file" + nl + "pass"),
      // base64 blob inside otherwise-fine text
      ("r2", "d.txt", "short line" + nl + ("QWJj+/=A" * 10)),
      // low alnum fraction (punctuation soup)
      ("r3", "e.dat", "!!! ??? ;;; ,,, ... ### $$$ %%%"),
      // empty file
      ("r3", "f.txt", ""))
    val got = graft.ops.CodeQuality
      .stats(docs.toDF("repo", "path", "content"), "content", "repo", "path")
      .orderBy("repo", "path").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9)))
    val byPath = got.map(t => t._1 -> t).toMap
    // a.sc: keeps — 3 lines, max 16, avg (16+16+4)/3=12.0
    assert(byPath("a.sc") == (("a.sc", 3L, 16L, 12.0,
      byPath("a.sc")._5, byPath("a.sc")._6, false, false, true)))
    assert(byPath("b.js")._3 == 1200L && byPath("b.js")._8 && !byPath("b.js")._9)
    assert(byPath("c.py")._7 && !byPath("c.py")._9)       // autogen
    assert(byPath("d.txt")._8 && !byPath("d.txt")._9)     // long run
    assert(byPath("e.dat")._5 < 0.25 && !byPath("e.dat")._9) // low alnum
    assert(byPath("f.txt") == (("f.txt", 1L, 0L, 0.0, 0.0, 0.0,
      false, false, false))) // empty: alnum_frac 0.0 fails the 0.25 floor
  }

  test("keepRepresentatives: one survivor per component, singletons kept (round-5)") {
    import spark.implicits._
    val ids = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.keepRepresentatives(ids, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 5L, 7L, 8L))
    // no pairs -> everything survives
    val all = Dedup.keepRepresentatives(ids, "id",
        spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
    assert(all == (1L to 8L).toSet)
  }

  test("hardNegatives: lexical top-k minus semantic neighbors (round-5)") {
    import spark.implicits._
    // lexical candidates with known ranks (scores already rounded)
    val lex = Seq((1L, 9.0), (2L, 8.0), (3L, 8.0), (4L, 6.0))
      .toDF("id", "score")
    // query = [1, 0]; id 1 is a semantic positive (sim 1), ids 2/3 are
    // lexically-confusable negatives, id 4 has NO embedding row (dropped),
    // id 9 is an embedding not in the candidate list (ignored)
    val emb = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(-1f, 0.1f)),
      (3L, Array(0.1f, 1f)),
      (9L, Array(1f, 1f))
    ).toDF("vec_id", "embedding")
    val q = Array(1f, 0f)
    val got = graft.ops.Fusion.hardNegatives(lex, emb, "vec_id", "embedding", q, 0.5)
      .as[(Long, Int, Double, Double)].collect()
    def cos(v: Array[Float]): Double = {
      val d = v(0).toDouble * 1.0 + v(1).toDouble * 0.0
      d / math.sqrt((v(0).toDouble * v(0) + v(1).toDouble * v(1)) * 1.0)
    }
    // ranks over the full list: 1->1, 2->2, 3->3 (tie broken by id), 4->4
    assert(got.map(_._1).toSeq == Seq(2L, 3L))
    assert(got(0) == ((2L, 2, 8.0, cos(Array(-1f, 0.1f)))))
    assert(got(1) == ((3L, 3, 8.0, cos(Array(0.1f, 1f)))))
    // raising the cutoff past sim(id 1) keeps the positive too
    val all = graft.ops.Fusion.hardNegatives(lex, emb, "vec_id", "embedding", q, 1.5)
      .as[(Long, Int, Double, Double)].collect()
    assert(all.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("sq8TopK: pinned quantization model identity + near-exact ranking (round-5)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 8
    val vecs = (0L until 40L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val got = graft.ops.Similarity.sq8TopK(df, "vec_id", "embedding", q, 40)
      .as[(Long, Double)].collect()

    // brute-force model of the pinned quantize/dequantize/ADC formula
    val mn = (0 until dim).map(d => vecs.map(_._2(d).toDouble).min).toArray
    val mx = (0 until dim).map(d => vecs.map(_._2(d).toDouble).max).toArray
    def dq(v: Array[Float]): Array[Double] = (0 until dim).map { d =>
      val s = mx(d) - mn(d)
      if (s == 0.0) mn(d)
      else mn(d) + math.floor((v(d).toDouble - mn(d)) / s * 255.0 + 0.5) / 255.0 * s
    }.toArray
    val qd = q.map(_.toDouble)
    val qn = qd.map(x => x * x).sum
    val expected = vecs.map { case (id, v) =>
      val dv = dq(v)
      val dot = dv.zip(qd).map { case (a, b) => a * b }.sum
      val n2 = dv.map(x => x * x).sum
      (id, dot / math.sqrt(n2 * qn))
    }.sortBy(t => (-t._2, t._1))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case ((gi, gs), (ei, es)) =>
      assert(gi == ei, s"rank order diverged: got $gi want $ei")
      assert(math.abs(gs - es) < 1e-9)
    }
    // 8-bit codes barely move the ranking: top-5 overlap with exact >= 4
    val exact = graft.ops.Similarity.cosineTopK(df, "vec_id", "embedding", q, 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert((exact & got.take(5).map(_._1).toSet).size >= 4)
  }

  test("dsirLogWeights: brute-force identity + target-affinity ordering (round-5)") {
    import spark.implicits._
    import graft.ops.Selection
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "import spark sql functions import spark sql",
      2L -> "the quick brown fox",                       // target-like
      3L -> "",                                          // empty -> 0.0
      4L -> "zz qq xx totally alien tokens never seen")  // raw-only mass
    val raw = texts.toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") < 2)
    val B = 64; val seed = 21L; val alpha = 0.5
    val got = Selection.dsirLogWeights(raw, target, "doc_id", "text", B, seed, alpha)
      .as[(Long, Long, Double)].collect().sortBy(_._1)

    // brute-force model
    val rawG = texts.flatMap { case (id, t) =>
      Selection.grams(t).map(g => (id, Selection.bucket(g, B, seed))) }
    val tgtG = rawG.filter(_._1 < 2)
    val cr = new Array[Long](B); rawG.foreach(p => cr(p._2) += 1)
    val ct = new Array[Long](B); tgtG.foreach(p => ct(p._2) += 1)
    val tr = cr.sum.toDouble; val tt = ct.sum.toDouble
    def lr(b: Int): Double =
      math.log(((ct(b) + alpha) / (tt + alpha * B)) / ((cr(b) + alpha) / (tr + alpha * B)))
    def r4(x: Double) = math.round(x * 1e4) / 1e4.toDouble
    val expected = texts.map { case (id, t) =>
      val bs = Selection.grams(t).map(Selection.bucket(_, B, seed))
      (id, bs.length.toLong, r4(bs.map(lr).sum))
    }.sortBy(_._1)
    assert(got.toSeq == expected)
    assert(got(3) == ((3L, 0L, 0.0)))
    // the doc made of target grams outscores the alien-token doc
    assert(got(2)._3 > got(4)._3)
  }

  test("pplBuckets: per-lang equal-depth ntile bands, pinned order (round-5)") {
    import spark.implicits._
    import graft.ops.Selection
    // en: 7 docs spanning common -> rare vocabulary; de: 2 docs
    val docs = Seq(
      (0L, "aa aa aa aa", "en"), (1L, "aa aa aa bb", "en"),
      (2L, "aa aa bb bb", "en"), (3L, "aa bb cc", "en"),
      (4L, "cc dd ee", "en"), (5L, "ff gg hh", "en"), (6L, "", "en"),
      (10L, "aa aa", "de"), (11L, "rare1 rare2", "de")
    ).toDF("doc_id", "text", "lang")
    val got = Selection.pplBuckets(docs, "doc_id", "text", "lang", 3)
      .as[(Long, String, Double, Int, String)].collect()

    // model: score with the (independently tested) unigram op, then ntile
    val scores = graft.ops.TextQuality.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    val langOf = Map[Long, String]((0L to 6L).map(_ -> "en") ++ Seq(10L -> "de", 11L -> "de"): _*)
    val expected = langOf.keys.toSeq.groupBy(langOf)
      .flatMap { case (lang, ids) =>
        val sorted = ids.sortBy(id => (-scores(id), id))
        val n = sorted.length; val k = 3
        val sizes = (0 until k).map(i => n / k + (if (i < n % k) 1 else 0))
        val bands = sizes.zipWithIndex.flatMap { case (sz, i) => Seq.fill(sz)(i + 1) }
        sorted.zip(bands).map { case (id, b) =>
          val band = if (b == 1) "head" else if (b == 3) "tail" else "middle"
          (id, lang, scores(id), b, band)
        }
      }.toSet
    assert(got.toSet == expected)
    // de has only 2 docs: ntile(3) assigns buckets 1 and 2 -> no 'tail'
    assert(got.filter(_._2 == "de").map(_._5).toSet == Set("head", "middle"))
  }

  test("bigramLogProb: brute-force interpolated-LM identity (round-5)") {
    import spark.implicits._
    val texts = Seq(
      0L -> "a b a b",   // repeated bigram: high P(b|a)
      1L -> "a a",       // self-bigram
      2L -> "",          // empty -> (0, 0.0)
      3L -> "c",         // single token: unigram-only
      4L -> "b c a b")   // mixes seen and once-only contexts
    val lambda = 0.7
    val got = graft.ops.TextQuality.bigramLogProb(texts.toDF("doc_id", "text"),
        "doc_id", "text", lambda)
      .as[(Long, Long, Double)].collect().sortBy(_._1)

    // brute-force model over the same corpus counts
    val toks = texts.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
    val cf = toks.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size.toDouble }
    val total = cf.values.sum
    val pairs = toks.flatMap { case (_, ws) => ws.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))) }
    val c2 = pairs.groupBy(identity).map { case (p, o) => p -> o.size.toDouble }
    val ctx = pairs.groupBy(_._1).map { case (w, o) => w -> o.size.toDouble }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = toks.map { case (id, ws) =>
      if (ws.isEmpty) (id, 0L, 0.0)
      else {
        val ps = ws.zipWithIndex.map { case (w, i) =>
          val pu = cf(w) / total
          if (i == 0) pu else lambda * (c2((ws(i - 1), w)) / ctx(ws(i - 1))) + (1.0 - lambda) * pu
        }
        (id, ws.length.toLong, r4(ps.map(math.log).sum / ps.length))
      }
    }
    assert(got.toSeq == expected)
    // the doc whose bigrams repeat scores above the one with one-off contexts
    assert(got(0)._3 > got(4)._3)
  }

  test("tokenBudgetSample: rates from token totals, membership == contentSample (round-5)") {
    import spark.implicits._
    // g1: 12 tokens / budget 6 -> rate 500; g2: 4 tokens / budget 999
    // -> capped 1000 (all kept); g3: no budget -> dropped
    val docs = (0 until 60).map { i =>
      val g = if (i < 40) "g1" else if (i < 50) "g2" else "g3"
      (i.toLong, g, s"tok$i word ${(i * 17) % 23} filler body")
    }
    val df = docs.toDF("doc_id", "grp0", "text")
    val nTokOf = docs.map { case (id, _, t) => id -> t.split("\\s+").count(_.nonEmpty).toLong }.toMap
    val tokensG1 = docs.filter(_._2 == "g1").map(d => nTokOf(d._1)).sum
    val tokensG2 = docs.filter(_._2 == "g2").map(d => nTokOf(d._1)).sum
    val budget = Map("g1" -> tokensG1 / 2, "g2" -> tokensG2 * 10)
    val got = graft.ops.Sampling.tokenBudgetSample(df, "doc_id", "text", "grp0", budget)
      .as[(Long, String, Long, Long)].collect()

    val rateG1 = math.min(1000L, 1000L * (tokensG1 / 2) / tokensG1)
    assert(got.filter(_._2 == "g1").forall(_._4 == rateG1))
    // g2's budget exceeds its tokens: rate capped at 1000, every row kept
    assert(got.filter(_._2 == "g2").map(_._1).toSet ==
      docs.filter(_._2 == "g2").map(_._1).toSet)
    assert(got.filter(_._2 == "g2").forall(_._4 == 1000L))
    // unbudgeted group dropped entirely
    assert(!got.exists(_._2 == "g3"))
    // n_tokens column matches the \w+ count
    got.foreach { case (id, _, n, _) => assert(n == nTokOf(id)) }
    // membership per group == the content sampler at the computed rate
    val wantG1 = graft.ops.Sampling.contentSample(
        df.filter(col("grp0") === "g1"), "text", rateG1.toInt, salt = "mix")
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._2 == "g1").map(_._1).toSet == wantG1)
    assert(got.count(_._2 == "g1") > 0 && got.count(_._2 == "g1") < 40)
  }

  test("stripRepeatedLines: corpus-wide boilerplate removal (round-5)") {
    import spark.implicits._
    val docs = Seq(
      0L -> "keep one\nCOOKIE BANNER\nkeep two",
      1L -> "COOKIE BANNER\nunique line",
      2L -> "COOKIE BANNER",          // every line boilerplate -> ""
      3L -> "solo doc",               // untouched
      4L -> "dup pair\nmore",
      5L -> "dup pair")               // df=2 pair stripped from both
    val got = graft.ops.Dedup.stripRepeatedLines(docs.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, "keep one\nkeep two", 3L, 1L),
      (1L, "unique line", 2L, 1L),
      (2L, "", 1L, 1L),
      (3L, "solo doc", 1L, 0L),
      (4L, "more", 2L, 1L),
      (5L, "", 1L, 1L)))
    // separator is a LITERAL (regex metachars must not be interpreted)
    val got2 = graft.ops.Dedup.stripRepeatedLines(
        Seq(10L -> "a || b || a", 11L -> "a").toDF("doc_id", "text"),
        "doc_id", "text", minDf = 3, sep = " || ")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got2.toSeq == Seq((10L, "b", 3L, 2L), (11L, "", 1L, 1L)))
  }

  test("ictPairs: pinned crop arithmetic, short docs dropped (round-5)") {
    import spark.implicits._
    val docs = Seq(0L -> "a b c d e", 1L -> "x y", 2L -> "solo", 3L -> "")
      .toDF("doc_id", "text")
    val got = graft.ops.Fusion.ictPairs(docs, "doc_id", "text")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // n=5: q = ceil(2.5) = 3; n=2: q = min(ceil(1), 1) = 1; <2 tokens drop
    assert(got.toSeq == Seq(
      (0L, "a b c", "d e", 5L),
      (1L, "x", "y", 2L)))
    // cropFrac 0.25 over 8 tokens: q = ceil(2.0) = 2
    val got2 = graft.ops.Fusion.ictPairs(
        Seq(7L -> "t1 t2 t3 t4 t5 t6 t7 t8").toDF("doc_id", "text"),
        "doc_id", "text", cropFrac = 0.25)
      .as[(Long, String, String, Long)].collect()
    assert(got2.toSeq == Seq((7L, "t1 t2", "t3 t4 t5 t6 t7 t8", 8L)))
  }

  test("round-5 op plan shapes: broadcast candidate join, join-free sample pass") {
    import spark.implicits._
    // hardNegatives: the k-row candidate list must reach the embedding
    // relation as a BROADCAST join (never a shuffle of the embedding side).
    // repartition() keeps Catalyst from collapsing the local fixtures to a
    // pre-evaluated LocalTableScan, so the join strategy is actually planned.
    val lex = (1L to 20L).map(i => (i, 21.0 - i)).toDF("id", "score").repartition(2)
    val emb = (1L to 200L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 5 + 1).toFloat)))
      .toDF("vec_id", "embedding").repartition(8)
    val hnPlan = graft.ops.Fusion.hardNegatives(lex, emb, "vec_id", "embedding",
        Array.fill(8)(1f), simCutoff = 1.1).queryExecution.executedPlan.toString
    assert(hnPlan.contains("BroadcastHashJoin"), s"no broadcast in:\n$hnPlan")
    // tokenBudgetSample: the data pass is a literal CASE filter — the plan
    // that emits rows must contain NO join node at all
    val docs = (0 until 50).map(i => (i.toLong, if (i < 30) "g1" else "g2",
      s"w$i x y z")).toDF("doc_id", "grp0", "text").repartition(4)
    val tbPlan = graft.ops.Sampling.tokenBudgetSample(docs, "doc_id", "text",
        "grp0", Map("g1" -> 50L, "g2" -> 50L))
      .queryExecution.executedPlan.toString
    assert(!tbPlan.toLowerCase.contains("join"), s"join in sample pass:\n$tbPlan")
  }

  test("sourceStats: corpus-wide dup accounting per group (round-5)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "g1", "aaa bb"),       // dup of doc 2 (cross-group)
      (1L, "g1", "ccc"),
      (2L, "g2", "aaa bb"),
      (3L, "g2", "unique here")
    ).toDF("doc_id", "src", "text")
    val got = graft.ops.Report.sourceStats(docs, "doc_id", "text", "src")
      .as[(String, Long, Long, Double, Double, Long, Double)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("g1", 2L, 3L, 1.5, 4.5, 1L, 0.5),
      ("g2", 2L, 4L, 2.0, 8.5, 1L, 0.5)))
  }

  test("pplBuckets r6: distributed ntile == window ntile on a dominant-language corpus, no Window node") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.Selection
    // one stratum >> others (the CCNet dominant-language shape), spread
    // over many input partitions so the distributed rank crosses partition
    // boundaries mid-language
    val docs = (0L until 400L).map { i =>
      val lang = if (i % 20 == 0) s"l${i % 3}" else "en"
      (i, s"w${i % 37} w${(i * 7) % 53} w${(i * 11) % 11} tok$i", lang)
    }.toDF("doc_id", "text", "lang").repartition(16)
    val gotDf = Selection.pplBuckets(docs, "doc_id", "text", "lang", 4)
    // the r5 scale-killer was ntile OVER (PARTITION BY lang): assert the r6
    // op plans no window at all (the rank pass is a range-partitioned fold)
    assert(!gotDf.queryExecution.executedPlan.toString.contains("Window"))
    val got = gotDf.as[(Long, String, Double, Int, String)].collect().toSet
    // reference: the exact window-ntile form the oracle pins
    val scored = graft.ops.TextQuality.unigramLogProb(docs, "doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("logprob").desc, col("id").asc)
    val expected = docs.select(col("doc_id").cast("long").as("id"), col("lang"))
      .join(scored, Seq("id"))
      .withColumn("bucket", ntile(4).over(w))
      .select(col("id"), col("lang"), col("logprob"), col("bucket"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === 4, lit("tail"))
          .otherwise(lit("middle")).as("band"))
      .as[(Long, String, Double, Int, String)].collect().toSet
    assert(got == expected)
  }

  test("pplBuckets: repeated calls leave no broadcast behind") {
    import spark.implicits._
    import graft.ops.Selection
    import org.apache.spark.GraftTestAccess.broadcastBlocks
    val docs = (0L until 200L).map(i => (i, s"w${i % 13} w${(i * 7) % 29} tok$i", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang").repartition(4)
    // collected task binaries and finished plans go at GC (the context
    // cleaner); what a held result still pins stays
    def settled(): Int = {
      var (last, n, same) = (-1, 0, 0)
      while (same < 3 && n < 100) {
        System.gc(); Thread.sleep(100); n += 1
        val now = broadcastBlocks()
        same = if (now == last) same + 1 else 0
        last = now
      }
      last
    }
    // no broadcast join (nor the scorer's broadcast hint): a held result
    // then pins only what pplBuckets itself made
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.disableHints" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val before = settled()
      val held = (0 until 4).map(_ => Selection.pplBuckets(docs, "doc_id", "text", "lang", 3))
      val answers = held.map(_.as[(Long, String, Double, Int, String)].collect().toSet)
      assert(answers.distinct.size == 1 && answers.head.size == 200)
      val after = settled()
      assert(after <= before, s"broadcast blocks grew from $before to $after over 4 calls")
      assert(held.size == 4) // the results stay reachable until here
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ntileBucket r6: formula == SQL NTILE for every (n, buckets, rank)") {
    import graft.ops.Selection
    for (n <- 1L to 40L; k <- 1 to 7) {
      // SQL NTILE: first n%k buckets hold ceil(n/k) rows, the rest floor
      val sizes = (0 until k).map(i => n / k + (if (i < n % k) 1 else 0))
      val ref = sizes.zipWithIndex.flatMap { case (sz, i) => Seq.fill(sz.toInt)(i + 1) }
      (1L to n).foreach { r =>
        assert(Selection.ntileBucket(r, n, k) == ref((r - 1).toInt),
          s"n=$n k=$k rank=$r")
      }
    }
  }

  test("dupSpanStats r6: hashed-key form keeps the brute-force identity under many partitions") {
    import spark.implicits._
    // crafted overlaps: doc pairs sharing windows at different offsets
    val docs = Seq(
      (0L, "a b c d e f g h i j k l"),
      (1L, "x y a b c d e f z q"),          // shares a 5-window with doc 0
      (2L, "x y a b c d e f z q"),          // exact dup of 1
      (3L, "m n o p"),                      // shorter than window
      (4L, "")
    ).toDF("doc_id", "text").repartition(7)
    val got = graft.ops.Dedup.dupSpanStats(docs, "doc_id", "text", 5, 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    // brute-force reference over raw span text
    val texts = Map(0L -> "a b c d e f g h i j k l", 1L -> "x y a b c d e f z q",
      2L -> "x y a b c d e f z q", 3L -> "m n o p", 4L -> "")
    val spans: Map[Long, Seq[(Int, String)]] = texts.map { case (id, t) =>
      val w = graft.ops.Dedup.words(t)
      id -> (0 to w.length - 5).map(p => (p, w.slice(p, p + 5).mkString(" ")))
    }
    val dupSet = spans.values.flatten.groupBy(_._2)
      .filter { case (_, occ) =>
        spans.count { case (_, ss) => ss.exists(x => x._2 == occ.head._2) } >= 2
      }.keySet
    got.foreach { case (id, ntok, nSpans, dupSpans, dupTokens, frac) =>
      val w = graft.ops.Dedup.words(texts(id))
      assert(ntok == w.length)
      assert(nSpans == math.max(0, w.length - 5 + 1))
      val dups = spans(id).filter(s => dupSet.contains(s._2))
      assert(dupSpans == dups.size, s"doc $id")
      val covered = dups.flatMap(s => s._1 until (s._1 + 5)).toSet
      assert(dupTokens == covered.size, s"doc $id coverage")
      val expFrac = if (w.isEmpty) 0.0
        else math.floor(covered.size.toDouble / w.length * 1e4 + 0.5) / 1e4
      assert(math.abs(frac - expFrac) < 1e-12)
    }
  }
}
