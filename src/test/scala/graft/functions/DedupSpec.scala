package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpus = Seq(
    // doc 1: unique body + the shared cookie banner
    (1L, "We use cookies on this site\nAlpha unique body one\n\nAlpha tail"),
    // doc 2: banner again (dup), unique body
    (2L, "We use cookies on this site\nBeta unique body two"),
    // doc 3: banner + a line also repeated inside doc 3 itself
    (3L, "Gamma start\nRepeated inside\nRepeated inside\nWe use cookies on this site"))
    .toDF("doc_id", "text")

  test("paragraphDedup keeps the globally first occurrence, drops later copies") {
    val out = Dedup.paragraphDedup(corpus, minDupCount = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // banner first occurs at (1, 0); "Repeated inside" first at (3, 1);
    // blank line in doc 1 is formatting — kept, never counted
    assert(out(0) == ((1L,
      "We use cookies on this site\nAlpha unique body one\n\nAlpha tail", 4L, 4L)))
    assert(out(1) == ((2L, "Beta unique body two", 2L, 1L)))
    assert(out(2) == ((3L, "Gamma start\nRepeated inside", 4L, 2L)))
  }

  test("paragraphDedup keepFirst=false kills every copy of a duplicated paragraph") {
    val out = Dedup.paragraphDedup(corpus, minDupCount = 2, keepFirst = false)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(
      (1L, "Alpha unique body one\n\nAlpha tail"),
      (2L, "Beta unique body two"),
      (3L, "Gamma start")))
  }

  test("paragraphDedup: every-paragraph-dropped doc survives as an empty row") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "same")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, keepFirst = false)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(out == Seq((1L, "", 0L), (2L, "", 0L), (3L, "", 0L)))
  }

  test("incrementalParagraphDedup screens a batch against stored corpus counts") {
    val corpusDocs = Seq(
      (1L, "We use cookies on this site\nAlpha unique body one"),
      (2L, "Corpus only line"))
      .toDF("doc_id", "text")
    val counts = Dedup.paragraphHashCounts(corpusDocs)
    // 3 distinct non-blank paragraphs, 16 bytes each — corpus text never
    // re-read by the screen
    assert(counts.count() == 3)
    val batch = Seq(
      // banner known to the corpus (dropped), novel line (kept)
      (10L, "We use cookies on this site\nDelta novel body"),
      // novel line duplicated WITHIN the batch: first kept, second dropped
      (11L, "Batch repeated line\nOwn content eleven"),
      (12L, "Batch repeated line\nOwn content twelve"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalParagraphDedup(counts, batch)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(out == Seq(
      (10L, "Delta novel body", 1L),
      (11L, "Batch repeated line\nOwn content eleven", 2L),
      (12L, "Own content twelve", 1L)))
    // keepFirst=false: within-batch dup killed everywhere; shuffle-join
    // path (broadcastBatch=false) agrees with the broadcast path
    val strict = Dedup.incrementalParagraphDedup(counts, batch,
        keepFirst = false, broadcastBatch = false)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(strict == Seq(
      (10L, "Delta novel body"),
      (11L, "Own content eleven"),
      (12L, "Own content twelve")))
    // the maintenance recipe: corpus ∪ batch counts re-sum additively —
    // equivalent to rebuilding from scratch over both doc sets
    val merged = counts.union(Dedup.paragraphHashCounts(batch))
      .groupBy("para_h").agg(sum("n").as("n"))
    val rebuilt = Dedup.paragraphHashCounts(corpusDocs.union(batch))
    assert(merged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(merged).isEmpty)
  }

  test("paragraphDedup: null-text docs survive as empty rows (one row per input doc)") {
    val docs = Seq((1L, Some("a\nb")), (2L, None), (3L, Some("a\nc")))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a\nb"), (2L, ""), (3L, "c")))
    val inc = Dedup.incrementalParagraphDedup(
        Dedup.paragraphHashCounts(docs),
        Seq((10L, None: Option[String])).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(inc == Seq((10L, "")))
  }

  test("minhashColumn rejects degenerate parameters") {
    intercept[IllegalArgumentException](Dedup.minhashColumn(col("text"), 3, 0))
    intercept[IllegalArgumentException](Dedup.minhashColumn(col("text"), 0, 16))
  }

  test("paragraphDedup is idempotent (keepFirst): a deduped corpus has nothing left to drop") {
    // seeded generator: 40 docs over a small paragraph vocabulary so
    // duplicates are dense; splitmix-style arithmetic keeps it deterministic
    val rnd = new scala.util.Random(1337)
    val vocab = (0 until 12).map(i => s"paragraph body number $i")
    val docs = (1L to 40L).map { id =>
      val n = 1 + rnd.nextInt(5)
      (id, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString("\n"))
    }.toDF("doc_id", "text")
    val once = Dedup.paragraphDedup(docs).select("doc_id", "text")
    val twice = Dedup.paragraphDedup(once).select("doc_id", "text")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
    // and the pass really dropped something, so idempotence is non-vacuous
    val kept = Dedup.paragraphDedup(docs).agg(
      sum("n_kept").cast("long"), sum("n_paras").cast("long")).head()
    assert(kept.getLong(0) < kept.getLong(1))
  }

  test("incrementalParagraphDedup broadcast path survives with auto-broadcast off") {
    // with the auto threshold disabled, only EXPLICIT hints can produce a
    // BroadcastHashJoin — this fails if either hint lands on an invalid
    // build side and gets dropped (the pre-fix shape: a hint on the
    // preserved side of the left-outer join, silently ignored)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val counts = Dedup.paragraphHashCounts(corpus)
      val plan = Dedup.incrementalParagraphDedup(counts,
          Seq((10L, "We use cookies on this site\nNovel")).toDF("doc_id", "text"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // formatted explain prints every join TWICE (tree node + details
      // header), so two distinct joins = 4 matching lines; a single
      // surviving join (the pre-fix dropped-hint shape) gives only 2
      val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin")) / 2
      assert(bhj >= 2, s"expected both screen joins broadcast, got $bhj:\n" +
        plan.linesIterator.take(30).mkString("\n"))
    } finally spark.conf.set(key, prev)
  }

  test("incrementalHamming screens new hashes against a stored corpus table") {
    val corpus = Seq((1L, 0x00000000000000FFL), (2L, 0x7F00FF0000FF00FFL))
      .toDF("media_id", "dhash")
    val batch = Seq[(Long, java.lang.Long)](
      (10L, 0x00000000000000FDL), // 1 bit from corpus id 1
      (11L, 0x123456789ABCDEF0L), // novel
      (12L, null)) // undecodable: screens clean
      .toDF("media_id", "dhash")
    val pairs = Dedup.incrementalHamming(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((10L, 1L, 1)))
    // broadcast path survives with auto-broadcast off (valid build side)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = Dedup.incrementalHamming(corpus, batch)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) / 2 >= 1,
        plan.linesIterator.take(25).mkString("\n"))
      assert(!plan.contains("SortMergeJoin"), "corpus screen degraded to sort-merge")
    } finally spark.conf.set(key, prev)
  }

  test("incrementalParagraphDedup ≡ paragraphDedup over corpus∪batch (seeded property)") {
    // the documented contract, checked wholesale: for corpus ids < batch
    // ids (so corpus occurrences globally precede), the incremental screen
    // must reproduce EXACTLY the batch operator's verdict on the batch rows
    val rnd = new scala.util.Random(7331)
    val vocab = (0 until 10).map(i => s"vocab paragraph $i with shared words")
    def gen(ids: Range) = ids.map { id =>
      val n = 1 + rnd.nextInt(4)
      (id.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString("\n"))
    }
    for (trial <- 1 to 3) {
      val corpusDocs = gen(1 to 30).toDF("doc_id", "text")
      val batch = gen(31 to 45).toDF("doc_id", "text")
      for (keepFirst <- Seq(true, false)) {
        val incremental = Dedup.incrementalParagraphDedup(
            Dedup.paragraphHashCounts(corpusDocs), batch, keepFirst = keepFirst)
          .select("doc_id", "text", "n_paras", "n_kept")
        val global = Dedup.paragraphDedup(
            corpusDocs.union(batch), keepFirst = keepFirst)
          .filter(col("doc_id") >= 31)
          .select("doc_id", "text", "n_paras", "n_kept")
        assert(incremental.exceptAll(global).isEmpty &&
          global.exceptAll(incremental).isEmpty,
          s"trial $trial keepFirst=$keepFirst diverged")
      }
    }
  }

  test("incrementalHamming maxBucketSize drops hot corpus buckets (both join paths)") {
    // 6 identical corpus hashes: every probed (band, bits) bucket holds 6
    // postings; cap 3 drops them all, so an exact-dup batch screens clean
    val corpus = ((1L to 6L).map((_, 0x0123456789ABCDEFL)) :+ (7L, 0x7E57000000000000L))
      .toDF("media_id", "dhash")
    val batch = Seq((20L, 0x0123456789ABCDEFL)).toDF("media_id", "dhash")
    for (bcast <- Seq(true, false)) {
      val capped = Dedup.incrementalHamming(corpus, batch,
        maxBucketSize = Some(3), broadcastIncoming = bcast)
      assert(capped.count() == 0, s"broadcastIncoming=$bcast")
      val uncapped = Dedup.incrementalHamming(corpus, batch,
        broadcastIncoming = bcast)
      assert(uncapped.count() == 6, s"broadcastIncoming=$bcast")
    }
  }

  test("incrementalHamming ≡ brute-force banded candidates (seeded property)") {
    // wholesale contract check against a driver-side reference: every
    // (incoming, corpus) pair that shares ≥ 1 band slice AND sits within
    // maxDist bits must surface with the exact distance — across
    // non-default band widths and a dense near-dup hash population
    val rnd = new scala.util.Random(9001)
    def hashes(n: Int, idBase: Long): Seq[(Long, Long)] = (0 until n).map { i =>
      val base = rnd.nextLong()
      // half the population: a 1-3 bit perturbation of a fresh base —
      // guarantees pairs at several distances in [1, maxDist]
      val h = if (i % 2 == 0) base
        else base ^ (1 to 1 + rnd.nextInt(3)).map(_ => 1L << rnd.nextInt(64))
          .foldLeft(0L)(_ | _)
      (idBase + i, h)
    }
    for (bands <- Seq(4, 8); maxDist <- Seq(3, 6)) {
      val corpusH = hashes(40, 1L)
      val batchH = hashes(25, 1001L)
      // make guaranteed cross near-dups: 10 batch hashes are perturbations
      // of corpus hashes
      val linked = batchH.take(10).zip(corpusH.take(10)).map {
        case ((bi, _), (_, ch)) => (bi, ch ^ (1L << rnd.nextInt(64)))
      } ++ batchH.drop(10)
      val width = 64 / bands
      def slice(h: Long, b: Int) = (h >>> (b * width)) & (if (width == 64) -1L else (1L << width) - 1)
      val expected = (for {
        (ci, ch) <- corpusH; (bi, bh) <- linked
        if (0 until bands).exists(b => slice(ch, b) == slice(bh, b))
        d = java.lang.Long.bitCount(ch ^ bh) if d <= maxDist
      } yield (bi, ci, d)).toSet
      val got = Dedup.incrementalHamming(
          corpusH.toDF("media_id", "dhash"), linked.toDF("media_id", "dhash"),
          maxDist = maxDist, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected,
        s"bands=$bands maxDist=$maxDist missing=${expected -- got} extra=${got -- expected}")
      assert(expected.nonEmpty, "vacuous trial: fixture produced no pairs")
    }
  }

  test("paragraphDedup dup-stat aggregate is map-side combinable (no window over the hash)") {
    val plan = Dedup.paragraphDedup(corpus).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // a Window over the paragraph hash would buffer a boilerplate key's
    // entire posting list in one task; the stats must come from a partial
    // (map-side) HashAggregate instead
    assert(!plan.contains("Window"), plan.linesIterator.take(25).mkString("\n"))
    assert(plan.contains("HashAggregate"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("pairStruct ≡ pair: bound-digest double hash matches the twin-md5 form") {
    val vals = Seq("", "a", "the quick brown fox", "ünïcode ✓", "x" * 500,
      "line\nbreak\ttab") ++ (0 until 200).map(i => s"shingle $i words here")
    val df = vals.toDF("s")
    val (h1, h2) = PortableHash.pair(col("s"))
    val got = df.select(PortableHash.pairStruct(col("s")).as("p"),
        h1.as("h1"), h2.as("h2"))
      .collect()
    got.foreach { r =>
      val p = r.getStruct(0)
      assert(p.getLong(0) == r.getLong(1) && p.getLong(1) == r.getLong(2))
    }
  }

  test("ngramJaccardPairs length filter is value-invisible (differential vs unfiltered)") {
    // mixed lengths: long docs, short docs, exact dups, a short-vs-long
    // pair sharing every short shingle (high overlap, impossible ratio)
    val long1 = ((1 to 60).map(i => s"w$i") :+ "tail").mkString(" ")
    val docs = Seq(
      (1L, long1), (2L, long1), // exact dup pair
      (3L, (1 to 12).map(i => s"w$i").mkString(" ")), // prefix of long1
      (4L, (1 to 12).map(i => s"w$i").mkString(" ")), // dup of 3
      (5L, "w1 w2 w3 w4"), // tiny subset
      (6L, (30 to 90).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    // unfiltered reference: the r17 join (no size bound), same hash keys
    val arr = Dedup.shingleArray(docs, "text", "doc_id", 3)
    val sizes = arr.select(col("doc_id"), size(col("shingles")).as("n_sh"))
    val sh = arr.select(col("doc_id"), explode(col("shingles")).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("shingle"))
    val ref = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= 0.35)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b").collect().toSeq
    val got = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.35)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got == ref, s"length filter changed the result:\nref=$ref\ngot=$got")
    assert(got.nonEmpty, "fixture must produce pairs or the test pins nothing")
  }
}
