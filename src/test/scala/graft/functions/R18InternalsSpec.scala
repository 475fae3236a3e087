package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Focused pins for the r18 optimization internals: iterCheckpoint's mode
  * precedence (auto-reliable when a checkpoint dir is configured), the
  * declared-partitioning checkpoint, and the ngramJaccardPairs length
  * filter's value-equivalence. */
class R18InternalsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def lrOf(df: org.apache.spark.sql.DataFrame): LogicalRDD =
    df.queryExecution.logical.asInstanceOf[LogicalRDD]

  test("iterCheckpoint mode precedence: unset conf auto-reliables on checkpoint dir") {
    // order-robust in the SHARED test session: other suites (GraphSpec's
    // reliable-mode test) may have left a checkpoint dir set — there is no
    // unset API — so the no-dir cases run only when no dir exists yet, and
    // the finally leaves the conf EXPLICITLY false (the local fast path)
    // so a leftover dir cannot silently flip later suites to reliable.
    val sc = spark.sparkContext
    val hadConf = spark.conf.getOption("spark.graft.reliableCheckpoints")
    val base = spark.range(0, 100).toDF("id")
    def mode(df: org.apache.spark.sql.DataFrame): String = {
      val rdd = lrOf(df).rdd
      // reliable checkpoints write files; localCheckpoint leaves no file
      if (rdd.getCheckpointFile.isDefined) "reliable" else "local"
    }
    try {
      if (sc.getCheckpointDir.isEmpty) {
        // (a) no conf, no checkpoint dir -> local fast path
        spark.conf.unset("spark.graft.reliableCheckpoints")
        assert(mode(Barrier.iterCheckpoint(base)) == "local")
        // (b) conf=true without a dir -> fail fast, not a silent local run
        spark.conf.set("spark.graft.reliableCheckpoints", "true")
        intercept[IllegalArgumentException] { Barrier.iterCheckpoint(base) }
      }
      // (c) dir set, conf UNSET -> auto-reliable (r17 verdict #5)
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      spark.conf.unset("spark.graft.reliableCheckpoints")
      assert(mode(Barrier.iterCheckpoint(base)) == "reliable")
      // (d) dir set, conf EXPLICITLY false -> the explicit local path wins
      spark.conf.set("spark.graft.reliableCheckpoints", "false")
      assert(mode(Barrier.iterCheckpoint(base)) == "local")
      // (e) dir set, conf true -> reliable
      spark.conf.set("spark.graft.reliableCheckpoints", "true")
      assert(mode(Barrier.iterCheckpoint(base)) == "reliable")
    } finally {
      hadConf match {
        case Some(v) => spark.conf.set("spark.graft.reliableCheckpoints", v)
        case None => spark.conf.set("spark.graft.reliableCheckpoints", "false")
      }
    }
  }

  test("crawlIngest survivors stay a local checkpoint when a checkpoint dir is set") {
    // same order-robust pattern as the mode-precedence test: the dir may
    // already be set by another suite; the conf is left explicitly false
    val sc = spark.sparkContext
    val hadConf = spark.conf.getOption("spark.graft.reliableCheckpoints")
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    val dir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
    val fs = dir.getFileSystem(sc.hadoopConfiguration)
    def files(): Set[String] = {
      val it = fs.listFiles(dir, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
    val pages = Seq(
      (1L, "https://a.com/x", "<html><head><title>A</title></head><body><p>alpha words here</p></body></html>"),
      (2L, "https://b.com/y", "<html><head><title>B</title></head><body><p>beta words here</p></body></html>"))
      .toDF("doc_id", "url", "html")
    try {
      spark.conf.unset("spark.graft.reliableCheckpoints")
      val before = files()
      val out = Curation.crawlIngest(pages, domainCap = 3)
      assert(out.count() == 2)
      assert(files() == before, "crawlIngest wrote reliable checkpoint files")
    } finally {
      hadConf match {
        case Some(v) => spark.conf.set("spark.graft.reliableCheckpoints", v)
        case None => spark.conf.set("spark.graft.reliableCheckpoints", "false")
      }
    }
  }

  test("checkpoint declares the final plan's hash partitioning (and only a truthful one)") {
    val n = spark.sessionState.conf.numShufflePartitions
    // explicit-N repartition: AQE never coalesces REPARTITION_BY_NUM, so
    // the declared layout must be the plain hash(id, n)
    val ck = Barrier.iterCheckpoint(
      spark.range(0, 10000).toDF("id").repartition(n, col("id")))
    val part = lrOf(ck).outputPartitioning
    assert(part.toString.contains(s"hashpartitioning(id#") &&
      part.numPartitions == n, s"declared $part")
    // a co-partitioned self-aggregate over the declared layout plans with
    // NO fresh exchange under the declared frame
    val agg = ck.groupBy("id").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("ENSURE_REQUIREMENTS"),
      s"declared partitioning not reused:\n$plan")
    // round-trip values intact
    assert(ck.agg(sum("id")).as[Long].head() == (0L until 10000L).sum)
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
