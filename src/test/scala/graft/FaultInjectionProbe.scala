package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Fault-tolerance probe: the measured half of the 100-TB story that the
  * plan-shape specs can't cover. On a 1000-executor cluster, task failure
  * is the steady state (spot preemption, OOM kills, disk faults) — an
  * operator is only scale-credible if a retried task reproduces the SAME
  * answer. Two parts:
  *
  * PART A — retry determinism. A `local[8,2]` master gives every task a
  * second attempt; a nondeterministic-marked injector expression kills
  * ATTEMPT 0 of a fixed subset of partitions in whatever stage it lands in
  * (scan stages when injected at the source, reduce stages when injected
  * post-shuffle), so every covered stage takes real task failures and
  * Spark's retry machinery recomputes those partitions. Each operator runs
  * once CLEAN and once FAULTED; results must match row-for-row (doubles
  * rounded to 9 dp — partial-agg merge order already makes last-ULP float
  * noise between ANY two runs, faults or not). A listener counts failed
  * tasks to prove the injection actually fired; a scenario that reports 0
  * failed tasks is a probe bug, not a pass. Covered shapes: exact-dedup
  * (scan-stage faults), groupBy aggregate (reduce-stage faults), MinHash
  * LSH (fault under a persist barrier: the retried task recomputes the
  * cached partition), PageRank in BOTH checkpoint modes (faults across an
  * iterative loop with interval checkpoints — the retried rounds must not
  * drift the vector).
  *
  * PART B — the [[graft.functions.Barrier.iterCheckpoint]] trade, made
  * concrete. `localCheckpoint` truncates lineage AND keeps the only copy
  * of the data in executor block managers: losing those blocks mid-loop is
  * unrecoverable BY DESIGN (Spark's own caveat). The probe materializes a
  * checkpointed vector, wipes every persistent RDD (the local-mode stand-in
  * for losing the executors that held the blocks), and asserts the
  * local-mode arm FAILS the next action while the reliable-mode arm (a
  * checkpoint dir is set, which alone selects reliable mode) recomputes
  * from the checkpoint files and returns the same count. The local arms run
  * before the dir is set: SparkContext cannot unset it. That is exactly the
  * insurance an hours-long 1000-executor ranking run buys with a checkpoint
  * dir.
  *
  * Run: `scripts/runprobe.sh graft.FaultInjectionProbe [sfDir]`.
  * Output: one JSON line per scenario + a `PASS`/`FAIL` summary line.
  */
object FaultInjectionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // local[8,2]: 8 threads, maxFailures=2 — attempt 0 may die, attempt 1
    // must land. Everything else mirrors the shared test session.
    val spark = SparkSession.builder()
      .master("local[8,2]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val failedTasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    })

    // Kills ATTEMPT 0 of every row-bearing partition of whatever stage
    // evaluates it (the injector only runs on rows, so empty partitions
    // can't fire — failing all first attempts guarantees coverage on
    // small-SF stages and is the maximal-stress shape: every covered task
    // fails once and must land on retry). asNondeterministic: the
    // optimizer must not fold it away, push it across operators, or
    // collapse duplicate evaluations.
    val inject = udf { () =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException("graft-injected-fault (expected; retried)")
      true
    }.asNondeterministic()

    def canon(df: DataFrame): Seq[String] = {
      val rounded = df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.DoubleType)
          d.withColumn(f.name, round(col(f.name), 9))
        else d
      }
      rounded.collect().map(_.toString).sorted.toSeq
    }

    var allPass = true
    def scenario(name: String)(clean: => DataFrame)(faulted: => DataFrame): Unit = {
      val expect = canon(clean)
      val before = failedTasks.get()
      val got = canon(faulted)
      val fired = failedTasks.get() - before
      val same = got == expect
      // 0 fired faults means the injector never ran in the faulted arm —
      // that's a probe bug masquerading as a pass
      val ok = same && fired > 0
      if (!ok) allPass = false
      println(s"""{"scenario":"$name","rows":${expect.size},""" +
        s""""failed_tasks":$fired,"identical":$same,"pass":$ok}""")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    import graft.functions.{Dedup, Graph}

    // -- A1: scan-stage faults under exact dedup -------------------------
    scenario("exact_dedup_scan_faults") {
      Dedup.exact(docs)
        .select(col("doc_id"))
    } {
      Dedup.exact(docs.filter(inject()))
        .select(col("doc_id"))
    }

    // -- A2: reduce-stage faults (injector AFTER the shuffle) ------------
    scenario("agg_reduce_faults") {
      orders.groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"),
          count(lit(1)).as("n"))
    } {
      orders.groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"),
          count(lit(1)).as("n"))
        .filter(inject())
    }

    // -- A3: faults beneath a persist barrier (MinHash LSH) --------------
    // the retried task recomputes a partition of the PERSISTED signature
    // frame; the candidate pairs must not change
    scenario("minhash_lsh_persist_faults") {
      Dedup.minhashLsh(docs.limit(2000), numHashes = 16, bands = 4,
        threshold = 0.5)
    } {
      Dedup.minhashLsh(docs.limit(2000).filter(inject()), numHashes = 16,
        bands = 4, threshold = 0.5)
    }

    // a small deterministic link graph synthesized from docs (same recipe
    // as the soak probe: hash-derived edges, positive weights)
    def edges(src: DataFrame): DataFrame = src
      .select((abs(hash(col("source"), col("doc_id"))) % 97).as("src_domain"),
        (abs(hash(col("text"))) % 97).as("dst_domain"),
        (lit(1.0) + (abs(hash(col("doc_id"))) % 5).cast("double")).as("weight"))
      .filter(col("src_domain") =!= col("dst_domain"))

    // -- A4: faults across the iterative loop, DEFAULT local checkpoints --
    scenario("pagerank_local_ckpt_faults") {
      Graph.pageRank(edges(docs), iterations = 6, checkpointEvery = 2,
        srcCol = "src_domain", dstCol = "dst_domain")
    } {
      Graph.pageRank(edges(docs.filter(inject())), iterations = 6,
        checkpointEvery = 2, srcCol = "src_domain", dstCol = "dst_domain")
    }

    // -- PART B: block loss vs the two checkpoint modes -------------------
    def wipeBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val base = docs.select(col("doc_id"), (col("doc_id") % 7).as("g"))

    // B1: local mode (no checkpoint dir is set yet) — blocks ARE the data;
    // losing them after lineage truncation must fail the next action (the
    // documented caveat)
    val vLocal = graft.functions.Barrier.iterCheckpoint(base)
    val nLocal = vLocal.count()
    wipeBlocks()
    val localDied = scala.util.Try(vLocal.count()).isFailure
    println(s"""{"scenario":"block_loss_local_ckpt","rows":$nLocal,""" +
      s""""action_after_loss_failed":$localDied,"pass":$localDied}""")
    if (!localDied) allPass = false

    // from here on a checkpoint dir is set: reliable mode
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_fault_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)

    // -- A5: the iterative loop in RELIABLE checkpoint mode ---------------
    scenario("pagerank_reliable_ckpt_faults") {
      Graph.pageRank(edges(docs), iterations = 6, checkpointEvery = 2,
        srcCol = "src_domain", dstCol = "dst_domain")
    } {
      Graph.pageRank(edges(docs.filter(inject())), iterations = 6,
        checkpointEvery = 2, srcCol = "src_domain", dstCol = "dst_domain")
    }

    // B2: reliable mode — the vector lives in checkpoint FILES; the same
    // block wipe costs a re-read, not the job
    val vRel = graft.functions.Barrier.iterCheckpoint(base)
    val nRel = vRel.count()
    wipeBlocks()
    val survived = scala.util.Try(vRel.count()).toOption.contains(nRel)
    println(s"""{"scenario":"block_loss_reliable_ckpt","rows":$nRel,""" +
      s""""action_after_loss_failed":${!survived},"pass":$survived}""")
    if (!survived) allPass = false

    println(if (allPass) "FAULT-INJECTION PROBE: PASS" else
      "FAULT-INJECTION PROBE: FAIL")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
