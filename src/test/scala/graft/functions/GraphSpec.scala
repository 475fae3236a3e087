package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{ExplainMode, LogicalRDD}
import org.apache.spark.graft.{CheckpointDirScope, JobsDuring}
import graft.SparkTestSession

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String, Double)], iters: Int,
                      damping: Double = 0.85): Map[String, Double] =
    Graph.pageRank(edges.toDF("src_domain", "dst_domain", "weight"), iters,
        damping)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank: hand-computed two-node-plus-dangling graph") {
    // A→B, B→A, B→C; C dangles. n=3, d=0.85, r0 = 1/3 each.
    val e = Seq(("A", "B", 1.0), ("B", "A", 1.0), ("B", "C", 1.0))
    val r1 = ranksOf(e, 1)
    // dm = 1/3; A: .05+.85*(1/6+1/9), B: .05+.85*(1/3+1/9), C = A's formula
    assert(math.abs(r1("A") - (0.05 + 0.85 * (1.0 / 6 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r1("B") - (0.05 + 0.85 * (1.0 / 3 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r1("C") - r1("A")) < 1e-12)
    // second iteration by hand from r1
    val dm2 = r1("C")
    val a2 = 0.05 + 0.85 * (r1("B") / 2 + dm2 / 3)
    val b2 = 0.05 + 0.85 * (r1("A") + dm2 / 3)
    val c2 = 0.05 + 0.85 * (r1("B") / 2 + dm2 / 3)
    val r2 = ranksOf(e, 2)
    assert(math.abs(r2("A") - a2) < 1e-12)
    assert(math.abs(r2("B") - b2) < 1e-12)
    assert(math.abs(r2("C") - c2) < 1e-12)
  }

  test("pageRank: mass conservation — ranks sum to exactly 1 every round") {
    val e = Seq(("A", "B", 2.0), ("B", "C", 1.0), ("C", "A", 1.0),
      ("A", "D", 1.0), ("E", "A", 3.0)) // D dangles, E is source-only
    for (k <- Seq(0, 1, 3, 7)) {
      val s = ranksOf(e, k).values.sum
      assert(math.abs(s - 1.0) < 1e-9, s"iter $k: sum $s")
    }
  }

  test("pageRank: a uniform cycle stays uniform (fixpoint)") {
    val e = Seq(("A", "B", 1.0), ("B", "C", 1.0), ("C", "A", 1.0))
    val r = ranksOf(e, 5)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("pageRank: edge weights steer the split, duplicates pre-aggregate") {
    // A splits 3:1 between B and C (via duplicate rows summing to 3), both
    // dangle — after one round B's contribution share is exactly 3× C's
    val e = Seq(("A", "B", 2.0), ("A", "B", 1.0), ("A", "C", 1.0))
    val r = ranksOf(e, 1)
    val contribB = (r("B") - 0.05) / 0.85 // contrib + dm/3
    val contribC = (r("C") - 0.05) / 0.85
    val dmOverN = (2.0 / 3) / 3 // B+C dangle with r0 = 1/3 each
    assert(math.abs((contribB - dmOverN) / (contribC - dmOverN) - 3.0) < 1e-9)
  }

  test("pageRank: iterations=0 gives the uniform prior; empty graph is empty") {
    val r0 = ranksOf(Seq(("A", "B", 1.0)), 0)
    assert(r0 == Map("A" -> 0.5, "B" -> 0.5))
    val empty = Graph.pageRank(
      Seq.empty[(String, String, Double)].toDF("src_domain", "dst_domain", "weight"), 3)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("node", "rank"))
  }

  test("pageRank: unweighted form (weightCol=None) splits out-degree evenly") {
    val df = Seq(("A", "B", 99.0), ("A", "C", 1.0)).toDF("src_domain", "dst_domain", "weight")
    val r = Graph.pageRank(df, 1, weightCol = None)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("B") - r("C")) < 1e-12) // the 99 is ignored
  }

  test("pageRank materializes its input ONCE (outw/shares/nodes read the cache)") {
    // existence proof via accumulator: the upstream edge producer runs one
    // task pass total — without the edge-aggregate persist, outw + shares +
    // nodes would each re-run it (for a linkGraph input that's 4× the
    // per-page regex extraction over the corpus)
    val acc = spark.sparkContext.longAccumulator("edgeScans")
    val counted = spark.range(0, 100)
      .map { id => acc.add(1); (s"s${id % 5}", s"d${id % 7}", 1.0) }
      .toDF("src_domain", "dst_domain", "weight")
    Graph.pageRank(counted, 2).collect()
    assert(acc.value == 100L, s"upstream ran ${acc.value / 100.0}x, want 1x")
  }

  test("pageRankStep plan: join + aggregate + 1-row broadcast, no cartesian") {
    val e = Seq(("A", "B", 1.0), ("B", "A", 1.0)).toDF("src_domain", "dst_domain", "weight")
    val ed = e.select(col("src_domain").as("src"), col("dst_domain").as("dst"),
      col("weight").as("w"))
    val outw = ed.groupBy("src").agg(sum("w").as("ow"))
    val shares = ed.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("share"))
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct()
    val ranks = nodes.withColumn("rank", lit(0.5))
    val step = Graph.pageRankStep(nodes, shares,
      outw.select(col("src").as("node")), ranks, 2L, 0.85)
    val p = step.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the broadcast of the 1-row dangling
    // frame ("(id) Op" anchors on the detail section — the bare op name
    // also appears on the tree line and would double-count)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
  }

  test("linkGraph: resolve, PSL domains, self-loop drop, weight aggregation") {
    val pages = Seq(
      // two links to the same target domain → weight 2; one self-loop (www
      // and bare host reduce to the same registered domain) → dropped
      ("https://www.blog.example.com/post/1",
        """<a href="https://News.Target.ORG:443/a">x</a>
          |<a href='/local/page'>self</a>
          |<a href="http://target.org/b?utm_source=z">y</a>
          |<a href="mailto:a@b.com">mail</a>
          |<a href="javascript:void(0)">js</a>""".stripMargin),
      // relative link resolves against the base → cross-domain edge stays
      ("https://news.bbc.co.uk/world/", "<a href=\"//partner.site.io/x\">p</a>")
    ).toDF("url", "html")
    val got = Graph.linkGraph(pages)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("example.com", "target.org", 2L),
      ("bbc.co.uk", "site.io", 1L)))
  }

  private def trustOf(edges: Seq[(String, String, Double)], seeds: Seq[String],
                      iters: Int): Map[String, Double] =
    Graph.trustRank(edges.toDF("src_domain", "dst_domain", "weight"),
        seeds.toDF("node"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("trustRank: hand-computed chain — trust decays with distance from the seed") {
    // A→B→C, C dangles; seed = {A}
    val e = Seq(("A", "B", 1.0), ("B", "C", 1.0))
    val r2 = trustOf(e, Seq("A"), 2)
    assert(math.abs(r2("A") - 0.15) < 1e-12)
    assert(math.abs(r2("B") - 0.1275) < 1e-12) // 0.85 · 0.15
    assert(math.abs(r2("C") - 0.7225) < 1e-12) // 0.85 · 0.85
    // iter 3: C's dangling mass teleports back to the SEED, not uniformly
    val r3 = trustOf(e, Seq("A"), 3)
    assert(math.abs(r3("A") - (0.15 + 0.85 * 0.7225)) < 1e-12)
    assert(math.abs(r3("B") - 0.1275) < 1e-12)
    assert(math.abs(r3("C") - 0.85 * 0.1275) < 1e-12)
  }

  test("trustRank: mass conservation; spam farm unreachable from seeds scores 0") {
    // D and E form a mutual-endorsement farm with no path from the seed
    val e = Seq(("A", "B", 1.0), ("B", "A", 1.0),
      ("D", "E", 1.0), ("E", "D", 1.0))
    for (k <- Seq(1, 4)) {
      val r = trustOf(e, Seq("A"), k)
      assert(math.abs(r.values.sum - 1.0) < 1e-9)
      assert(r("D") == 0.0 && r("E") == 0.0,
        "farm nodes manufactured trust without seed proximity")
    }
  }

  test("trustRank: empty graph returns empty (pageRank-consistent), seedless graph errors") {
    val none = Seq.empty[(String, String, Double)].toDF("src_domain", "dst_domain", "weight")
    val empty = Graph.trustRank(none, Seq("A").toDF("node"), 3)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("node", "rank"))
    // a REAL graph with no seed present stays a hard configuration error
    val e = Seq(("A", "B", 1.0)).toDF("src_domain", "dst_domain", "weight")
    intercept[IllegalArgumentException] {
      Graph.trustRank(e, Seq("zzz").toDF("node"), 3)
    }
  }

  test("trustRank: seeds outside the graph are ignored; all-seeds ≈ pageRank") {
    val e = Seq(("A", "B", 1.0), ("B", "C", 1.0), ("C", "A", 1.0), ("A", "C", 2.0))
    val withGhost = trustOf(e, Seq("A", "not-in-graph.example"), 3)
    val without = trustOf(e, Seq("A"), 3)
    withGhost.foreach { case (k, v) => assert(math.abs(v - without(k)) < 1e-12, k) }
    // seeding EVERY node degenerates to PageRank (same value, different
    // IEEE expression — hence the tolerance, see the Scaladoc)
    val all = trustOf(e, Seq("A", "B", "C"), 3)
    val pr = ranksOf(e, 3)
    all.foreach { case (k, v) => assert(math.abs(v - pr(k)) < 1e-12, k) }
  }

  test("pageRank warm start: fixpoint-stable, scale-invariant init, accelerates re-rank") {
    val e = Seq(("A", "B", 1.0), ("B", "C", 2.0), ("C", "A", 1.0),
      ("A", "C", 1.0), ("D", "A", 1.0)) // C→A cycle + dangling-free core + source D
    val df = e.toDF("src_domain", "dst_domain", "weight")
    def run(iters: Int, init: Option[org.apache.spark.sql.DataFrame] = None) =
      Graph.pageRank(df, iters, damping = 0.5, init = init)
    // damping 0.5 → error contracts 2× per round; 20 rounds ≈ converged
    val fix = run(20)
    val fixM = fix.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // one warm round from the fixpoint stays at the fixpoint
    val warm = run(1, Some(fix)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    warm.foreach { case (k, v) => assert(math.abs(v - fixM(k)) < 1e-6, k) }
    // a scaled init (stored vector drifted by 3×) renormalizes away
    val scaled = fix.select(col("node"), (col("rank") * 3.0).as("rank"))
    val fromScaled = run(2, Some(scaled)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fromClean = run(2, Some(fix)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    fromScaled.foreach { case (k, v) => assert(math.abs(v - fromClean(k)) < 1e-12, k) }
    // re-rank after an append: warm(2) from the OLD graph's fixpoint lands
    // closer to the NEW fixpoint than cold(2) — the acceleration claim
    val e2 = e ++ Seq(("E", "C", 3.0), ("C", "E", 1.0))
    val df2 = e2.toDF("src_domain", "dst_domain", "weight")
    def dist(a: Map[String, Double], b: Map[String, Double]): Double =
      b.keys.map(k => math.abs(a.getOrElse(k, 0.0) - b(k))).sum
    val truth = Graph.pageRank(df2, 20, damping = 0.5).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val warm2 = Graph.pageRank(df2, 2, damping = 0.5, init = Some(fix))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cold2 = Graph.pageRank(df2, 2, damping = 0.5).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist(warm2, truth) < dist(cold2, truth),
      s"warm ${dist(warm2, truth)} vs cold ${dist(cold2, truth)}")
    // a store holding TWO identical snapshots (duplicate node rows)
    // sum-aggregates then renormalizes back to the clean start — one row
    // per node out, same values
    val doubled = fix.unionByName(fix)
    val fromDoubled = run(2, Some(doubled)).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(fromDoubled.length == fromClean.size, "duplicate init rows leaked")
    fromDoubled.foreach { case (k, v) =>
      assert(math.abs(v - fromClean(k)) < 1e-12, k) }
    // an all-zero stored vector can't renormalize — falls back to uniform
    val zeros = fix.select(col("node"), (col("rank") * 0.0).as("rank"))
    val fromZeros = run(2, Some(zeros)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cold = run(2).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    fromZeros.foreach { case (k, v) =>
      assert(!v.isNaN && math.abs(v - cold(k)) < 1e-12, k) }
  }

  test("hits: hand-computed hubs/authorities, L1 normalization, pure-role zeros") {
    // A→B, A→C, B→C: A is a pure hub (no in-links), C a pure authority
    // (no out-links). h0 = 1/3 each.
    // auth_raw = (0, 1/3, 2/3) → L1 total 1 → auth = (0, 1/3, 2/3)
    // hub_raw  = (a(B)+a(C), a(C), 0) = (1, 2/3, 0) → hub = (3/5, 2/5, 0)
    val e = Seq(("A", "B", 1.0), ("A", "C", 1.0), ("B", "C", 1.0))
    val r = Graph.hits(e.toDF("src_domain", "dst_domain", "weight"), 1)
      .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(math.abs(r("A")._1 - 0.6) < 1e-12 && r("A")._2 == 0.0)
    assert(math.abs(r("B")._1 - 0.4) < 1e-12 && math.abs(r("B")._2 - 1.0 / 3) < 1e-12)
    assert(r("C")._1 == 0.0 && math.abs(r("C")._2 - 2.0 / 3) < 1e-12)
    // both scores stay L1-normalized after more rounds
    val r3 = Graph.hits(e.toDF("src_domain", "dst_domain", "weight"), 3)
      .collect().map(x => (x.getDouble(1), x.getDouble(2)))
    assert(math.abs(r3.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(r3.map(_._2).sum - 1.0) < 1e-9)
    // edge weights count: doubling A→B's weight shifts authority toward B
    val w = Seq(("A", "B", 2.0), ("A", "C", 1.0))
    val rw = Graph.hits(w.toDF("src_domain", "dst_domain", "weight"), 1)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(math.abs(rw("B") - 2.0 / 3) < 1e-12 && math.abs(rw("C") - 1.0 / 3) < 1e-12)
    // empty graph → empty (node, hub, auth)
    val empty = Graph.hits(
      Seq.empty[(String, String, Double)].toDF("src_domain", "dst_domain", "weight"), 2)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("node", "hub", "auth"))
  }

  test("link-graph maintenance: append-only store ≡ compacted ≡ one-shot batch") {
    val b1 = Seq(
      ("https://a.com/1", "<a href=\"https://b.org/\">x</a><a href='https://c.net/'>y</a>"),
      ("https://a.com/2", "<a href=\"https://b.org/p\">x</a>")).toDF("url", "html")
    val b2 = Seq(
      ("https://a.com/3", "<a href=\"https://b.org/q\">x</a>"),
      ("https://d.io/1", "<a href=\"https://a.com/\">back</a>")).toDF("url", "html")
    // the maintenance recipe: append the per-batch aggregates, never merge
    val appended = Graph.linkGraph(b1).unionByName(Graph.linkGraph(b2))
    val compacted = Graph.compactEdges(appended)
    val oneShot = Graph.linkGraph(b1.unionByName(b2))
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(edgeSet(compacted) == edgeSet(oneShot))
    assert(edgeSet(compacted) ==
      Set(("a.com", "b.org", 3L), ("a.com", "c.net", 1L), ("d.io", "a.com", 1L)))
    // pageRank is invariant under compaction (its first groupBy re-sums),
    // so the append-only store feeds it DIRECTLY — no pre-merge required
    val rApp = Graph.pageRank(appended, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rCom = Graph.pageRank(compacted, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rApp.keySet == rCom.keySet)
    rApp.foreach { case (k, v) => assert(math.abs(v - rCom(k)) < 1e-12, k) }
  }

  test("linkGraph plan: one shuffle (the edge aggregate) with map-side combine") {
    val pages = Seq(("https://a.com/", "<a href=\"https://b.org/\">x</a>"))
      .toDF("url", "html")
    val p = Graph.linkGraph(pages).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("malformed edge stores fail fast: zero/negative/null weights error, never NaN") {
    // r15 ADVICE: w <= 0 silently poisoned the share table (w/0 → null
    // shares, ≤0 normalizer → NaN ranks) — now a raise_error branch inside
    // the edge aggregate (no extra validation job) naming the bad edge
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // DELTA baseline, not absolute emptiness: other suites in a shared
    // full-suite JVM may legitimately pin cached frames via live
    // references (the CacheHygieneSpec rationale) — this test owns only
    // what the failing rank calls ADD
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val bad = Seq(("a.com", "b.org", 0.0), ("b.org", "a.com", 2.0))
      .toDF("src_domain", "dst_domain", "weight")
    val e = intercept[Exception] { Graph.pageRank(bad, 2) }
    assert(messages(e).contains("strictly positive"), messages(e))
    val neg = Seq(("a.com", "b.org", -1.0)).toDF("src_domain", "dst_domain", "weight")
    intercept[Exception] { Graph.hits(neg, 2) }
    // the error path releases every persisted frame (try/finally hygiene).
    // Track ONLY ids created during the failing calls: a concurrently
    // running suite (sbt runs suites in parallel threads) persisting its
    // own long-lived frame after our baseline must not flake this
    val created = spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
    def extra = spark.sparkContext.getPersistentRDDs.keySet.toSet intersect created
    val t0 = System.nanoTime()
    while (extra.nonEmpty && System.nanoTime() - t0 < 20e9) {
      System.gc(); Thread.sleep(100)
    }
    assert(extra.isEmpty, "rank-graph error path leaked persisted frames")
  }

  test("reliable-checkpoint mode: same ranks, vectors written to the checkpoint dir") {
    // a checkpoint dir swaps the per-round localCheckpoint for a reliable
    // checkpoint (executor loss costs a re-read, not the job — the
    // 1000-executor mode). Semantics must be identical; the checkpoint dir
    // must actually receive the vectors.
    val e = Seq(("A", "B", 1.0), ("B", "A", 1.0), ("B", "C", 1.0))
    val local = CheckpointDirScope(spark.sparkContext, None)(ranksOf(e, 3))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    CheckpointDirScope(spark.sparkContext, Some(dir)) {
      val reliable = ranksOf(e, 3)
      assert(reliable == local, "reliable mode changed rank values")
      def files(p: java.io.File): Seq[java.io.File] =
        if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
      assert(files(new java.io.File(dir)).nonEmpty,
        "reliable mode wrote nothing to the checkpoint dir")
      // clusters goes through the same seam
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val cl = Dedup.clusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  private def lrOf(df: org.apache.spark.sql.DataFrame): LogicalRDD =
    df.queryExecution.logical.asInstanceOf[LogicalRDD]

  test("iterCheckpoint is reliable exactly when a checkpoint dir is set") {
    // each case sets (or clears) the dir for its own body and restores the
    // ambient setting, so the order suites run in cannot matter
    val sc = spark.sparkContext
    val ambient = sc.getCheckpointDir
    val base = spark.range(0, 100).toDF("id")
    // reliable checkpoints write files; localCheckpoint leaves no file
    def mode(df: org.apache.spark.sql.DataFrame): String =
      if (lrOf(df).rdd.getCheckpointFile.isDefined) "reliable" else "local"
    def persisted(df: org.apache.spark.sql.DataFrame): Boolean =
      sc.getPersistentRDDs.contains(lrOf(df).rdd.id)
    CheckpointDirScope(sc, None) {
      val ck = Barrier.iterCheckpoint(base)
      assert(mode(ck) == "local" && persisted(ck))
      Barrier.release(ck)
      assert(!persisted(ck), "release left a local checkpoint's blocks")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    CheckpointDirScope(sc, Some(dir)) {
      val ck = Barrier.iterCheckpoint(base)
      assert(mode(ck) == "reliable" && persisted(ck))
      // release frees the cached copy; the files still serve the rows
      Barrier.release(ck)
      assert(!persisted(ck), "release left a reliable checkpoint's cached copy")
      assert(ck.count() == 100)
    }
    assert(sc.getCheckpointDir == ambient)
  }

  test("iterCheckpoint computes a reliable checkpoint once, eager or lazy") {
    val sc = spark.sparkContext
    // counts evaluations; nondeterministic so no rule folds, moves or
    // dedupes it, and no exchange follows it (its stage is the final one)
    val counting = udf { (x: Long) => GraphSpec.evals.incrementAndGet(); x }
      .asNondeterministic()
    def frame = spark.range(0, 200, 1, 4).select(col("id"), counting(col("id")).as("v"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    CheckpointDirScope(sc, Some(dir)) {
      GraphSpec.evals.set(0)
      val eager = Barrier.iterCheckpoint(frame)
      assert(eager.count() == 200)
      assert(GraphSpec.evals.get == 200, "eager reliable checkpoint computed its rows twice")
      GraphSpec.evals.set(0)
      val lazyCk = Barrier.iterCheckpoint(frame, eager = false)
      assert(lazyCk.collect().length == 200)
      assert(lrOf(lazyCk).rdd.getCheckpointFile.isDefined, "the lazy checkpoint was never written")
      assert(GraphSpec.evals.get == 200, "lazy reliable checkpoint computed its rows twice")
    }
  }

  test("a lazy iterCheckpoint runs the upstream AQE stages at call time, as stock Spark does") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    def frame = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
    CheckpointDirScope(sc, None) {
      val ours = JobsDuring(sc)(Barrier.iterCheckpoint(frame, eager = false))
      val stock = JobsDuring(sc)(frame.localCheckpoint(eager = false))
      assert(ours > 0, "the aggregate's shuffle stage did not run at call time")
      assert(ours == stock, s"iterCheckpoint ran $ours jobs at call time, stock Spark $stock")
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
}

object GraphSpec {
  /** Row evaluations of the counting UDF (local mode: one JVM). */
  val evals = new java.util.concurrent.atomic.AtomicLong
}
