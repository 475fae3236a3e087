package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over web-crawl corpora: build the domain-level
  * endorsement graph from extracted outlinks, then rank domains with
  * PageRank — the classic web-quality prior (CommonCrawl publishes exactly
  * this ranking; RefinedWeb/FineWeb-class pipelines use it as a
  * URL/domain-level quality signal next to the text-level filters in
  * [[TextFunctions]] and [[Curation]]).
  *
  * Scale design: the graph is AGGREGATED — page-level links collapse to
  * (src_domain, dst_domain, weight) before any iteration, so the iterated
  * state is |domains| (millions at 100 TB), not |pages| (hundreds of
  * billions). Each PageRank iteration is ONE shuffle join on the edge list
  * plus a per-destination aggregate; dangling mass rides a 1-row broadcast
  * frame, never a driver collect; lineage is truncated per round the same
  * way [[Dedup.clusters]] does it.
  */
object Graph {

  /** Domain-level link graph from crawled pages: extract `<a href>` links,
    * resolve them against the page URL (RFC 3986), reduce both endpoints to
    * registered domains (PSL), and aggregate to weighted edges
    * `(src_domain, dst_domain, weight)` with intra-domain links dropped —
    * a site linking to itself is navigation, not endorsement.
    *
    * One pass over the corpus: extraction and resolution are codegen'd
    * Column chains ([[Html.extractLinks]], [[Web.resolveUrl]]), the only
    * shuffle is the final edge aggregate, and its map-side combine collapses
    * the per-page fan-out to distinct (src, dst) pairs per task.
    *
    * The per-link chain is bound through NESTED HOF lambdas (the
    * td_crawl_pipeline lesson): a lambda argument is a bound attribute, so
    * each stage's value is computed once per link. Chained plain
    * projections do NOT give that — CollapseProject inlines the
    * [[Web.urlHost]] regexp chain into every one of
    * [[Web.registeredDomain]]'s ~15 per-length PSL probes (and
    * [[Web.resolveUrl]]'s chain into each of those copies); the collapsed
    * form measured ~20× slower on this exact operator at sf0.1. */
  def linkGraph(pages: DataFrame, urlCol: String = "url",
                htmlCol: String = "html"): DataFrame = {
    val dstDomains = transform(
      transform(
        transform(Html.extractLinks(col(htmlCol)),
          h => Web.resolveUrl(col(urlCol), h)),
        r => when(r.rlike("(?i)^https?://"), Web.urlHost(r)).otherwise(lit(""))),
      h => Web.registeredDomain(h))
    // the page's own domain rides the same binding (the shared idiom)
    val srcDomain = Web.registeredDomainOf(col(urlCol))
    pages
      .select(srcDomain.as("src_domain"), explode(dstDomains).as("dst_domain"))
      .where(length(col("src_domain")) > 0 && length(col("dst_domain")) > 0 &&
        col("src_domain") =!= col("dst_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("weight"))
  }

  /** Steady-state maintenance of a stored [[linkGraph]]: the recipe is
    * APPEND-ONLY — write `linkGraph(newPages)` rows next to the stored
    * edges and never touch them, because [[pageRank]] re-aggregates
    * duplicate (src, dst) rows by construction (its first groupBy sums
    * weights), so an uncompacted store is semantically identical to a
    * compacted one. At 100 TB that matters: a per-batch merge would
    * shuffle the multi-billion-row stored edge table on every ingest
    * round, while an append moves only the batch. `compactEdges` is the
    * OPTIONAL periodic compaction (one shuffle of the store, run on
    * whatever cadence keeps file counts sane) — equivalence of
    * append-then-compact, compact-every-round, and one-shot batch is
    * pinned in GraphSpec and replayed two-round by the td_link_ingest
    * oracle. */
  def compactEdges(edges: DataFrame): DataFrame =
    edges.groupBy("src_domain", "dst_domain")
      .agg(sum(col("weight")).as("weight"))

  /** PageRank over a weighted edge list, fixed iteration count (the form
    * every published web ranking uses — convergence-tested variants just
    * pick `iterations` ≈ 20–50). Returns `(node, rank)` over the full node
    * set (sources ∪ destinations); ranks sum to exactly 1 each round
    * because dangling mass (nodes with no out-edges) is redistributed
    * uniformly, per the original formulation.
    *
    * Per iteration: one shuffle join (ranks ⋈ out-shares on src) + one
    * per-destination aggregate + a 1-row broadcast of the dangling mass.
    * The out-share table (`weight / Σ out-weight`) is computed ONCE and
    * persisted — the iterated join reuses its partitioning; `|V|` is the
    * single driver-side scalar. [[Barrier.iterCheckpoint]] truncates the
    * per-round lineage exactly like [[Dedup.clusters]] — RELIABLE exactly
    * when the session has a checkpoint dir, local blocks otherwise; each
    * round computes once, a superseded round's blocks go by
    * [[Barrier.release]], and a lazy round runs its upstream stages when
    * the loop builds it, as stock Spark does. Deterministic: no sampling,
    * no rand(), so re-runs (and the DuckDB oracle's unrolled replay)
    * reproduce ranks bit-for-bit modulo float summation order. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               srcCol: String = "src_domain", dstCol: String = "dst_domain",
               weightCol: Option[String] = Some("weight"),
               init: Option[DataFrame] = None,
               checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping >= 0.0 && damping <= 1.0, s"damping must be in [0,1], got $damping")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // try/finally: every persisted frame must release even when an action
    // inside the loop (or a guard) throws — a long-lived driver survives
    // the failure, and a leaked graph cache per failed round would not
    val g = rankGraph(edges, srcCol, dstCol, weightCol)
    try {
    val n = g.nodes.count() // |V|: the one driver-side scalar
    if (n == 0L) {
      // checkpoint BEFORE the finally unpersists: the returned (empty)
      // frame must not keep a lineage into the released upstream chain, or
      // every downstream action re-runs the full corpus extraction for 0 rows
      return g.nodes.withColumn("rank", lit(0.0)).localCheckpoint(true)
    }
    // WARM START — the steady-state maintenance form: after appending a
    // crawl batch to the edge store, restart from the previous rank vector
    // instead of uniform (power iteration contracts error by `damping` per
    // round, so a near-fixpoint start converges in 1–2 rounds where cold
    // needs tens). The init vector is REINDEXED onto the current node set
    // (domains new since the last ranking start at the uniform prior,
    // departed ones drop) and L1-renormalized so the sum-1 invariant holds
    // from round one regardless of drift or scale in the stored vector.
    var ranks = init match {
      case None =>
        // LAZY checkpoint: round 1 (or the 0-iteration return) is the
        // first consumer and materializes it inside its own job — an eager
        // init here was one whole scheduler round-trip spent writing a
        // uniform vector (measured on the bench's small oracle graph)
        Barrier.iterCheckpoint(g.nodes.withColumn("rank", lit(1.0 / n)),
          eager = iterations == 0)
      case Some(prev) =>
        // sum-aggregate prev first: a store holding k identical snapshots
        // yields k× every value, which the renormalize divides away
        // EXACTLY — and the join stays one-row-per-node (an un-aggregated
        // duplicate would silently duplicate the whole output). Persisted:
        // the totalizer AND the final select both read it, and prev is
        // arbitrary caller lineage (the re-run-the-parent trap).
        val joined = g.nodes
          .join(prev.select(col("node"), col("rank").cast("double").as("__pr"))
            .groupBy("node").agg(sum("__pr").as("__pr")), Seq("node"), "left")
          .select(col("node"), coalesce(col("__pr"), lit(1.0 / n)).as("rank"))
          .persist()
        val tot = joined.agg(sum("rank").as("__t"))
        val r0 = Barrier.iterCheckpoint(joined.crossJoin(broadcast(tot))
          .select(col("node"),
            // a degenerate stored vector (all-zero/negative overlap sums
            // to ≤ 0) can't be a distribution — fall back to uniform
            // instead of propagating 0/0 = NaN through every round
            when(col("__t") > 0.0, col("rank") / col("__t"))
              .otherwise(lit(1.0 / n)).as("rank")))
        joined.unpersist()
        r0
    }
    var iter = 0
    // Lineage is truncated per round (as Dedup.clusters does), but the
    // materializing count() runs only every `checkpointEvery` rounds and on
    // the final one: a LAZY localCheckpoint still marks each round's RDD,
    // so the next eager round persists-and-truncates the whole window in
    // ONE job instead of one job per round — per-iteration scheduler
    // round-trips were 25% of the bench headline on the 11-node oracle
    // graph (r15 verdict), and at 100 TB fewer barriers only helps.
    // Superseded vectors release DETERMINISTICALLY once the next eager
    // checkpoint holds the data — not "whenever GC runs" (the memory cliff
    // in a steady-state crawl loop).
    val superseded = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (iter < iterations) {
      val eager = (iter + 1) % checkpointEvery == 0 || iter + 1 == iterations
      superseded += ranks
      ranks = Barrier.iterCheckpoint(
        pageRankStep(g.nodes, g.shares, g.srcNodes, ranks, n, damping), eager)
      if (eager) { superseded.foreach(Barrier.release); superseded.clear() }
      iter += 1
    }
    ranks
    } finally g.unpersistAll()
  }

  /** The persisted frames every rank iteration reads — built ONCE per
    * ranking run. `e` (the totalized edge aggregate) gets its own persist
    * because outw/shares/nodes all derive from it: without that barrier
    * each derivation re-runs the whole upstream chain (for a linkGraph
    * input that's the per-page regex extraction over the corpus). shares,
    * nodes AND srcNodes persist because the k iteration jobs re-read them
    * k times — an unpersisted srcNodes would re-run the out-weight shuffle
    * aggregate over the edge list once per iteration. */
  private[graft] case class RankGraph(e: DataFrame, shares: DataFrame,
                                      nodes: DataFrame, srcNodes: DataFrame) {
    def unpersistAll(): Unit = {
      Barrier.release(e) // checkpointed (LogicalRDD), not a CacheManager entry
      shares.unpersist(); nodes.unpersist(); srcNodes.unpersist()
    }
  }

  private[graft] def rankGraph(edges: DataFrame, srcCol: String = "src_domain",
                               dstCol: String = "dst_domain",
                               weightCol: Option[String] = Some("weight")): RankGraph = {
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    // totalize: accept raw (possibly duplicate) edges as well as
    // pre-aggregated ones — re-aggregating an already-distinct list is a
    // map-side-combined no-op
    // fail fast on malformed edge stores: a zero/negative/null totalized
    // weight silently poisons the share table (w/0 → null shares, a ≤ 0
    // out-weight normalizer → NaN ranks) — an error beats NaN propagation.
    // The guard is a raise_error branch INSIDE the aggregate projection
    // (fires at the first materialization naming the offending edge), not
    // a separate validation action: a dedicated isEmpty probe would cost
    // one extra job per rank call, and on the bench's small oracle graph
    // per-job overhead — not rank math — was 25% of the headline (r15).
    // LAZY iterCheckpoint, not persist (r17): a persist keeps the FULL
    // logical tree alive — for a linkGraph input that is the whole per-page
    // extraction expression forest — and every one of the k iterations'
    // Dataset constructions re-ANALYZES it (eager per-transformation
    // analysis; measured as the dominant driver-side cost of td_pagerank:
    // 3.9 s of driver gap vs 2.7 s of job time at sf0.1). The checkpoint
    // truncates the plan to a LogicalRDD immediately while staying lazy, so
    // the first action (the |V| count below) still materializes it inside
    // its own job exactly like the persist did; blocks release
    // deterministically in unpersistAll, and reliable-checkpoint mode rides
    // the same seam.
    val e = Barrier.iterCheckpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
      .groupBy("src", "dst").agg(sum("w").as("w0"))
      .select(col("src"), col("dst"),
        when(col("w0").isNull || col("w0") <= 0.0,
          raise_error(concat(
            lit("rank graph requires strictly positive totalized edge weights; got ("),
            col("src"), lit(", "), col("dst"), lit(", "),
            coalesce(col("w0").cast("string"), lit("null")), lit(")"))))
          .otherwise(col("w0")).as("w")), eager = false)
    // a failure while BUILDING the derived frames (a pathological schema
    // failing analysis in the share division, a persist registration
    // error) must release whatever already registered in the CacheManager
    // — the caller's try/finally only owns a fully-constructed RankGraph
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try {
      val outw = e.groupBy("src").agg(sum("w").as("ow"))
      val shares = e.join(outw, "src")
        .select(col("src"), col("dst"), (col("w") / col("ow")).as("share"))
        .persist()
      persisted += shares
      // nodes/srcNodes are the per-round join sides the k iterations read:
      // cache them SORTED on the join key (r18, guide §2.4) so a sort-merge
      // round join re-sorts only the fresh side (the rank vector /
      // contribution aggregate), never these — an unsorted cache paid one
      // |V| sort per round per join at every scale (Sort over
      // InMemoryTableScan in the r18 before-plan)
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct().sortWithinPartitions("node").persist()
      persisted += nodes
      val srcNodes = outw.select(col("src").as("node"))
        .sortWithinPartitions("node").persist()
      RankGraph(e, shares, nodes, srcNodes)
    } catch { case t: Throwable =>
      persisted.foreach(df =>
        try df.unpersist(blocking = false) catch { case _: Throwable => () })
      try Barrier.release(e) catch { case _: Throwable => () }
      throw t
    }
  }

  /** The dangling-mass 1-row frame and the per-destination contribution
    * aggregate of one rank round — shared verbatim by [[pageRankStep]] and
    * [[trustRankStep]]; only the final rank expression differs. */
  private def danglingAndContrib(shares: DataFrame, srcNodes: DataFrame,
                                 ranks: DataFrame): (DataFrame, DataFrame) = {
    // mass parked on dangling nodes this round, as a 1-row broadcast
    val dangling = ranks.join(srcNodes, Seq("node"), "left_anti")
      .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
    val contrib = shares
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("rank") * col("share")).as("__c"))
    (dangling, contrib)
  }

  /** TrustRank: PageRank with the teleport ("jump") mass confined to a
    * trusted SEED set — the standard link-spam countermeasure for crawl
    * curation (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004): spam farms can
    * manufacture in-links but can't manufacture proximity to the seeds, so
    * score decays with link distance from trust. Seeds not present in the
    * graph are ignored; ranks start as the seed-uniform vector, dangling
    * mass teleports back to the seeds, and total mass stays exactly 1. A
    * node unreachable from every seed scores 0 — the property spam
    * filtering relies on.
    *
    * Same per-iteration shape as [[pageRank]] (one shuffle join + one
    * aggregate + a 1-row broadcast; the dangling/contribution frames are
    * literally shared code); only the FINAL rank expression is its own,
    * because the uniform case computes `(1-d)/n` while the seeded case
    * computes `(1-d)·jump(v)` — same value, DIFFERENT IEEE expression —
    * and the DuckDB oracle replays each form bit-exactly. */
  def trustRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                damping: Double = 0.85,
                srcCol: String = "src_domain", dstCol: String = "dst_domain",
                weightCol: Option[String] = Some("weight"),
                seedCol: String = "node"): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping >= 0.0 && damping <= 1.0, s"damping must be in [0,1], got $damping")
    // try/finally with null-guarded releases: the require below throws
    // AFTER g and seedNodes are persisted, and any action inside the loop
    // can fail — the configuration-error path must not leave cached frames
    // behind in a long-lived driver (r15 ADVICE)
    val g = rankGraph(edges, srcCol, dstCol, weightCol)
    var seedNodes: DataFrame = null
    var nodesJump: DataFrame = null
    try {
    seedNodes = seeds.select(col(seedCol).as("node")).distinct()
      .join(g.nodes, Seq("node")) // seeds outside the graph carry no mass
      .persist()
    val nS = seedNodes.count()
    if (nS == 0L && g.nodes.count() == 0L) {
      // empty GRAPH is the pageRank-consistent empty result, not an error
      // (a crawl batch with no valid outlinks must not kill the pipeline);
      // a non-empty graph none of whose nodes is a seed stays a hard error
      return g.nodes.withColumn("rank", lit(0.0)).localCheckpoint(true)
    }
    require(nS > 0, "trustRank needs at least one seed present in the graph")
    nodesJump = g.nodes
      .join(seedNodes.withColumn("__s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("jump"))
      .persist()
    var ranks = Barrier.iterCheckpoint(
      nodesJump.select(col("node"), col("jump").as("rank")),
      eager = iterations == 0) // lazy: round 1 materializes it
    var iter = 0
    // same interval-checkpoint + deterministic-release discipline as the
    // pageRank loop (see there for the why)
    val superseded = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (iter < iterations) {
      val eager = (iter + 1) % 4 == 0 || iter + 1 == iterations
      superseded += ranks
      ranks = Barrier.iterCheckpoint(
        trustRankStep(nodesJump, g.shares, g.srcNodes, ranks, damping), eager)
      if (eager) { superseded.foreach(Barrier.release); superseded.clear() }
      iter += 1
    }
    ranks
    } finally {
      g.unpersistAll()
      if (seedNodes != null) seedNodes.unpersist()
      if (nodesJump != null) nodesJump.unpersist()
    }
  }

  /** HITS (Kleinberg's hubs & authorities): the mutually-recursive pair —
    * a good AUTHORITY is linked from good hubs, a good HUB links to good
    * authorities — L1-normalized each half-step so both scores stay
    * probability-shaped (sum to 1; the classic formulation normalizes by
    * L2, but any norm fixes the scale and L1 division is exactly
    * replayable in the SQL oracle). Complements [[pageRank]]: PageRank
    * scores endorsement flow, HITS separates directories/aggregators
    * (hubs) from destinations (authorities) — for crawl curation, a high
    * authority + low hub domain is content, the reverse is a link farm or
    * index page. A node with no in-links has authority exactly 0; no
    * out-links, hub exactly 0.
    *
    * Returns `(node, hub, auth)`. Per iteration: two shuffle joins + two
    * aggregates + two 1-row broadcast normalizers — the [[pageRankStep]]
    * scale shape, doubled. Same persist/checkpoint discipline. Weighted:
    * each edge contributes `weight · score`, so the aggregated multigraph
    * behaves exactly like its expanded form. */
  def hits(edges: DataFrame, iterations: Int,
           srcCol: String = "src_domain", dstCol: String = "dst_domain",
           weightCol: Option[String] = Some("weight")): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val g = rankGraph(edges, srcCol, dstCol, weightCol)
    try {
    val n = g.nodes.count()
    if (n == 0L) {
      return g.nodes
        .withColumn("hub", lit(0.0)).withColumn("auth", lit(0.0))
        .localCheckpoint(true)
    }
    var hub = Barrier.iterCheckpoint(g.nodes.withColumn("hub", lit(1.0 / n)))
    var auth: DataFrame = null
    var iter = 0
    while (iter < iterations) {
      // round i-1's vectors die here: hub(i-1) was read by this round's
      // aRaw, auth(i-1) by last round's hRaw — release both once this
      // round's checkpoints hold the data (hits keeps every half-step
      // eager: aRaw/hRaw persist-unpersist brackets depend on it)
      val prevHub = hub
      val prevAuth = auth
      // authorities from hubs: in-weighted hub mass, L1-normalized.
      // totals are strictly positive for a non-empty edge list (every
      // edge's endpoints carry positive mass), so the divisions are safe
      // each raw half-step frame is persisted for its two readers (the
      // 1-row normalizer and the nodes join) — unpersisted, the join+agg
      // over the edge list would run twice per half-step
      val aRaw = g.e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("hub")).as("__ar"))
        .persist()
      val aTot = aRaw.agg(sum("__ar").as("__t"))
      auth = Barrier.iterCheckpoint(g.nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          (coalesce(col("__ar"), lit(0.0)) / col("__t")).as("auth")))
      aRaw.unpersist()
      // hubs from authorities: out-weighted authority mass, L1-normalized
      val hRaw = g.e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("w") * col("auth")).as("__hr"))
        .persist()
      val hTot = hRaw.agg(sum("__hr").as("__t"))
      hub = Barrier.iterCheckpoint(g.nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          (coalesce(col("__hr"), lit(0.0)) / col("__t")).as("hub")))
      hRaw.unpersist()
      Barrier.release(prevHub)
      if (prevAuth != null) Barrier.release(prevAuth)
      iter += 1
    }
    hub.join(auth, Seq("node"))
    } finally g.unpersistAll()
  }

  /** One TrustRank round: `(1-d)·jump(v) + d·(contrib(v) + dm·jump(v))` —
    * the [[pageRankStep]] shape with the uniform `1/n` replaced by the
    * per-node jump column (seed-uniform, 0 elsewhere). */
  private[graft] def trustRankStep(nodesJump: DataFrame, shares: DataFrame,
                                   srcNodes: DataFrame, ranks: DataFrame,
                                   damping: Double): DataFrame = {
    val (dangling, contrib) = danglingAndContrib(shares, srcNodes, ranks)
    nodesJump.join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"),
        (lit(1.0 - damping) * col("jump") + lit(damping) *
          (coalesce(col("__c"), lit(0.0)) + col("__dm") * col("jump"))).as("rank"))
  }

  /** One PageRank round, exposed for plan inspection: the spec pins that an
    * iteration is join + aggregate + a 1-row broadcast — no cartesian
    * product, no per-node driver loop — because THIS is the frame that runs
    * `iterations` times at 100 TB. */
  private[graft] def pageRankStep(nodes: DataFrame, shares: DataFrame,
                                  srcNodes: DataFrame, ranks: DataFrame,
                                  n: Long, damping: Double): DataFrame = {
    val (dangling, contrib) = danglingAndContrib(shares, srcNodes, ranks)
    nodes.join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"),
        (lit((1.0 - damping) / n) + lit(damping) *
          (coalesce(col("__c"), lit(0.0)) + col("__dm") / n)).as("rank"))
  }
}
