package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** `Dataset.checkpoint`/`localCheckpoint` that keeps the physical layout
  * VISIBLE to the planner.
  *
  * The stock checkpoint wraps the materialized rows in a [[LogicalRDD]]
  * carrying `physicalPlan.outputPartitioning` — but under AQE that physical
  * plan is an [[AdaptiveSparkPlanExec]], a leaf whose `outputPartitioning`
  * is `UnknownPartitioning(0)` (the final partitioning only exists after
  * stage planning). Net effect: every checkpointed frame FORGETS how its
  * rows are laid out, and every downstream join/aggregate keyed the same
  * way pays a fresh Exchange to re-establish what the data already has.
  * For the iterative operators (PageRank's rank vector, label propagation's
  * label vector) that is one to two avoidable |V|-row shuffles PER
  * ITERATION at 100 TB — the r17 verdict's top "next round" item.
  *
  * This variant materializes as Spark 4.1's own checkpoint does (the same
  * `execute().map(_.copy())`; eager means `doCheckpoint()`), except that a
  * RELIABLE checkpoint is persisted before it is marked, so its file write
  * reads the cached rows: every checkpoint computes its frame ONCE, and
  * `Barrier.release` frees the cached copy in either mode. Under AQE,
  * `execute()` runs every upstream query stage at call time, eager or not,
  * as stock Spark does. It then recovers the FINAL adaptive plan via
  * `finalPhysicalPlan` and declares its hash partitioning and output
  * ordering on the LogicalRDD. The claims are true by construction: the
  * wrapped RDD IS that plan's output, row for row, partition for partition
  * (the per-row `copy()` preserves both). Expressions that reference anything
  * but the plan's own output attributes are dropped (falls back to
  * UnknownPartitioning — never wrong, only less informed).
  */
object PlanCheckpoint {

  def checkpoint(df: DataFrame, eager: Boolean, reliable: Boolean): DataFrame = {
    val cdf = df.asInstanceOf[Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val physical = qe.executedPlan
    // same materialization as classic Dataset.checkpoint: execute the plan
    // once, defensive-copy the reused UnsafeRow buffers, mark the RDD
    val internalRdd = physical.execute().map(_.copy())
    if (reliable) internalRdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
    else internalRdd.localCheckpoint()
    if (eager) internalRdd.doCheckpoint()
    // recover the post-AQE plan; execute() above already forced stage
    // planning, so this does not trigger any further work
    val finalPlan = physical match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val output = qe.analyzed.output
    val outSet = AttributeSet(output)
    // the physical plan's output attrs can differ from the Dataset's when
    // the optimizer elides an alias-only Project (e.g. `toDF("id")` over
    // range keeps id#0 physically while the Dataset speaks id#1): rewrite
    // partitioning/ordering expressions onto the declared output
    // POSITIONALLY, the same move LogicalRDD.fromDataset makes
    val attrMap = AttributeMap(finalPlan.output.zip(output))
    def rewrite[E <: Expression](e: E): E =
      e.transform { case a: Attribute => attrMap.getOrElse(a, a) }.asInstanceOf[E]
    // plain HashPartitioning ONLY — deliberately NOT AQE's
    // CoalescedHashPartitioning: a declaration like "hash(id, 32) merged
    // into 1 partition" is truthful but makes EnsureRequirements co-par-
    // tition downstream joins against a 1-partition side (serializing the
    // round) or re-shuffle it anyway; declaring Unknown there reproduces
    // the stock-checkpoint plan exactly. Coalescing only fires when
    // post-shuffle partitions are below the advisory size, so at real
    // scale the partitioning IS plain and the declaration goes through.
    def usable(p: Partitioning): Boolean = p match {
      case h: HashPartitioning => h.references.subsetOf(outSet)
      case _ => false
    }
    // a PartitioningCollection lists EVERY equivalent layout (e.g. a
    // join's left and right key sets, or an alias and its source) — keep
    // all usable members so any downstream keying matches
    val partitioning = finalPlan.outputPartitioning match {
      case h: HashPartitioning => rewrite(h) match {
        case r if usable(r) => r
        case _ => UnknownPartitioning(0)
      }
      case pc: PartitioningCollection =>
        pc.partitionings.map {
          case h: HashPartitioning => rewrite(h)
          case p => p
        }.filter(usable) match {
          case Seq() => UnknownPartitioning(0)
          case Seq(one) => one
          case many => PartitioningCollection(many)
        }
      case _ => UnknownPartitioning(0)
    }
    val ordering = finalPlan.outputOrdering
      .map(o => rewrite(o: SortOrder))
      .takeWhile(_.references.subsetOf(outSet))
    // carry the origin plan's statistics and constraints, exactly like the
    // stock checkpoint (SPARK-39748): a checkpointed small frame must keep
    // qualifying for broadcast joins in downstream STATIC plans — with the
    // default (huge) LogicalRDD stats the label-map joins the plan pins
    // keep broadcast would degrade to sort-merge
    val statsRaw = qe.optimizedPlan.stats
    val stats = statsRaw.copy(attributeStats = AttributeMap(
      statsRaw.attributeStats.toSeq.map { case (a, s) => (attrMap.getOrElse(a, a), s) }))
    val constraints = ExpressionSet(qe.optimizedPlan.constraints.toSeq
      .map(c => rewrite(c)).filter(_.references.subsetOf(outSet)))
    Dataset.ofRows(spark,
      LogicalRDD(output, internalRdd, partitioning, ordering,
        isStreaming = false)(spark, Some(stats), Some(constraints)))
  }
}
