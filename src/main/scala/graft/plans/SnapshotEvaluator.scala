package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.adapter.{PhysicalTable, SparkMaterializer, UtcInterval, VersionDir}
import graft.audits.Audits

/** One evaluation of a model: the consumer, its interval and execution time. */
final case class Batch(model: Model, interval: Interval, executionTs: Long)

/** Evaluation strategies: model kind → materializer calls (reference:
  * sqlmesh/core/snapshot/evaluator.py, dispatch :1643 `_evaluation_strategy`;
  * strategy table SURVEY §2.2). Every strategy implements create/insert/
  * promote/demote; audits run after each insert (:547, :1363).
  */
class SnapshotEvaluator(
    val materializer: SparkMaterializer,
    val workspace: String,
    /** CUSTOM-kind strategies by name, looked up at evaluation time */
    customStrategies: String => Option[(SparkMaterializer, PhysicalTable, DataFrame) => Unit],
    /** project variables and macro registry, as [[QueryRenderer]] takes them */
    variablesFn: () => Map[String, String] = () => Map.empty,
    macrosFn: () => (Map[String, Seq[String] => String], Long) = () => (Map.empty, 0L),
    /** audit-failure hook (model, audit, message, blocking) — notification
      * targets observe both blocking aborts and non-blocking warns. */
    onAuditFailure: (String, String, String, Boolean) => Unit = (_, _, _, _) => ()) {

  /** The context's one render path (see [[QueryRenderer]]). */
  val renderer = new QueryRenderer(variablesFn, macrosFn)
  def renderCache: RenderCache = renderer.renderCache

  def spark: SparkSession = materializer.spark

  def physicalTable(s: Snapshot): PhysicalTable = physicalTable(s, dev = false)

  /** The one upstream resolver: what each name in a batch consumer's OWN
    * `references` reads at that batch. An EMBEDDED model inlines as a subquery
    * rendered at the batch's interval (reference EmbeddedStrategy,
    * evaluator.py:1965); an EXTERNAL-kind model or a non-model name reads its
    * registered external; any other model its physical (or `__dev`) table. */
  def upstreams(snapshots: Iterable[Snapshot], devFlags: Map[String, Boolean],
                externals: Map[String, String]): Batch => Map[String, String] = {
    val byName = snapshots.map(s => s.model.name -> s).toMap
    def resolve(b: Batch): Map[String, String] = b.model.references.flatMap { r =>
      byName.get(r) match {
        case Some(up) if up.model.kind == ModelKind.Embedded =>
          Some(r -> s"(${renderSql(up, b.interval.start, b.interval.end, b.executionTs,
            resolve(b.copy(model = up.model)), physicalTable(up).qualified)})")
        case Some(up) if up.model.kind != ModelKind.External =>
          Some(r -> physicalTable(up, devFlags.getOrElse(r, false)).qualified)
        case _ => externals.get(r).map(r -> _)
      }
    }.toMap
    resolve
  }

  /** `dev = true` gives the `__dev` preview table (reference `__dev`/`__temp`
    * suffixing, snapshot/definition.py:1761 table_name): keyed by the change's
    * own data hash so two different forward-only edits of the same pinned
    * version preview in different tables, and the shared prod table is never
    * touched from a dev plan. */
  def physicalTable(s: Snapshot, dev: Boolean): PhysicalTable = {
    val base = s"${s.model.schemaName}__${s.model.tableName}__${s.version}"
    val name = if (dev) s"${base}__${s.fingerprint.dataHash}__dev" else base
    PhysicalTable(
      database = s"graft__${s.model.schemaName}",
      table = name,
      root = s"$workspace/physical/$name",
      partitionedBy =
        if (autoTimePartitioned(s.model)) Seq(SnapshotEvaluator.TimePartitionCol)
        else if (autoKeyBucketed(s.model)) Seq(SnapshotEvaluator.KeyBucketCol)
        else s.model.partitionedBy,
      clusteredBy = s.model.clusteredBy,
      options = s.model.physicalProperties)
  }

  /** partition_by_time_column (reference kind.py: the time column joins the
    * physical partitioning unless the model declares its own): time-range
    * tables auto-partition on a derived, interval-unit-granular key, so an
    * interval's dynamic overwrite touches exactly its own directories — the
    * difference between O(interval) and O(table) per run at 100 TB. The key
    * is a SEPARATE managed column (the raw time column stays in the data
    * files with its exact type) and is hidden from the catalog view. */
  private def autoTimePartitioned(m: Model): Boolean = m.kind match {
    case k: ModelKind.IncrementalByTimeRange =>
      k.partitionByTime && m.partitionedBy.isEmpty
    case _ => false
  }

  /** The derived partition key for an auto-time-partitioned model. Interval
    * boundaries are unit-floored and the overwrite guard clips rows to the
    * interval, so every touched directory is always FULLY covered by the
    * write — unit granularity is what makes dynamic overwrite lossless. */
  private def withTimePartition(df: DataFrame, m: Model): DataFrame =
    m.kind match {
      case k: ModelKind.IncrementalByTimeRange
          if autoTimePartitioned(m) &&
            !df.columns.contains(SnapshotEvaluator.TimePartitionCol) =>
        df.withColumn(SnapshotEvaluator.TimePartitionCol,
          UtcInterval.partitionKey(k.timeColumn, k.timeFormat, m.intervalUnit,
            UtcInterval.typeOf(df.schema, k.timeColumn)))
      case _ => df
    }

  /** buckets>0 on a unique-key kind: hash-of-key bucket directories. A key's
    * bucket is a pure function of the key — it can never move — so the merge
    * path dynamic-overwrites only the buckets present in the source. */
  private def autoKeyBucketed(m: Model): Boolean = m.kind match {
    case k: ModelKind.IncrementalByUniqueKey =>
      k.buckets > 0 && m.partitionedBy.isEmpty
    case _ => false
  }

  private def withKeyBucket(df: DataFrame, m: Model): DataFrame = m.kind match {
    case k: ModelKind.IncrementalByUniqueKey
        if autoKeyBucketed(m) && !df.columns.contains(SnapshotEvaluator.KeyBucketCol) =>
      import org.apache.spark.sql.functions._
      df.withColumn(SnapshotEvaluator.KeyBucketCol,
        pmod(hash(k.uniqueKey.map(col): _*), lit(k.buckets)))
    case _ => df
  }

  private def withManagedCols(df: DataFrame, m: Model): DataFrame =
    withKeyBucket(withTimePartition(df, m), m)

  /** PhysicalLayerUpdate: ensure schema + (empty) physical object exists
    * (evaluator.py:360). For parquet-backed tables, creation happens lazily on
    * first insert; views are created eagerly. */
  def create(s: Snapshot): Unit = {
    materializer.createSchema(s"graft__${s.model.schemaName}")
    // View bodies reference upstream physical tables that may not exist until
    // backfill runs; the scheduler re-creates views DAG-ordered in evaluate().
  }

  /** ViewStrategy (evaluator.py:2650): (re)create the view over the rendered
    * query — called from evaluate() so upstreams already exist. */
  private def createView(s: Snapshot, interval: Interval, executionTs: Long,
                         mapping: Map[String, String]): Unit = {
    val sql = renderSql(s, interval.start, interval.end, executionTs, mapping,
      physicalTable(s).qualified)
    spark.sql(s"CREATE OR REPLACE VIEW ${physicalTable(s).qualified} AS $sql")
  }

  /** A snapshot's SQL through [[renderer]], `@this_model` bound to `thisModel`. */
  private[graft] def renderSql(s: Snapshot, start: Long, end: Long, executionTs: Long,
                               mapping: Map[String, String], thisModel: String): String =
    renderer.sql(spark, s.model, Some(s.fingerprint.full), start, end, executionTs,
      mapping, Some(thisModel))

  /** A snapshot's query as a frame through [[renderer]]. */
  private[graft] def query(s: Snapshot, start: Long, end: Long, executionTs: Long,
                           mapping: Map[String, String], thisModel: String,
                           vars: => Map[String, String] = renderer.variables): DataFrame =
    renderer.frame(spark, s.model, Some(s.fingerprint.full), start, end, executionTs,
      mapping, Some(thisModel), vars)

  /** dbt `{% if is_incremental() %}`: true only for an incremental kind
    * writing into a table that already has data. */
  private def incrementalVars(s: Snapshot, t: PhysicalTable): Map[String, String] =
    renderer.variables + ("is_incremental" ->
      (s.model.kind.isIncremental && materializer.currentDataDir(t).nonEmpty).toString)

  /** Backfill one interval batch (reference `_evaluate_snapshot` :677):
    * pre-statements → render → strategy insert → post-statements → audits. */
  /** Create the physical object EMPTY if absent — the skip-backfill physical
    * layer (plan/definition.py skip_backfill still runs the create stage):
    * env views must resolve even though no interval was ever evaluated.
    * Callers iterate parents-first so view/limit(0) bodies can reference
    * their upstreams. */
  def ensurePhysical(s: Snapshot, executionTs: Long, upstreams: Batch => Map[String, String],
                     dev: Boolean = false): Unit = {
    val t = physicalTable(s, dev)
    lazy val mapping = upstreams(Batch(s.model, Interval(0L, 0L), executionTs))
    s.model.kind match {
      case ModelKind.View =>
        if (!materializer.tableExists(t))
          createView(s, Interval(0L, 0L), executionTs, mapping)
      case k if k.isMaterialized =>
        if (materializer.currentDataDir(t).isEmpty) {
          val df = query(s, 0L, 0L, executionTs, mapping, t.qualified)
          materializer.replaceQuery(t, withManagedCols(df, s.model).limit(0))
        }
      case _ => ()
    }
  }

  /** Phase 1 of a concurrent batch (batch_concurrency > 1): compute the
    * batch's rendered result into a PRIVATE staging dir. Parallel-safe by
    * construction — no two writers ever share a destination path (concurrent
    * dynamic-partition-overwrite jobs against one table root race on their
    * shared `.spark-staging` dirs). The expensive part — the transform — runs
    * here in parallel; [[ingestStaged]] then publishes serially. */
  def stageBatch(s: Snapshot, interval: Interval, executionTs: Long,
                 tableMapping: Map[String, String], dev: Boolean = false): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage").toString
    // render with @this resolved like evaluate() does; models with
    // pre-statements never reach here (the scheduler keeps them sequential —
    // concurrent pre-statements would race on session-global temp state)
    val t = physicalTable(s, dev)
    val df = query(s, interval.start, interval.end, executionTs, tableMapping,
      t.qualified, incrementalVars(s, t))
    df.write.mode("overwrite").parquet(dir)
    VersionDir.record(spark, dir, df.schema, Nil)
    dir
  }

  /** Phase 2: ingest a staged batch through the normal evaluate path (same
    * strategy dispatch, guards, audits, post-statements) by swapping the
    * body for a read of the staged result. Must be called serially per
    * table. */
  def ingestStaged(s: Snapshot, interval: Interval, executionTs: Long,
                   tableMapping: Map[String, String], stagedDir: String,
                   dev: Boolean = false): Unit = {
    val swapped = s.copy(model = s.model.copy(body =
      ScalaBody((sp, _, _, _) => VersionDir.read(sp, stagedDir))))
    try evaluate(swapped, interval, executionTs, tableMapping, isFirstInsert = false, dev)
    finally {
      val p = new org.apache.hadoop.fs.Path(stagedDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true); ()
    }
  }

  def evaluate(
      s: Snapshot,
      interval: Interval,
      executionTs: Long,
      tableMapping: Map[String, String],
      isFirstInsert: Boolean,
      dev: Boolean = false): Unit = {
    // session_properties (meta.py:109): per-model Spark confs for this
    // evaluation only — e.g. a fat model's own shuffle partitioning. The
    // model runs on a CLONED session (conf/temp views/functions copied,
    // SparkContext + external catalog shared) so concurrently-scheduled
    // models never observe each other's confs and the parent session's conf
    // is never touched — a set/restore on the shared session would race with
    // the Scheduler's intra-level parallelism (another model could render
    // under this model's `spark.sql.session.timeZone` and produce wrong
    // RESULTS, and interleaved restores could clobber a conf permanently).
    if (s.model.sessionProperties.isEmpty)
      evaluateInner(s, interval, executionTs, tableMapping, isFirstInsert, dev)
    else {
      val cloned = org.apache.spark.sql.graft.SessionClone.clone(spark)
      s.model.sessionProperties.foreach { case (k, v) => cloned.conf.set(k, v) }
      val isolated = new SnapshotEvaluator(new SparkMaterializer(cloned),
        workspace, customStrategies, variablesFn, macrosFn, onAuditFailure)
      isolated.evaluateInner(s, interval, executionTs, tableMapping, isFirstInsert, dev)
    }
  }

  private def evaluateInner(
      s: Snapshot,
      interval: Interval,
      executionTs: Long,
      mapping: Map[String, String],
      isFirstInsert: Boolean,
      dev: Boolean): Unit = {
    val t = physicalTable(s, dev)
    val thisName = t.qualified

    s.model.preStatements.foreach(st =>
      spark.sql(renderer.statement(st, interval, executionTs, mapping, Some(thisName))))

    def rendered: DataFrame = {
      val df = query(s, interval.start, interval.end, executionTs, mapping, thisName,
        incrementalVars(s, t))
      // declared-columns contract (columns_to_types): project + cast to
      // exactly the declared schema; a missing column fails analysis loudly
      val contracted =
        if (s.model.columns.isEmpty) df
        else df.select(s.model.columns.map { case (c, t) =>
          org.apache.spark.sql.functions.col(c).cast(t).as(c)
        }: _*)
      withManagedCols(contracted, s.model)
    }

    // write-audit-publish: remember the published version so a failing audit
    // can roll the table back (full-replace strategies write a fresh version
    // dir, so deleting it restores the pre-write state exactly)
    val publishedDir = materializer.currentDataDir(t)

    // ---- audit planning (before the write so aggregate-form audits can
    // ride the write action itself as observed metrics — one scan, not
    // write + N audit scans; see ObservedAudits) ------------------------
    // the frame a time-range batch writes, built once: its time column's
    // type picks the interval's literals (a DATE compares as a date)
    lazy val written = rendered
    val timeCondStr: Option[String] = s.model.kind match {
      case k: ModelKind.IncrementalByTimeRange =>
        Some(UtcInterval.condition(k.timeColumn, k.timeFormat, interval.start, interval.end,
          UtcInterval.typeOf(written.schema, k.timeColumn)))
      case _ => None
    }
    final case class AuditSpec(name: String, blocking: Boolean,
                               userArgs: Map[String, String],
                               queryArgs: Map[String, String])
    val auditSpecs = s.model.audits.map { case (rawName, args) =>
      val blocking = !rawName.endsWith("_non_blocking")
      val name = rawName.stripSuffix("_non_blocking")
      // audit args may reference OTHER models (e.g. relationships `to`) —
      // resolve them to physical tables like any rendered statement
      val userArgs = args.map { case (k, v) =>
        k -> Renderer.resolveTables(v, mapping)
      }
      AuditSpec(name, blocking, userArgs, Audits.withIntervalCondition(userArgs, timeCondStr))
    }
    // one-pass eligibility: the strategy must consume the rendered frame in
    // exactly one write action whose rows (within timeCondStr) ARE the
    // audited scope — full replaces and time-range inserts qualify; merge/
    // SCD2/append audit the whole resulting table, which differs from the
    // batch, so they keep the post-write query path
    val observeEligible = s.model.kind match {
      case ModelKind.Full | ModelKind.MaterializedView => true
      case _: ModelKind.Managed => true
      case _: ModelKind.IncrementalByTimeRange =>
        // batch-scoped metrics are authoritative only when the interval has
        // no PRIOR rows in the table: a partitioned dynamic overwrite whose
        // source shrank (restatement) keeps stale partitions INSIDE the
        // audited interval, which the batch can't see. Unpartitioned
        // tables rewrite the whole range (DELETE_INSERT) — always sound;
        // auto-time partitioning proves freshness from driver-side
        // partition METADATA (one dir listing); custom
        // partitioning can't prove it, so it keeps the query path.
        if (t.partitionedBy.isEmpty) true
        else if (!autoTimePartitioned(s.model)) false
        else {
          val loS = UtcInterval.partitionValue(interval.start, s.model.intervalUnit)
          val hiS = UtcInterval.partitionValue(interval.end - 1, s.model.intervalUnit)
          materializer.partitionValues(t).forall(pv =>
            pv.get(SnapshotEvaluator.TimePartitionCol)
              .forall(v => v < loS || v > hiS))
        }
      case _ => false
    }
    val observedPlans: Map[Int, graft.audits.ObservedAudits.Planned] =
      if (!observeEligible) Map.empty
      else auditSpecs.zipWithIndex.flatMap { case (a, i) =>
        graft.audits.ObservedAudits.plan(i, a.name, a.userArgs, timeCondStr)
          .map(i -> _)
      }.toMap
    val observation =
      if (observedPlans.isEmpty) None
      else Some(org.apache.spark.sql.Observation())
    // lazy: `rendered` is a def — kinds that never write (View/Embedded/
    // External, already-seeded Seed) must not build it, and kinds that use
    // `rendered` directly must not build it twice
    lazy val toWrite = observation match {
      case Some(o) =>
        val ms = observedPlans.values.flatMap(_.metrics).toSeq
        written.observe(o, ms.head, ms.tail: _*)
      case None => written
    }

    s.model.kind match {
      case ModelKind.Full => materializer.replaceQuery(t, toWrite)
      case ModelKind.View => createView(s, interval, executionTs, mapping)
      // materialized view: physically refreshed every run (ViewStrategy with
      // materialized=True → engine materialized view; parquet analog = full
      // refresh of the snapshot table)
      case ModelKind.MaterializedView => materializer.replaceQuery(t, toWrite)
      // MANAGED: the refresh itself is a full replace; WHEN it runs is the
      // scheduler's target_lag gate (reference delegates this to the
      // warehouse's dynamic-table refresh loop)
      case _: ModelKind.Managed => materializer.replaceQuery(t, toWrite)
      case k: ModelKind.IncrementalByTimeRange =>
        materializer.insertOverwriteByTimePartition(t, toWrite, k.timeColumn,
          interval.start, interval.end, k.timeFormat)
      case k: ModelKind.IncrementalByUniqueKey =>
        if (isFirstInsert && materializer.currentDataDir(t).isEmpty)
          materializer.replaceQuery(t, materializer.dedupByKey(rendered, k.uniqueKey))
        else
          materializer.merge(t, rendered, k.uniqueKey,
            k.mergeFilter.map(f => org.apache.spark.sql.functions.expr(
              renderer.statement(f, interval, executionTs, mapping, Some(thisName)))),
            k.whenMatchedUpdate.map { case (c, e) =>
              c -> org.apache.spark.sql.functions.expr(
                renderer.statement(e, interval, executionTs, mapping, Some(thisName)))
            },
            k.whenMatchedDelete.map(d => org.apache.spark.sql.functions.expr(
              renderer.statement(d, interval, executionTs, mapping, Some(thisName)))))
      case _: ModelKind.IncrementalByPartition =>
        materializer.insertOverwriteByPartition(t, rendered)
      case k: ModelKind.IncrementalUnmanaged =>
        if (k.insertOverwrite) materializer.insertOverwriteByPartition(t, rendered)
        else materializer.insertAppend(t, rendered)
      case k: ModelKind.ScdType2ByTime =>
        materializer.scdType2ByTime(t, rendered, k, new java.sql.Timestamp(executionTs))
      case k: ModelKind.ScdType2ByColumn =>
        materializer.scdType2ByColumn(t, rendered, k, new java.sql.Timestamp(executionTs))
      case _: ModelKind.Seed =>
        if (materializer.currentDataDir(t).isEmpty) materializer.replaceQuery(t, rendered)
      case k: ModelKind.Custom =>
        customStrategies(k.strategyName).getOrElse(
          throw new IllegalArgumentException(s"unregistered custom strategy ${k.strategyName}"))(
          materializer, t, rendered)
      case ModelKind.Embedded | ModelKind.External => ()
    }

    s.model.postStatements.foreach(st =>
      spark.sql(renderer.statement(st, interval, executionTs, mapping, Some(thisName))))

    // audits on the affected interval (blocking; evaluator.py:1363). A failed
    // BLOCKING audit rolls the physical table back to the pre-write version
    // (the "publish" half of write-audit-publish) before propagating; a
    // `_non_blocking`-suffixed audit only warns (builtin.py:11
    // create_non_blocking_copy).
    // the write completed — observed audit metrics are available without
    // touching the table again (the common all-pass case costs zero scans)
    val observedValues: Map[String, Any] =
      observation.map(_.get).getOrElse(Map.empty)
    auditSpecs.zipWithIndex.foreach { case (a, i) =>
      val observedPass = observedPlans.get(i).exists(!_.failed(observedValues))
      if (!observedPass) {
        // not observable, or the in-pass metrics flagged a violation — run
        // the classic audit query (the failure path also needs its sample
        // row for the message)
        val violations = Audits.run(spark, a.name, thisName, a.queryArgs)
        val sample = violations.limit(1).collect()
        if (sample.nonEmpty) {
          onAuditFailure(s.model.name, a.name, sample.head.toString, a.blocking)
          if (a.blocking) {
            if (materializer.currentDataDir(t) != publishedDir)
              materializer.rollbackTo(t, publishedDir)
            throw new IllegalStateException(
              s"audit ${a.name} failed for ${s.model.name}: e.g. ${sample.head}")
          } else {
            System.err.println(
              s"[graft] WARNING: non-blocking audit ${a.name} failed for ${s.model.name}: ${sample.head}")
          }
        }
      }
    }
  }

  /** MigrateSchemas (evaluator.py:1105): evolve the (reused) physical table of
    * a forward-only snapshot to the new query's output schema — analyzed, not
    * executed, so migration costs one table rewrite, never a recompute. */
  def migrate(s: Snapshot, start: Long, end: Long, executionTs: Long,
              upstreams: Batch => Map[String, String]): Unit = {
    val t = physicalTable(s)
    if (materializer.currentDataDir(t).isEmpty) return
    // full render context — a model using variables or custom macros must
    // migrate the same way it evaluates
    val target = query(s, start, end, executionTs,
      upstreams(Batch(s.model, Interval(start, end), executionTs)), t.qualified).schema
    // on_destructive_change guard (reference model attr): forward-only
    // migrations that would drop/narrow columns abort (or warn) — history
    // destruction must be opted into, never accidental
    val ops = graft.adapter.SchemaDiffer.diff(
      org.apache.spark.sql.types.StructType(
        materializer.read(t).schema.filterNot(_.name.startsWith("__graft_"))), target)
    if (graft.adapter.SchemaDiffer.isDestructive(ops)) s.model.onDestructiveChange match {
      case "allow" => ()
      case "warn" =>
        System.err.println(s"[graft] WARN destructive migration of ${s.model.name}: $ops")
      case _ => throw new IllegalStateException(
        s"destructive schema change on forward-only model ${s.model.name}: $ops " +
          "(set on_destructive_change to 'warn' or 'allow' to permit)")
    }
    // on_additive_change guard (reference OnAdditiveChange, meta.py:618):
    // some forward-only deployments also gate column ADDS — a new column on
    // a shared 100 TB table changes every consumer's SELECT *
    val additive = graft.adapter.SchemaDiffer.additiveOps(ops)
    val effectiveTarget =
      if (additive.isEmpty) target
      else s.model.onAdditiveChange match {
        case "allow" => target
        case "warn" =>
          System.err.println(s"[graft] WARN additive migration of ${s.model.name}: $additive")
          target
        case "ignore" =>
          // apply the migration WITHOUT the additive ops: adds dropped,
          // widenings keep the current type
          val added = additive.collect {
            case graft.adapter.SchemaDiffer.AddColumn(n, _) => n }.toSet
          val widened = additive.collect {
            case graft.adapter.SchemaDiffer.ChangeType(n, from, _) => n -> from }.toMap
          org.apache.spark.sql.types.StructType(
            target.fields.filterNot(f => added.contains(f.name))
              .map(f => f.copy(dataType = widened.getOrElse(f.name, f.dataType))))
        case _ => throw new IllegalStateException(
          s"additive schema change on forward-only model ${s.model.name}: $additive " +
            "(set on_additive_change to 'warn', 'allow' or 'ignore' to permit)")
      }
    materializer.migrate(t, effectiveTarget)
  }

  /** VirtualLayerUpdate: promote env views (evaluator.py:1999-2016), then run
    * the model's on_virtual_update statements with @this_model bound to the
    * environment VIEW (evaluator.py:1284) — e.g. GRANTs on the repointed view. */
  def promote(s: Snapshot, env: String, dev: Boolean = false,
              suffixTarget: String = "schema", executionTs: Long = 0L,
              catalog: Option[String] = None): Unit = {
    val location @ (_, db, view) =
      EnvironmentView.location(s.model.name, env, suffixTarget, catalog)
    catalog match {
      case Some(c) =>
        materializer.promoteCatalog(c, db, view, physicalTable(s, dev), s.model.virtualProperties)
      case None =>
        materializer.promote(db, view, physicalTable(s, dev), s.model.virtualProperties)
    }
    s.model.onVirtualUpdate.foreach(st =>
      spark.sql(renderer.statement(st, Interval(0L, executionTs), executionTs,
        Map.empty, Some(EnvironmentView.quoted(location)))))
  }

  def demote(s: Snapshot, env: String, suffixTarget: String = "schema",
             catalog: Option[String] = None): Unit =
    materializer.demote(EnvironmentView.location(s.model.name, env, suffixTarget, catalog))
}

object SnapshotEvaluator {
  /** Managed partition-key column for auto-time-partitioned tables —
    * present in the physical files, hidden from the catalog view. */
  val TimePartitionCol = "__graft_pt"
  /** Managed hash-of-key bucket column for bucketed unique-key tables. */
  val KeyBucketCol = "__graft_bk"
}
