package graft.adapter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.ModelKind

/** A physical table: a (possibly partitioned) parquet root with versioned data
  * directories `v0, v1, …` underneath. Every destructive operation writes a NEW
  * version directory and repoints the catalog view — copy-on-write, so readers
  * never observe a half-written table and no operation ever reads the path it
  * writes (Spark forbids that). On a real cluster the same layout works on
  * HDFS/S3 via the Hadoop FS API; swapping in Delta/Iceberg would collapse the
  * version dirs into table versions.
  */
final case class PhysicalTable(
    database: String,          // e.g. graft__sushi
    table: String,             // e.g. sushi__foo__<version>
    root: String,              // fs root holding v* data dirs
    partitionedBy: Seq[String] = Nil,
    /** cluster/sort columns applied on write (reference clustered_by →
      * mixins.py:84 _build_partitioned_by_exp clustering half) */
    clusteredBy: Seq[String] = Nil,
    /** DataFrameWriter options from the model's physical_properties
      * (e.g. compression codec) — applied on every write of this table. */
    options: Map[String, String] = Map.empty) {
  def qualified: String = s"`$database`.`$table`"
}

/** The EngineAdapter collapsed to one Spark-native implementation
  * (reference surface: sqlmesh/core/engine_adapter/base.py; Spark adapter
  * sqlmesh/core/engine_adapter/spark.py). Plane-A SQL executes on Catalyst;
  * this class owns the Plane-B relational operations: DDL, CTAS, inserts,
  * insert-overwrite-by-time, merge, and SCD2.
  */
class SparkMaterializer(val spark: SparkSession,
                        formatOverride: Option[TableFormat] = None) {

  /** The storage/commit protocol (see [[TableFormat]]): every physical
    * read/commit below routes through this seam. `formatOverride` lets a
    * test wrap the default [[DirVersionFormat]]. */
  val format: TableFormat = formatOverride.getOrElse(new DirVersionFormat(spark))
  import SparkMaterializer._

  // ---------------------------------------------------------------- DDL

  /** create_schema (base.py:1380) */
  def createSchema(db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  def dropSchema(db: String, cascade: Boolean = true): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` ${if (cascade) "CASCADE" else ""}")

  /** Current committed data directory (highest v*), if any. */
  def currentDataDir(t: PhysicalTable): Option[String] = format.currentDataDir(t)

  /** (Re)bind the catalog entry to the current snapshot (format-owned). */
  def register(t: PhysicalTable): Unit = format.register(t)

  def tableExists(t: PhysicalTable): Boolean =
    spark.catalog.tableExists(s"${t.database}.${t.table}")

  def read(t: PhysicalTable): DataFrame = format.read(t)

  /** All committed versions of the table, oldest first (the copy-on-write
    * analog of Delta's DESCRIBE HISTORY). */
  def versions(t: PhysicalTable): Seq[Int] = format.versions(t)

  /** Driver-side partition metadata of the current snapshot (see
    * [[TableFormat.partitionValues]]). */
  def partitionValues(t: PhysicalTable): Seq[Map[String, String]] =
    format.partitionValues(t)

  /** Time travel: read the table as of a specific committed version
    * (`VERSION AS OF` analog). */
  def readVersion(t: PhysicalTable, version: Int): DataFrame =
    format.timeTravel(t, version)

  def dropTable(t: PhysicalTable): Unit = format.drop(t)

  /** create_table_like (base.py:1042): empty clone of the structure. */
  def createTableLike(target: PhysicalTable, source: PhysicalTable): Unit =
    replaceQuery(target.copy(partitionedBy = source.partitionedBy),
      read(source).limit(0))

  /** clone_table (base.py:1059): zero-copy clone pinning the source's data
    * as of clone time — format-owned (Delta: SHALLOW CLONE). */
  def cloneTable(target: PhysicalTable, source: PhysicalTable): Unit =
    format.cloneTable(target, source)

  /** rename_table (base.py:2273) — catalog-level move; data stays. */
  def renameTable(t: PhysicalTable, newTable: String): PhysicalTable =
    format.renameTable(t, newTable)

  // ------------------------------------------------------------- writes

  /** ctas / create-or-replace (base.py:680 ctas; replace_query :459):
    * publish a full new snapshot through the format's commit protocol. */
  def replaceQuery(t: PhysicalTable, df: DataFrame,
                   clusterFiles: Option[Int] = None): Unit =
    format.createOrReplace(t, df, clusterFiles)

  def ctas(t: PhysicalTable, df: DataFrame): Unit = replaceQuery(t, df)

  /** insert_append (base.py:1500) — append into the current snapshot. */
  def insertAppend(t: PhysicalTable, df: DataFrame): Unit = format.append(t, df)

  /** insert_overwrite_by_time_partition (base.py:1580): enforce the
    * half-open `[start, end)` predicate ([[UtcInterval.condition]]) on the
    * data (idempotent-restatement correctness, not just perf), then
    * dynamically overwrite only the touched partitions.
    * At 100 TB this is the core incremental op — cost ∝ interval size, never
    * table size, and untouched partitions are never rewritten. */
  def insertOverwriteByTimePartition(
      t: PhysicalTable, df: DataFrame, timeCol: String,
      startMs: Long, endMs: Long, timeFormat: String = "timestamp"): Unit = {
    val inInterval = expr(UtcInterval.condition(timeCol, timeFormat, startMs, endMs,
      UtcInterval.typeOf(df.schema, timeCol)))
    val guarded = df.filter(inInterval)
    currentDataDir(t) match {
      case None => replaceQuery(t, guarded)
      case Some(_) =>
        if (t.partitionedBy.nonEmpty) {
          format.overwritePartitions(t, guarded)
        } else {
          // DELETE_INSERT strategy fallback (shared.py:235) on unpartitioned
          // tables: rewrite = keep-outside-range ∪ new-rows, copy-on-write.
          val old = read(t).filter(!inInterval)
          replaceQuery(t, old.unionByName(guarded))
        }
    }
  }

  /** insert_overwrite_by_partition (base.py:1551): overwrite exactly the
    * partitions present in `df` (dynamic partition overwrite). */
  def insertOverwriteByPartition(t: PhysicalTable, df: DataFrame): Unit =
    currentDataDir(t) match {
      case None      => replaceQuery(t, df)
      case Some(_) =>
        require(t.partitionedBy.nonEmpty, "INCREMENTAL_BY_PARTITION needs partitioned_by")
        format.overwritePartitions(t, df)
    }

  /** delete_from (base.py:1497) as copy-on-write anti-filter. */
  def deleteWhere(t: PhysicalTable, cond: Column): Unit =
    replaceQuery(t, read(t).filter(!coalesce(cond, lit(false))))

  /** update_table (base.py:1715) as copy-on-write conditional projection. */
  def updateWhere(t: PhysicalTable, cond: Column, set: Map[String, Column]): Unit = {
    val cur = read(t)
    val projected = cur.columns.map { c =>
      set.get(c) match {
        case Some(v) => when(coalesce(cond, lit(false)), v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }
    replaceQuery(t, cur.select(projected.toIndexedSeq: _*))
  }

  /** alter_table / migrate (base.py:1161 alter_table; evaluator.py:1105
    * MigrateSchemas): evolve the physical table in place to `target` —
    * new columns backfill NULL, dropped columns vanish, type changes cast.
    * Copy-on-write: history rows are preserved under the new schema, which is
    * exactly the forward-only contract (no historical recompute). */
  def migrate(t: PhysicalTable, target: org.apache.spark.sql.types.StructType): Unit = {
    val cur = read(t)
    // managed __graft_* columns are physical-layout internals: excluded from
    // the diff (the target schema never mentions them) and carried through
    val managed = cur.columns.filter(_.startsWith("__graft_"))
    val curUser = org.apache.spark.sql.types.StructType(
      cur.schema.filterNot(_.name.startsWith("__graft_")))
    val ops = SchemaDiffer.diff(curUser, target)
    if (ops.isEmpty) return
    val projected = target.fields.map { f =>
      if (cur.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ managed.map(col)
    replaceQuery(t, cur.select(projected.toIndexedSeq: _*))
  }

  /** merge (base.py:2203; logical emulation mixins.py:35 LogicalMergeMixin):
    * upsert `source` into the target on unique-key equality. Default semantics =
    * update-all-columns when matched, insert when not. Emulated as
    * (target ANTI JOIN source-keys) ∪ deduped-source — one shuffle on the key.
    *
    * Scale path: when the target is partitioned and `mergeFilter` (kind.py:516)
    * or the source's partition values restrict the touched partitions, only
    * those partitions are rewritten via dynamic overwrite; the rest of the
    * table is untouched.
    */
  def merge(t: PhysicalTable, source: DataFrame, keys: Seq[String],
            mergeFilter: Option[Column] = None,
            whenMatchedUpdate: Map[String, Column] = Map.empty,
            whenMatchedDelete: Option[Column] = None): Unit = {
    currentDataDir(t) match {
      case None => replaceQuery(t, dedupByKey(source, keys))
      case Some(_) =>
        val src0 = dedupByKey(source, keys)
        // custom when-matched clauses (base.py:2203 `when_matched`): matched
        // rows update only the given columns — emulated by joining the old row
        // back in and projecting target values through the update expressions;
        // a matched row satisfying the DELETE condition is dropped entirely
        // (its target row is already excluded by the key anti-join below).
        // `s_<col>`/`t_<col>` reference source/target sides in the exprs.
        val src =
          if (whenMatchedUpdate.isEmpty && whenMatchedDelete.isEmpty) src0
          else {
            // matched-ness is decided against the mergeFilter-SCOPED target —
            // the same scope the key anti-join uses below; an out-of-scope
            // target row is NOT a match (the source row inserts as new)
            val tgt = mergeFilter.fold(read(t))(fl =>
              read(t).filter(coalesce(fl, lit(false))))
            val sPref = src0.select(src0.columns.map(c => col(c).as(s"s_$c")): _*)
            val tPref = tgt.select(tgt.columns.map(c => col(c).as(s"t_$c")) :+
              lit(true).as("__t_exists"): _*)
            val joinCond = keys.map(k => col(s"s_$k") <=> col(s"t_$k")).reduce(_ && _)
            val matched = col("__t_exists").isNotNull
            val joined = sPref.join(tPref, joinCond, "left")
            val kept = whenMatchedDelete match {
              case Some(cond) => joined.filter(!(matched && coalesce(cond, lit(false))))
              case None       => joined
            }
            // matched rows: listed columns take their update expression, the
            // rest KEEP the target value; unmatched rows insert the source row
            kept.select(src0.columns.toIndexedSeq.map { c =>
              whenMatchedUpdate.get(c) match {
                case Some(update) => when(matched, update).otherwise(col(s"s_$c")).as(c)
                case None if keys.contains(c) || whenMatchedUpdate.isEmpty =>
                  col(s"s_$c").as(c) // default = update-all-columns
                case None => when(matched, col(s"t_$c")).otherwise(col(s"s_$c")).as(c)
              }
            }: _*)
          }
        // The pruned path is only key-stable when the partition columns are a
        // subset of the key — or the managed hash-of-key bucket, which is a
        // pure function of the key: then a key's partition value can never
        // change between runs, so no stale duplicate row can hide in an
        // untouched partition. Otherwise fall back to the full rewrite.
        if (t.partitionedBy.nonEmpty &&
            t.partitionedBy.forall(c => keys.contains(c) || c == "__graft_bk")) {
          // partition-pruned merge: rewrite only partitions present in source
          val parts = src0.select(t.partitionedBy.map(col): _*).distinct()
          val affected = read(t).join(broadcast(parts), t.partitionedBy, "left_semi")
          // rows of touched partitions that fail mergeFilter are out of merge
          // scope but must survive the partition rewrite
          val (inScope, outOfScope) = mergeFilter match {
            case Some(fl) => (affected.filter(coalesce(fl, lit(false))),
              affected.filter(!coalesce(fl, lit(false))))
            case None => (affected, affected.limit(0))
          }
          val merged = inScope.join(src0.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(src).unionByName(outOfScope)
          // staged: `merged` reads the snapshot being overwritten
          format.overwritePartitions(t, merged, staged = true)
        } else {
          var target = read(t)
          val untouched = mergeFilter match {
            case Some(fl) => target.filter(!coalesce(fl, lit(false)))
            case None     => target.limit(0)
          }
          mergeFilter.foreach(fl => target = target.filter(coalesce(fl, lit(false))))
          val merged = target.join(src0.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(src).unionByName(untouched)
          replaceQuery(t, merged)
        }
    }
  }

  /** Latest row per key — ties broken deterministically by all remaining
    * columns so merge results are stable (reference dedups source by key:
    * base.py:1854 `source` CTE). `orderBy` gives the recency column if any. */
  def dedupByKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column] = Nil): DataFrame = {
    val others = df.columns.filterNot(keys.contains).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((if (orderBy.nonEmpty) orderBy.map(_.desc) else others.toSeq): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- SCD2

  /** scd_type_2_by_time (base.py:1738, _scd_type_2 :1810-2201) re-expressed as
    * one DataFrame job instead of the reference's 8-CTE SQL pipeline:
    * source(dedup) FULL JOIN latest-open-rows, per-row CASE decides
    * close/carry/insert, union with static history, copy-on-write the table.
    *
    * Semantics ported 1:1: epoch-0 valid_from on first load (:1916), hard-delete
    * invalidation via execution_ts (:1921), re-insert after delete starts at
    * max(deleted.valid_to, updated_at) (:1921 latest_deleted),
    * `updated_at_as_valid_from` (:1904).
    */
  def scdType2ByTime(t: PhysicalTable, sourceDf: DataFrame,
                     kind: ModelKind.ScdType2ByTime, executionTs: java.sql.Timestamp): Unit =
    replaceQuery(t, scd2ByTimeFrame(t, sourceDf, kind, executionTs))

  /** The SCD2-by-time result frame, exposed so PlanQualitySpec can pin the
    * join strategy (no mandatory broadcast of the closed history). */
  private[graft] def scd2ByTimeFrame(t: PhysicalTable, sourceDf: DataFrame,
                     kind: ModelKind.ScdType2ByTime, executionTs: java.sql.Timestamp): DataFrame = {
    val keys = kind.uniqueKey
    val vf = kind.validFromCol; val vt = kind.validToCol; val ua = kind.updatedAtCol
    val source = dedupByKey(sourceDf, keys, Seq(col(ua)))
    val epoch0 = lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))

    currentDataDir(t) match {
      case None =>
        // initial load: every row open; valid_from = epoch 0 unless
        // updated_at_as_valid_from (:1904,:1916)
        source
          .withColumn(vf, if (kind.updatedAtAsValidFrom) col(ua) else epoch0)
          .withColumn(vt, lit(null).cast("timestamp"))

      case Some(_) =>
        val target = read(t)
        val static = target.filter(col(vt).isNotNull)
        val latest = target.filter(col(vt).isNull)

        // explicit `_exists` markers (reference exp.true().as("_exists")): a
        // legitimately-NULL first key column must not read as "row absent"
        val s = source.select(source.columns.map(c => col(c).as(s"s_$c")) :+
          lit(true).as("__s_exists"): _*)
        val l = latest.select(latest.columns.map(c => col(c).as(s"t_$c")) :+
          lit(true).as("__t_exists"): _*)
        val joinCond = keys.map(k => col(s"s_$k") <=> col(s"t_$k")).reduce(_ && _)
        val j = s.join(l, joinCond, "full_outer")

        val dataCols = source.columns.toSeq
        val inSource = col("__s_exists").isNotNull
        val inTarget = col("__t_exists").isNotNull
        val changed = inSource && inTarget && (col(s"s_$ua") > col(s"t_$ua"))

        // 1. carried/closed version of existing open rows
        val existing = j.filter(inTarget).select(
          (dataCols.map(c => col(s"t_$c").as(c)) :+
            col(s"t_$vf").as(vf) :+
            when(changed, col(s"s_$ua"))                        // close at new updated_at
              .when(!inSource && lit(kind.invalidateHardDeletes), lit(executionTs))
              .otherwise(lit(null).cast("timestamp")).as(vt)): _*)

        // 2. new version rows for changed keys: insert_valid_from_start =
        // updated_at (base.py:1919 insert_valid_from_start)
        val updatedNew = j.filter(changed).select(
          (dataCols.map(c => col(s"s_$c").as(c)) :+
            col(s"s_$ua").as(vf) :+
            lit(null).cast("timestamp").as(vt)): _*)

        // 3. brand-new keys: valid_from = epoch 0 unless updated_at_as_valid_from
        // (base.py:1909-1919 update_valid_from_start via the updated_rows CASE);
        // keys re-appearing after a hard delete open at
        // max(latest_deleted.valid_to, updated_at) (base.py:2004-2011)
        val newKeyVf = if (kind.updatedAtAsValidFrom) col(s"s_$ua") else epoch0
        val insertedBase = j.filter(inSource && !inTarget).select(
          (dataCols.map(c => col(s"s_$c").as(c)) :+
            newKeyVf.as(vf) :+
            lit(null).cast("timestamp").as(vt)): _*)
        // most recent closed row per key — for hard-delete re-inserts (:1921,
        // base.py:2004-2011 latest_deleted). The closed history's key
        // cardinality is unbounded at scale, so prune it with a semi-join to
        // the (typically tiny) set of keys inserted THIS batch before the
        // aggregate, and leave join strategy to AQE — a forced broadcast of
        // the full history would OOM the driver at 100 TB.
        val latestDeleted = static
          .join(insertedBase.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(max(col(vt)).as("__del_vt"))
        val inserted = insertedBase
          .join(latestDeleted, keys, "left")
          .withColumn(vf, when(col("__del_vt").isNotNull,
            greatest(col("__del_vt"), col(ua))).otherwise(col(vf)))
          .drop("__del_vt")

        static.unionByName(existing).unionByName(updatedNew).unionByName(inserted)
    }
  }

  /** scd_type_2_by_column (base.py:1774): change detection = null-safe
    * inequality over `check_columns` (:1938 `!(s <=> t)`); valid_from/valid_to
    * use execution_ts (no updated_at in the source). */
  def scdType2ByColumn(t: PhysicalTable, sourceDf: DataFrame,
                       kind: ModelKind.ScdType2ByColumn,
                       executionTs: java.sql.Timestamp): Unit = {
    val keys = kind.uniqueKey
    val vf = kind.validFromCol; val vt = kind.validToCol
    val source = dedupByKey(sourceDf, keys)
    val epoch0 = lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
    val checkCols =
      if (kind.checkColumns == Seq("*")) source.columns.toSeq.filterNot(keys.contains)
      else kind.checkColumns

    currentDataDir(t) match {
      case None =>
        val init = source
          .withColumn(vf, if (kind.executionTimeAsValidFrom) lit(executionTs) else epoch0)
          .withColumn(vt, lit(null).cast("timestamp"))
        replaceQuery(t, init)
      case Some(_) =>
        val target = read(t)
        val static = target.filter(col(vt).isNotNull)
        val latest = target.filter(col(vt).isNull)

        // explicit `_exists` markers (reference exp.true().as("_exists"))
        val s = source.select(source.columns.map(c => col(c).as(s"s_$c")) :+
          lit(true).as("__s_exists"): _*)
        val l = latest.select(latest.columns.map(c => col(c).as(s"t_$c")) :+
          lit(true).as("__t_exists"): _*)
        val joinCond = keys.map(k => col(s"s_$k") <=> col(s"t_$k")).reduce(_ && _)
        val j = s.join(l, joinCond, "full_outer")

        val dataCols = source.columns.toSeq
        val inSource = col("__s_exists").isNotNull
        val inTarget = col("__t_exists").isNotNull
        val changed = inSource && inTarget &&
          checkCols.map(c => !(col(s"s_$c") <=> col(s"t_$c"))).reduce(_ || _)

        val existing = j.filter(inTarget).select(
          (dataCols.map(c => col(s"t_$c").as(c)) :+
            col(s"t_$vf").as(vf) :+
            when(changed, lit(executionTs))
              .when(!inSource && lit(kind.invalidateHardDeletes), lit(executionTs))
              .otherwise(lit(null).cast("timestamp")).as(vt)): _*)

        val updatedNew = j.filter(changed).select(
          (dataCols.map(c => col(s"s_$c").as(c)) :+
            lit(executionTs).as(vf) :+
            lit(null).cast("timestamp").as(vt)): _*)

        // check-columns SCD2 has NO latest_deleted rule (base.py:1975-1979:
        // valid_from = COALESCE(t_valid_from, update_valid_from_start)) —
        // new keys simply open at execution_ts on incremental runs
        val inserted = j.filter(inSource && !inTarget).select(
          (dataCols.map(c => col(s"s_$c").as(c)) :+
            lit(executionTs).as(vf) :+
            lit(null).cast("timestamp").as(vt)): _*)

        replaceQuery(t, static.unionByName(existing).unionByName(updatedNew).unionByName(inserted))
    }
  }

  /** Small-file compaction (the OPTIMIZE verb of Delta/Iceberg): rewrite the
    * current snapshot into ~`targetFileBytes` files and publish copy-on-write
    * — format-owned. Returns (filesBefore, filesAfter). */
  def compact(t: PhysicalTable, targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    format.compact(t, targetFileBytes)

  /** Reclaim storage held only by old snapshots, keeping the newest
    * `keepLast` (Delta VACUUM analog) — format-owned. */
  def vacuum(t: PhysicalTable, keepLast: Int = 1): Int = format.vacuum(t, keepLast)

  /** Write-audit-publish rollback half (reference spark.py:492-533 WAP via
    * Iceberg branches): discard snapshots committed after `keepDir` —
    * format-owned. */
  def rollbackTo(t: PhysicalTable, keepDir: Option[String]): Unit =
    format.rollbackTo(t, keepDir)

  // ------------------------------------------------------------ virtual layer

  /** promote (snapshot/evaluator.py:1999): environments are sets of views over
    * physical tables — prod/dev isolation is view re-pointing, never data copy.
    * `virtualProperties` (model virtual_properties) land as TBLPROPERTIES. */
  def promote(envDb: String, viewName: String, physical: PhysicalTable,
              virtualProperties: Map[String, String] = Map.empty): Unit = {
    createSchema(envDb)
    val props =
      if (virtualProperties.isEmpty) ""
      else virtualProperties.toSeq.sorted
        .map { case (k, v) => s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'" }
        .mkString(" TBLPROPERTIES (", ", ", ")")
    spark.sql(
      s"CREATE OR REPLACE VIEW `$envDb`.`$viewName`$props AS SELECT * FROM ${physical.qualified}")
  }

  def demote(envDb: String, viewName: String): Unit =
    spark.sql(s"DROP VIEW IF EXISTS `$envDb`.`$viewName`")

  /** Drop an environment's view at its `(catalog, db, view)` location: an
    * environment-catalog entry, or a session-catalog view. */
  def demote(location: (Option[String], String, String)): Unit = location match {
    case (Some(c), db, view) => demoteCatalog(c, db, view)
    case (None, db, view)    => demote(db, view)
  }

  /** [[promote]] into an environment CATALOG (suffix target `catalog` /
    * `environment_catalog_mapping`, reference config/common.py:33,
    * root.py:120): the virtual-layer entry lands in a registered
    * [[EnvCatalog]] as a zero-copy handle onto the physical root —
    * repointing semantics identical to the view path (the handle resolves
    * the CURRENT `v<N>` parquet snapshot dir at read time).
    * `virtualProperties` don't apply — catalog entries carry no DDL
    * surface for TBLPROPERTIES. */
  def promoteCatalog(catalog: String, envDb: String, viewName: String,
                     physical: PhysicalTable,
                     virtualProperties: Map[String, String] = Map.empty): Unit = {
    // catalog entries carry no DDL surface for TBLPROPERTIES — a model
    // routing virtual_properties into a catalog target must not lose them
    // SILENTLY (grants/ownership tooling keys on these)
    if (virtualProperties.nonEmpty)
      System.err.println(s"[graft] WARN $catalog.$envDb.$viewName: " +
        s"virtual_properties (${virtualProperties.keys.toSeq.sorted.mkString(", ")}) " +
        "are not applicable to environment-catalog entries and were not applied")
    EnvCatalog.ensureRegistered(spark, catalog)
    // capture the visible schema for the no-data-yet window (the catalog
    // analog of the empty view), from the commit record
    val ddl = format.schema(physical).map(st =>
      org.apache.spark.sql.types.StructType(st.filterNot(_.name.startsWith("__graft_"))).toDDL)
    EnvCatalog.writeEntry(spark, catalog, envDb, viewName, physical.root, ddl)
  }

  def demoteCatalog(catalog: String, envDb: String, viewName: String): Unit = {
    // self-register like the promote path: a FRESH driver demoting an env
    // promoted by an earlier session (invalidate/janitor/destroy) has no
    // runtime conf for the catalog yet — without this, every janitor run
    // would throw before deleting the env record and wedge cleanup forever.
    // ensureRegistered derives the same default warehouse deterministically;
    // a custom-warehouse deployment carries the conf in its session config.
    EnvCatalog.ensureRegistered(spark, catalog)
    val existed = EnvCatalog.dropEntry(spark, catalog, envDb, viewName)
    // demote proceeds (cleanup must not wedge), but an ABSENT entry is
    // worth a loud line: if this session's derived warehouse differs from
    // the one the entry was actually written under (warehousePath changed
    // between drivers without pinning spark.sql.catalog.<c>.warehouse),
    // the real entry is leaking elsewhere
    if (!existed)
      System.err.println(s"[graft] WARN demote of $catalog.$envDb.$viewName " +
        s"found no entry under warehouse " +
        s"${spark.conf.get(s"spark.sql.catalog.$catalog.warehouse")} — " +
        "if the env was promoted under a different warehouse, pin " +
        s"spark.sql.catalog.$catalog.warehouse and re-run the demote")
  }
}

object SparkMaterializer {
  /** Full environment target: (catalog override, database, view) of a model's
    * view in `env` (EnvironmentSuffixTarget, reference config/common.py:22-53);
    * prod is always the bare name.
    *  - `suffixTarget` "schema" (default): dev views in `<schema>__<env>`;
    *    "table": the prod schema, view `<table>__<env>`; "catalog"
    *    (common.py:33): BARE names in catalog `<baseCatalog>__<env>`.
    *  - `catalogMapping` (root.py:120 `environment_catalog_mapping`,
    *    environment.py:87): ordered (regex → catalog) pairs, the first PREFIX
    *    match on the env name wins (Python `re.match`), for prod and dev alike.
    *    Mutually exclusive with the catalog suffix target (root.py:254). */
  def envTarget(schema: String, table: String, env: String,
                suffixTarget: String = "schema",
                catalogMapping: Seq[(String, String)] = Nil,
                baseCatalog: String = "spark_catalog"): (Option[String], String, String) = {
    val (db, view) =
      if (env == "prod") (schema, table)
      else suffixTarget.toLowerCase match {
        case "table"   => (schema, s"${table}__$env")
        case "catalog" => (schema, table) // isolation carried by the catalog
        case _         => (s"${schema}__$env", table)
      }
    (envCatalog(env, suffixTarget, catalogMapping, baseCatalog), db, view)
  }

  /** Just the catalog half of [[envTarget]] — resolved once per
    * environment (it depends only on the env name) and recorded on the
    * environment state record so demotes always hit the right catalog. */
  def envCatalog(env: String, suffixTarget: String = "schema",
                 catalogMapping: Seq[(String, String)] = Nil,
                 baseCatalog: String = "spark_catalog"): Option[String] = {
    val isCatalogSuffix = suffixTarget.equalsIgnoreCase("catalog")
    require(!(isCatalogSuffix && catalogMapping.nonEmpty),
      "environment_suffix_target 'catalog' is mutually exclusive with " +
        "environment_catalog_mapping (reference config/root.py:254)")
    if (isCatalogSuffix && env != "prod") Some(s"${baseCatalog}__$env")
    else catalogMapping.collectFirst {
      case (re, cat) if java.util.regex.Pattern.compile(re).matcher(env).lookingAt() => cat
    }
  }
}
