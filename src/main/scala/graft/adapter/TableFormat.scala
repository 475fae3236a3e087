package graft.adapter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The storage/commit protocol behind [[PhysicalTable]]. Its one
  * implementation is [[DirVersionFormat]]'s copy-on-write version
  * directories; the trait keeps the protocol behind one interface so a test
  * can wrap it and prove that no strategy in [[SparkMaterializer]] bypasses
  * it. (The reference owns no commit protocol: its WAP uses the
  * warehouse's, e.g. Iceberg in engine_adapter/spark.py:492-533.)
  *
  * Everything ABOVE this seam — merge emulation, SCD2, insert-overwrite
  * guards, schema migration — is storage-agnostic composition in
  * [[SparkMaterializer]]; everything below is how a snapshot is committed,
  * read, versioned, and bound into the catalog:
  *
  *  - `createOrReplace`: publish a full new table snapshot atomically
  *    (write v(N+1), repoint the view)
  *  - `append`: add rows to the current snapshot
  *  - `overwritePartitions`: replaceWhere-shaped dynamic partition
  *    overwrite — only partitions present in `df` are replaced; `staged`
  *    must be true when `df` reads the table being written
  *  - `timeTravel`/`versions`: read a prior committed snapshot
  *  - `rollbackTo`: discard snapshots after a kept one (the WAP
  *    rollback half)
  *  - `compact`: rewrite the current snapshot into ~targetFileBytes files
  *    (Delta/Iceberg OPTIMIZE)
  */
object TableFormat {
  /** Inverse of Hive/Spark partition-path escaping (%XX hex escapes). */
  private[adapter] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          s.substring(i + 1, i + 3).forall(ch => Character.digit(ch, 16) >= 0)) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Shared cluster-write shaping: co-locate rows by the cluster key (one
    * shuffle) and sort within partitions so each file holds a sorted,
    * min/max-tight key range. `clusterFiles` (compact's target) overrides
    * the shuffle-partition default with an exact range-partition count —
    * without it a compaction of a clustered table would re-split into
    * spark.sql.shuffle.partitions files; range partitioning also gives
    * globally-ordered, disjoint key ranges (tighter min/max than hash). */
  def applyClustering(df: DataFrame, clusteredBy: Seq[String],
                      clusterFiles: Option[Int]): DataFrame =
    if (clusteredBy.isEmpty) df
    else clusterFiles match {
      case Some(n) => df.repartitionByRange(n, clusteredBy.map(col): _*)
        .sortWithinPartitions(clusteredBy.map(col): _*)
      case None => df.repartition(clusteredBy.map(col): _*)
        .sortWithinPartitions(clusteredBy.map(col): _*)
    }
}

trait TableFormat {
  /** Opaque token for the current committed snapshot (the dir scheme's
    * `v<N>` path), None before the first commit. Callers treat it as
    * "has data" + a WAP bookmark for [[rollbackTo]]. */
  def currentDataDir(t: PhysicalTable): Option[String]
  def read(t: PhysicalTable): DataFrame
  def createOrReplace(t: PhysicalTable, df: DataFrame,
                      clusterFiles: Option[Int] = None): Unit
  def append(t: PhysicalTable, df: DataFrame): Unit
  def overwritePartitions(t: PhysicalTable, df: DataFrame,
                          staged: Boolean = false): Unit
  def versions(t: PhysicalTable): Seq[Int]
  def timeTravel(t: PhysicalTable, version: Int): DataFrame
  /** (Re)bind the table's catalog entry to the current snapshot. */
  def register(t: PhysicalTable): Unit
  def drop(t: PhysicalTable): Unit
  def rollbackTo(t: PhysicalTable, keepDir: Option[String]): Unit
  def compact(t: PhysicalTable, targetFileBytes: Long): (Int, Int)
  /** Reclaim storage held only by old snapshots, keeping the newest
    * `keepLast` (Delta VACUUM / Iceberg expire_snapshots analog). Returns
    * the number of snapshot units removed. Time travel to vacuumed
    * versions stops working — that's the deal. */
  def vacuum(t: PhysicalTable, keepLast: Int): Int
  /** Zero-copy clone pinning the source's data as of clone time (Delta
    * SHALLOW CLONE analog). */
  def cloneTable(target: PhysicalTable, source: PhysicalTable): Unit
  /** Catalog-level rename; data stays where it is. */
  def renameTable(t: PhysicalTable, newTable: String): PhysicalTable
  /** Committed partition values of the current snapshot, as driver-side
    * METADATA (partition dir names — never a data scan). Nil = no
    * partition dirs (unpartitioned, or no data). Used by the one-pass audit
    * fast-path to prove an interval has no prior rows. */
  def partitionValues(t: PhysicalTable): Seq[Map[String, String]]
  /** The current snapshot's schema, None before the first commit. */
  def schema(t: PhysicalTable): Option[StructType] = currentDataDir(t).map(_ => read(t).schema)
}

/** Default [[TableFormat]]: plain parquet under copy-on-write version
  * directories (`<root>/v0, v1, …`), the catalog holding a view over the
  * current one. Full replaces roll a new dir and repoint — readers of the
  * old version are never disturbed, prior versions stay for time travel
  * until the janitor reclaims them; appends and dynamic partition
  * overwrites land in the current dir. Works on any Hadoop filesystem,
  * with no Delta or Iceberg dependency. */
final class DirVersionFormat(spark: SparkSession) extends TableFormat {
  private def fs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def currentDataDir(t: PhysicalTable): Option[String] = {
    val root = new Path(t.root)
    val f = fs(root)
    if (!f.exists(root)) None
    else {
      val versions = f.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      if (versions.isEmpty) None else Some(new Path(root, s"v${versions.max}").toString)
    }
  }

  private def nextDataDir(t: PhysicalTable): String = {
    val cur = currentDataDir(t).map(_.split('/').last.drop(1).toInt).getOrElse(-1)
    new Path(new Path(t.root), s"v${cur + 1}").toString
  }

  /** One recursive listing of the current version dir — metadata only. */
  def partitionValues(t: PhysicalTable): Seq[Map[String, String]] =
    currentDataDir(t).map { dir =>
      val base0 = new Path(dir); val f = fs(base0)
      val base = f.makeQualified(base0)
      val found = scala.collection.mutable.Set[Map[String, String]]()
      val it = f.listFiles(base, true)
      while (it.hasNext) {
        val file = it.next().getPath
        if (file.getName.endsWith(".parquet")) {
          val rel = file.getParent.toString.stripPrefix(base.toString).stripPrefix("/")
          val parts = rel.split('/').filter(_.contains('=')).map { seg =>
            val i = seg.indexOf('=')
            seg.take(i) -> TableFormat.unescapePathName(seg.drop(i + 1))
          }.toMap
          if (parts.nonEmpty) found += parts
        }
      }
      found.toSeq
    }.getOrElse(Nil)

  /** The current record of `dir`. A dir an older writer left without one
    * is inferred once, as that writer read it, and then recorded. None for a
    * dir with neither data files nor a schema. */
  private def recordOf(t: PhysicalTable, dir: String): Option[CommitRecord] =
    VersionDir.readRecord(spark, dir).orElse(
      VersionDir.inferRecord(spark, dir, t.partitionedBy).map(VersionDir.writeRecord(spark, dir, _)))

  /** The recorded schema of the current snapshot; reads no data file. */
  override def schema(t: PhysicalTable): Option[StructType] =
    currentDataDir(t).flatMap(recordOf(t, _)).map(_.schema)

  /** The per-commit tables [[register]] bound for `t`. */
  private def commitTables(t: PhysicalTable): Seq[String] =
    if (!spark.catalog.databaseExists(t.database)) Nil
    else spark.sessionState.catalog.listTables(t.database, s"${t.table}__graft_c*",
      includeLocalTempViews = false).map(_.table)

  private def dropCommitTables(t: PhysicalTable, keep: Set[String] = Set.empty): Unit =
    commitTables(t).filterNot(keep)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `${t.database}`.`$n`"))

  /** Catalog writes only: a fresh per-commit table declaring the recorded
    * schema over the current version dir (see [[VersionDirSource]]), and the
    * table's view over it without the managed `__graft_*` columns. The fresh
    * name keeps every session's per-table relation cache from serving an
    * older commit. A commit that wrote no file binds an empty view. The
    * previous commit's table stays until the next bind, so a reader that
    * read the view's text just before the repoint still resolves it. */
  def register(t: PhysicalTable): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${t.database}`")
    currentDataDir(t).foreach(dir => recordOf(t, dir).foreach { rec =>
      val previous = commitTables(t).sortBy(DirVersionFormat.commitOf).lastOption
      val (bound, body) =
        if (rec.hasFiles) {
          val name = s"${t.table}__graft_c${DirVersionFormat.nextCommit()}"
          spark.sql(s"CREATE TABLE `${t.database}`.`$name` (${rec.schema.toDDL}) " +
            s"USING ${classOf[VersionDirSource].getName} " +
            s"OPTIONS (partition_columns '${rec.partitionedBy.size}') " +
            s"LOCATION '${dir.replace("\\", "\\\\").replace("'", "\\'")}'")
          (name, rec.visible.map(fd => quote(fd.name)).mkString("SELECT ", ", ",
            s" FROM `${t.database}`.`$name`"))
        } else ("", rec.visible.map(fd => s"CAST(NULL AS ${fd.dataType.sql}) AS ${quote(fd.name)}")
          .mkString("SELECT ", ", ", " WHERE 1 = 0"))
      spark.sql(s"CREATE OR REPLACE VIEW ${t.qualified} AS $body")
      dropCommitTables(t, keep = Set(bound) ++ previous)
    })
  }

  private def quote(name: String) = "`" + name.replace("`", "``") + "`"

  def read(t: PhysicalTable): DataFrame = {
    val dir = currentDataDir(t).getOrElse(
      throw new IllegalStateException(s"table ${t.qualified} has no data"))
    readDir(t, dir)
  }

  private def readDir(t: PhysicalTable, dir: String): DataFrame =
    VersionDir.frame(spark, dir, recordOf(t, dir).getOrElse(
      throw new IllegalStateException(s"${t.qualified}: $dir has no data files and no schema")))

  def versions(t: PhysicalTable): Seq[Int] = {
    val root = new Path(t.root)
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted.toSeq
  }

  def timeTravel(t: PhysicalTable, version: Int): DataFrame = {
    require(versions(t).contains(version),
      s"${t.qualified} has no version $version (have: ${versions(t).mkString(",")})")
    readDir(t, new Path(new Path(t.root), s"v$version").toString)
  }

  def drop(t: PhysicalTable): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS ${t.qualified}")
    dropCommitTables(t)
    val root = new Path(t.root)
    val f = fs(root)
    if (f.exists(root)) f.delete(root, true)
  }

  private def write(df0: DataFrame, dir: String, partitionedBy: Seq[String],
                    mode: SaveMode = SaveMode.Overwrite, dynamic: Boolean = false,
                    clusteredBy: Seq[String] = Nil,
                    options: Map[String, String] = Map.empty,
                    clusterFiles: Option[Int] = None): Unit = {
    val df = TableFormat.applyClustering(df0, clusteredBy, clusterFiles)
    var w = df.write.mode(mode).options(options)
    if (partitionedBy.nonEmpty) w = w.partitionBy(partitionedBy: _*)
    if (dynamic) w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(dir)
    VersionDir.record(spark, dir, df.schema, partitionedBy)
  }

  def createOrReplace(t: PhysicalTable, df: DataFrame,
                      clusterFiles: Option[Int] = None): Unit = {
    // write a fresh version dir then repoint — safe even when `df` reads
    // the old one
    val dir = nextDataDir(t)
    write(df, dir, t.partitionedBy, clusteredBy = t.clusteredBy, options = t.options,
      clusterFiles = clusterFiles)
    register(t)
  }

  def append(t: PhysicalTable, df: DataFrame): Unit = currentDataDir(t) match {
    case None      => createOrReplace(t, df)
    case Some(dir) => write(df, dir, t.partitionedBy, SaveMode.Append,
      clusteredBy = t.clusteredBy, options = t.options); register(t)
  }

  def overwritePartitions(t: PhysicalTable, df: DataFrame,
                          staged: Boolean = false): Unit = {
    val dir = currentDataDir(t).getOrElse(
      throw new IllegalStateException(s"${t.qualified}: no snapshot to overwrite into"))
    require(t.partitionedBy.nonEmpty, s"${t.qualified}: dynamic overwrite needs partitioned_by")
    if (staged) {
      // can't dynamic-overwrite the dir being read — stage via a temp dir
      val tmp = new Path(new Path(t.root), s"tmp_${System.nanoTime()}").toString
      write(df, tmp, t.partitionedBy)
      write(VersionDir.read(spark, tmp), dir, t.partitionedBy, SaveMode.Overwrite,
        dynamic = true, clusteredBy = t.clusteredBy, options = t.options)
      val p = new Path(tmp); fs(p).delete(p, true)
    } else
      write(df, dir, t.partitionedBy, SaveMode.Overwrite, dynamic = true,
        clusteredBy = t.clusteredBy, options = t.options)
    register(t)
  }

  def rollbackTo(t: PhysicalTable, keepDir: Option[String]): Unit = {
    val keepVersion = keepDir.map(_.split('/').last.drop(1).toInt).getOrElse(-1)
    val root = new Path(t.root)
    val f = fs(root)
    if (f.exists(root)) {
      f.listStatus(root).map(_.getPath).filter(_.getName.matches("v\\d+"))
        .filter(_.getName.drop(1).toInt > keepVersion)
        .foreach(p => f.delete(p, true))
    }
    if (keepVersion >= 0) register(t)
    else { spark.sql(s"DROP VIEW IF EXISTS ${t.qualified}"); dropCommitTables(t) }
  }

  def compact(t: PhysicalTable, targetFileBytes: Long): (Int, Int) = {
    val dir = currentDataDir(t).getOrElse(
      throw new IllegalStateException(s"compact: ${t.qualified} has no data"))
    val p = new Path(dir); val f = fs(p)
    val files = {
      val it = f.listFiles(p, true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".parquet")) b += s }
      b.result()
    }
    val totalBytes = files.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val cur = readDir(t, dir)
    val compacted =
      if (t.partitionedBy.nonEmpty)
        // one file-group per partition dir: repartition on the partition key
        // so each directory is written by few tasks, not every task
        cur.repartition(nFiles, t.partitionedBy.map(col): _*)
      else cur.repartition(nFiles)
    // clustered tables: thread the target through to the cluster shuffle —
    // write() would otherwise re-split into spark.sql.shuffle.partitions
    // files and undo the compaction
    createOrReplace(t, compacted,
      clusterFiles = if (t.clusteredBy.nonEmpty) Some(nFiles) else None)
    val newDir = new Path(currentDataDir(t).get)
    val it2 = f.listFiles(newDir, true)
    var after = 0
    while (it2.hasNext) { if (it2.next().getPath.getName.endsWith(".parquet")) after += 1 }
    (files.size, after)
  }

  def vacuum(t: PhysicalTable, keepLast: Int): Int = {
    require(keepLast >= 1, "vacuum must keep at least the current version")
    val cut = versions(t).dropRight(keepLast)
    val root = new Path(t.root); val f = fs(root)
    cut.foreach(v => f.delete(new Path(root, s"v$v"), true))
    // crashed staged overwrites leave orphaned tmp_* staging dirs (the happy
    // path deletes them inline) — object-store deployments accumulate these;
    // vacuum is the janitor pass, assumed not concurrent with writers
    var orphans = 0
    if (f.exists(root))
      f.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("tmp_"))
        .foreach { p => f.delete(p, true); orphans += 1 }
    cut.size + orphans
  }

  /** clone_table (base.py:1059, Delta SHALLOW CLONE analog): the clone's
    * catalog entry pins the source's data AS OF clone time — zero data copy,
    * which is what makes dev previews of 100 TB tables free. Full replaces
    * roll a NEW version dir (copy-on-write), but appends land in the CURRENT
    * dir, so a dir-pointing view would see post-clone appends; unpartitioned
    * sources therefore pin the exact FILE LIST via a `{f1,f2,…}` glob view
    * (a Delta shallow clone pins the file manifest the same way).
    * Partitioned sources keep the dir pointer — their leaf-file globs would
    * lose partition-column inference — so their clones are stable under
    * replaces, not appends. */
  def cloneTable(target: PhysicalTable, source: PhysicalTable): Unit = {
    val dir = currentDataDir(source).getOrElse(
      throw new IllegalStateException(s"clone source ${source.qualified} has no data"))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${target.database}`")
    val path =
      if (source.partitionedBy.nonEmpty) dir
      else {
        val p = new Path(dir)
        val files = fs(p).listStatus(p).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).sorted
        if (files.isEmpty) dir else s"$dir/{${files.mkString(",")}}"
      }
    spark.sql(s"CREATE OR REPLACE VIEW ${target.qualified} AS SELECT * FROM parquet.`$path`")
  }

  /** rename_table (base.py:2273) — catalog-level move; data dirs stay. */
  def renameTable(t: PhysicalTable, newTable: String): PhysicalTable = {
    val renamed = t.copy(table = newTable)
    currentDataDir(t) match {
      case Some(dir) =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `${renamed.database}`")
        spark.sql(s"CREATE OR REPLACE VIEW ${renamed.qualified} AS SELECT * FROM parquet.`$dir`")
        spark.sql(s"DROP VIEW IF EXISTS ${t.qualified}")
        dropCommitTables(t)
      case None if spark.catalog.tableExists(s"${t.database}.${t.table}") =>
        // view-only tables (zero-copy clones point at ANOTHER table's data
        // dir) have no version dirs of their own — a pure catalog move keeps
        // whatever the view referenced; the old re-create-and-drop path
        // silently DROPPED such tables
        spark.sql(s"ALTER VIEW ${t.qualified} RENAME TO " +
          s"`${renamed.database}`.`${renamed.table}`")
      case None =>
        spark.sql(s"DROP VIEW IF EXISTS ${t.qualified}")
    }
    renamed
  }
}

object DirVersionFormat {
  private val commits = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** A name suffix no earlier per-commit table in this JVM's catalog used. */
  private def nextCommit(): String = java.lang.Long.toString(commits.incrementAndGet(), 36)

  /** The commit order of a per-commit table name. */
  private def commitOf(table: String): Long =
    java.lang.Long.parseLong(table.substring(table.lastIndexOf("__graft_c") + 9), 36)
}
