package graft.adapter

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Cross-catalog virtual environments (reference
  * `EnvironmentSuffixTarget.CATALOG`, config/common.py:33-37, and
  * `environment_catalog_mapping`, config/root.py:120/160): a Spark DSv2
  * `TableCatalog` plugin whose entries are ZERO-COPY handles onto the
  * engine's physical snapshot directories — the multi-catalog analog of
  * the session-catalog `CREATE OR REPLACE VIEW` virtual layer.
  *
  * Why a TableCatalog and not a ViewCatalog: Spark 4.1 ships the
  * `ViewCatalog` API but no analyzer/DDL support for V2 views (no
  * CreateView exec, no view resolution outside the session catalog), so a
  * plugin view catalog would be unreachable from SQL. A TableCatalog IS
  * fully resolvable — `SELECT * FROM env_cat.schema.model` plans a native
  * DSv2 parquet scan (pushdown, pruning, AQE all apply) — and the virtual
  * layer's contract is only "a name that reads the promoted snapshot", so
  * a zero-copy table handle and a view are observationally identical for
  * readers. In a Unity/Glue/Iceberg deployment the same promote call
  * targets that catalog's own view/table DDL instead (this plugin is the
  * vanilla-Spark realization of the seam, like DirVersionFormat is for
  * table formats).
  *
  * Layout: one JSON entry per promoted model at
  * `<warehouse>/<db>/<table>.json` holding the physical table's ROOT (not
  * a resolved data dir): `loadTable` resolves the CURRENT `v<N>` snapshot
  * at read time, so a new snapshot committed under the same physical root
  * is visible immediately — the exact repointing semantics of the view
  * layer. Entries are tiny and written atomically (tmp+rename), and the
  * plugin re-reads them per load, so concurrent promotes behave like
  * concurrent CREATE OR REPLACE VIEW.
  *
  * Scope: the entry scans [[DirVersionFormat]]'s plain parquet snapshot
  * dirs directly, with no session-side view in between.
  *
  * Managed physical columns (`__graft_*` partition keys) are hidden from
  * the catalog schema exactly like the session-catalog view's projection —
  * see [[EnvCatalog.VersionDirTable]]. */
final class EnvCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"EnvCatalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(wh)
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => new Path(p, n))
  private def entryPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), s"${ident.name()}.json")

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs(warehouse)
    if (!f.exists(warehouse)) Array.empty
    else f.listStatus(warehouse).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs(nsPath(namespace)).exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    fs(nsPath(namespace)).mkdirs(nsPath(namespace))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("EnvCatalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace); val f = fs(p)
    if (!f.exists(p)) false
    else {
      if (!cascade && f.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace); val f = fs(p)
    if (!f.exists(p)) throw new NoSuchNamespaceException(namespace.toSeq)
    f.listStatus(p).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(n => Identifier.of(namespace, n.stripSuffix(".json"))).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    fs(entryPath(ident)).exists(entryPath(ident))

  /** Current-snapshot resolutions memoize the constructed [[Table]] behind
    * an mtime fingerprint: a load reads the entry JSON, lists the root's
    * versions and reads the chosen snapshot's commit record, driver-side FS
    * metadata in the analyzer path, per table reference per query. The
    * fingerprint re-checks everything that can change what the
    * load would return — entry JSON status (repoint/re-promote), the root's
    * version listing (new snapshot commit), and the chosen dir's mtime
    * (immutable under rename-publish, guarded anyway) — so a hit costs ~3
    * metadata ops and view-repoint semantics are preserved exactly; any
    * mismatch falls through to a full rebuild. Explicit VERSION/TIMESTAMP
    * AS OF loads stay uncached (cold paths, and timestamp resolution
    * depends on wall-clock-ordered mtimes, not worth fingerprinting). */
  override def loadTable(ident: Identifier): Table = {
    val fp = fingerprint(ident)
    val key = (ident.namespace().toSeq, ident.name())
    cache.get(key) match {
      case Some((cachedFp, t)) if cachedFp == fp => t
      case _ =>
        val t = loadVersion(ident, pickCurrent)
        cache.put(key, (fp, t))
        t
    }
  }

  private val cache =
    new scala.collection.concurrent.TrieMap[(Seq[String], String), (String, Table)]()

  /** Everything a current-snapshot load depends on, as one string: entry
    * file (mtime+len) + version-dir list of the root it points at + chosen
    * dir mtime. Throws NoSuchTableException for a missing entry — same
    * surface as the uncached path. */
  private def fingerprint(ident: Identifier): String = {
    val p = entryPath(ident); val f = fs(p)
    val st =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => throw new NoSuchTableException(ident) }
    // the JSON re-read here is µs and unavoidable anyway: the version list
    // under the CURRENT root must be fresh per load (view-repoint), and the
    // root is only knowable from the entry
    val (root, _) = entryOf(ident)
    val rf = fs(root)
    val versions =
      if (!rf.exists(root)) Nil
      else rf.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted.toSeq
    val chosenM = versions.lastOption.map { v =>
      try rf.getFileStatus(new Path(root, s"v$v")).getModificationTime.toString
      catch { case _: java.io.FileNotFoundException => "gone" }
    }.getOrElse("-")
    s"${st.getModificationTime}:${st.getLen}|$root|${versions.mkString(",")}|$chosenM"
  }

  /** `SELECT ... FROM cat.db.t VERSION AS OF <n>` — DSv2 time travel,
    * mapped onto the dir-version scheme's `v<n>` snapshot dirs (the
    * catalog analog of [[graft.GraftContext]]'s `timeTravel`). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.stripPrefix("v").toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"EnvCatalog versions are the physical v<N> snapshot numbers; got '$version'"))
    loadVersion(ident, vs => {
      if (!vs.contains(v)) throw new IllegalArgumentException(
        s"${ident.name()} has no version $v (have: ${vs.mkString(",")})")
      Some(v)
    })
  }

  /** `TIMESTAMP AS OF` — the newest snapshot whose dir was committed at or
    * before the timestamp (micros since epoch per the DSv2 contract). The
    * dir scheme carries no commit log, so dir modification time is the
    * commit time — exact for the rename-published snapshots this engine
    * writes. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadVersion(ident, { vs =>
      val (root, _) = entryOf(ident)
      val rf = fs(root)
      val at = vs.filter { v =>
        rf.getFileStatus(new Path(root, s"v$v")).getModificationTime <=
          timestampMicros / 1000L
      }
      if (at.isEmpty) throw new IllegalArgumentException(
        s"${ident.name()}: no snapshot at or before timestamp")
      at.sorted.lastOption
    })

  /** newest version = the current snapshot (view-repoint semantics). */
  private val pickCurrent: Seq[Int] => Option[Int] = _.sorted.lastOption

  private def entryOf(ident: Identifier): (Path, Option[String]) = {
    val p = entryPath(ident); val f = fs(p)
    if (!f.exists(p)) throw new NoSuchTableException(ident)
    val in = f.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    (new Path(node.get("root").asText()),
      Option(node.get("schema_ddl")).map(_.asText()).filter(_.nonEmpty))
  }

  private def loadVersion(ident: Identifier,
                          pick: Seq[Int] => Option[Int]): Table = {
    val (root, schemaDdl) = entryOf(ident)
    // snapshot resolved NOW (the view-repoint semantics): version dirs are
    // re-listed per load, so a new commit under the same root is visible
    // without a re-promote
    val rf = fs(root)
    val versions =
      if (!rf.exists(root)) Nil
      else rf.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted.toSeq
    val chosen = pick(versions).map(v => new Path(root, s"v$v").toString)
    val fullName = s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}"
    // the snapshot's commit record (a dir written before records were kept
    // is inferred as it always was), else the schema captured at promote
    // time for a root with no snapshot or an empty one
    val rec = chosen.flatMap(d => VersionDir.readRecord(spark, d)
        .orElse(VersionDir.inferRecord(spark, d, Nil)))
      .orElse(schemaDdl.map(d => CommitRecord(StructType.fromDDL(d), Nil, hasFiles = false)))
      .getOrElse(throw new IllegalStateException(
        s"$fullName has no parquet data and no stored schema"))
    new EnvCatalog.VersionDirTable(fullName, spark, chosen.getOrElse(root.toString), rec)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "EnvCatalog entries are created by promotion (plan apply), not DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("EnvCatalog tables are read-only handles")

  override def dropTable(ident: Identifier): Boolean = {
    val p = entryPath(ident); val f = fs(p)
    f.exists(p) && f.delete(p, false)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = entryPath(oldIdent); val to = entryPath(newIdent); val f = fs(from)
    if (!f.exists(from)) throw new NoSuchTableException(oldIdent)
    fs(to).mkdirs(to.getParent)
    if (!f.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }
}

object EnvCatalog {

  /** A version dir read by its commit record, with the engine's managed
    * `__graft_*` columns hidden — the DSv2 equivalent of the session-catalog
    * view's projection. Only `schema()` hides them: the scan keeps the real
    * file and partition schemas, and because V2ScanRelationPushDown prunes
    * required columns from the relation output (which this schema defines),
    * a hidden column is never requested. Loading it reads no file; the
    * [[VersionDirIndex]] lists the dir when a scan is planned. */
  private[adapter] final class VersionDirTable(fullName: String, spark: SparkSession,
                                               dir: String, rec: CommitRecord)
      extends Table with SupportsRead {
    override def name(): String = fullName
    override def schema(): StructType = rec.visible
    override def partitioning(): Array[Transform] = rec.partitionedBy
      .filterNot(_.startsWith("__graft_"))
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c): Transform)
      .toArray
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      ParquetScanBuilder(spark, new VersionDirIndex(spark, new Path(dir), rec), schema(),
        rec.dataSchema, options)
  }

  /** Register `catalog` as an [[EnvCatalog]] in the session conf if nothing
    * else already claims the name, defaulting its warehouse under the Spark
    * SQL warehouse dir. Conf-based registration is how Spark discovers V2
    * catalogs; setting it lazily-before-first-use is equivalent to static
    * config. Returns the warehouse path. */
  def ensureRegistered(spark: SparkSession, catalog: String): String = {
    require(catalog != "spark_catalog",
      "spark_catalog is the session catalog — not an environment catalog")
    val key = s"spark.sql.catalog.$catalog"
    spark.conf.getOption(key) match {
      case Some(cls) if cls != classOf[EnvCatalog].getName =>
        () // a real deployment catalog (Unity/Iceberg/...) owns the name;
           // promotion writes through OUR entry API only for EnvCatalog, so
           // reaching here is a configuration error surfaced by writeEntry
      case Some(_) => ()
      case None => spark.conf.set(key, classOf[EnvCatalog].getName)
    }
    val whKey = s"$key.warehouse"
    spark.conf.getOption(whKey).getOrElse {
      val wh = new Path(spark.sessionState.conf.warehousePath,
        s"__graft_env_catalogs/$catalog").toString
      spark.conf.set(whKey, wh)
      wh
    }
  }

  private def requireEnvCatalog(spark: SparkSession, catalog: String): Path = {
    val cls = spark.conf.getOption(s"spark.sql.catalog.$catalog").getOrElse(
      throw new IllegalStateException(s"catalog '$catalog' is not registered"))
    require(cls == classOf[EnvCatalog].getName,
      s"catalog '$catalog' is $cls, not an EnvCatalog — promote through " +
        "that catalog's own DDL instead")
    new Path(spark.conf.get(s"spark.sql.catalog.$catalog.warehouse"))
  }

  /** Write (promote) an entry — atomic tmp+rename, as a commit record is
    * published. */
  def writeEntry(spark: SparkSession, catalog: String, db: String,
                 table: String, physicalRoot: String,
                 schemaDdl: Option[String]): Unit = {
    val wh = requireEnvCatalog(spark, catalog)
    val dir = new Path(wh, db)
    val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
    f.mkdirs(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("root", physicalRoot)
    schemaDdl.foreach(node.put("schema_ddl", _))
    // an atomic overwrite: a delete-then-write would open a window where a
    // continuously-promoted table resolves to NoSuchTable for concurrent
    // readers — CREATE OR REPLACE VIEW never behaves that way
    VersionDir.publish(spark, new Path(dir, s"$table.json"), mapper.writeValueAsBytes(node))
  }

  /** Remove (demote) an entry; harmless if absent. Returns whether an
    * entry actually existed — callers use it to surface a
    * possibly-misconfigured warehouse (see
    * [[SparkMaterializer.demoteCatalog]]). */
  def dropEntry(spark: SparkSession, catalog: String, db: String,
                table: String): Boolean = {
    val wh = requireEnvCatalog(spark, catalog)
    val p = new Path(new Path(wh, db), s"$table.json")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    f.exists(p) && f.delete(p, false)
  }
}
