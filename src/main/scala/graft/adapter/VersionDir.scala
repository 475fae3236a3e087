package graft.adapter

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, SchemaRelationProvider}
import org.apache.spark.sql.types._

/** What a commit records beside its data in a version dir: the schema a
  * partition-discovering read of the dir reports (the written frame's
  * columns, all nullable, partition columns last), which of them are
  * partition columns, and whether the dir holds any data file. Binding and
  * reading a version dir go through this record, so neither infers a schema
  * from parquet footers nor types a partition column by its directory
  * names. */
final case class CommitRecord(schema: StructType, partitionedBy: Seq[String],
                              hasFiles: Boolean) {
  private def isPartition(f: StructField) = partitionedBy.contains(f.name)
  def dataSchema: StructType = StructType(schema.filterNot(isPartition))
  def partitionSchema: StructType = StructType(schema.filter(isPartition))
  /** The catalog-facing columns: the managed `__graft_*` columns hidden. */
  def visible: StructType = StructType(schema.filterNot(_.name.startsWith("__graft_")))

  def toJson: String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("schema", schema.json)
    val parts = node.putArray("partitioned_by")
    partitionedBy.foreach(parts.add)
    node.put("has_files", hasFiles)
    mapper.writeValueAsString(node)
  }
}

object CommitRecord {
  /** The record of writing a frame of schema `frame`, partitioned by
    * `partitionedBy`: columns as a read of the written files reports them. */
  def of(frame: StructType, partitionedBy: Seq[String], hasFiles: Boolean): CommitRecord = {
    val parts = partitionedBy.map(p => frame.find(_.name.equalsIgnoreCase(p)).getOrElse(
      throw new IllegalArgumentException(s"partition column $p is not in ${frame.simpleString}")))
    val ordered = StructType(frame.filterNot(parts.contains) ++ parts)
    CommitRecord(nullable(ordered).asInstanceOf[StructType], parts.map(_.name), hasFiles)
  }

  /** Parses a record; None for the bare DDL an older writer left after an
    * empty partitioned write. */
  def parse(text: String): Option[CommitRecord] =
    if (!text.trim.startsWith("{")) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      val parts = Seq.newBuilder[String]
      node.get("partitioned_by").elements().forEachRemaining(n => parts += n.asText())
      Some(CommitRecord(DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType],
        parts.result(), node.get("has_files").asBoolean()))
    }

  /** Parquet files carry no nullability a read trusts: a read reports every
    * field nullable, nested ones included. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}

/** The version-dir layout's files: the commit record, its atomic publish,
  * and the relation that reads a dir by its record. */
object VersionDir {
  /** The record's file name; the leading underscore hides it from readers. */
  val RecordFile = "_graft_schema"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The dir's record text, if it has one (a current record or the bare
    * DDL an older writer left). */
  def recordText(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(dir, RecordFile); val f = fs(spark, p)
    try {
      val in = f.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def readRecord(spark: SparkSession, dir: String): Option[CommitRecord] =
    recordText(spark, dir).flatMap(CommitRecord.parse)

  /** The record an older writer's dir implies, inferred the way that writer
    * read it: from the parquet files (partition types from the dir names),
    * or from the bare DDL it left after an empty partitioned write (in that
    * writer's frame order; `partitionHint` names its partition columns).
    * None when the dir holds neither. */
  def inferRecord(spark: SparkSession, dir: String,
                  partitionHint: Seq[String]): Option[CommitRecord] =
    if (hasDataFile(spark, dir)) {
      val df = spark.read.parquet(dir) // legacy fallback: infer once
      val parts = df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames.toSeq }
      Some(CommitRecord.of(df.schema, parts.getOrElse(Nil), hasFiles = true))
    } else recordText(spark, dir).map { ddl =>
      val st = StructType.fromDDL(ddl)
      CommitRecord(st, partitionHint.filter(p => st.fieldNames.contains(p)), hasFiles = false)
    }

  /** Records what `dir` holds after writing a frame of schema `frame`. */
  def record(spark: SparkSession, dir: String, frame: StructType,
             partitionedBy: Seq[String]): CommitRecord =
    writeRecord(spark, dir, CommitRecord.of(frame, partitionedBy, hasDataFile(spark, dir)))

  def writeRecord(spark: SparkSession, dir: String, rec: CommitRecord): CommitRecord = {
    publish(spark, new Path(dir, RecordFile), rec.toJson.getBytes("UTF-8"))
    rec
  }

  /** True when `dir` holds at least one parquet data file (a partitioned
    * write of zero rows writes none). */
  def hasDataFile(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir); val f = fs(spark, p)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) found = true
      found
    }
  }

  /** Write `bytes` to `target` atomically: a hidden temp file renamed over
    * it, so a concurrent reader sees the old content or the new, never a
    * prefix. */
  def publish(spark: SparkSession, target: Path, bytes: Array[Byte]): Unit = {
    val f = fs(spark, target)
    val tmp = new Path(target.getParent, s"_${target.getName}.tmp${System.nanoTime()}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    // FileContext: the FileSystem rename has no overwrite mode, and a
    // delete-then-rename opens a window where the target is missing
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sessionState.newHadoopConf())
    try fc.rename(fc.makeQualified(tmp), fc.makeQualified(target),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch { case t: Throwable =>
      try f.delete(tmp, false) catch { case _: Throwable => () }
      throw t
    }
  }

  /** A frame over `dir` as its record describes it: parquet files read
    * through a [[VersionDirIndex]], or an empty frame of the recorded schema
    * when the commit wrote no file. */
  def frame(spark: SparkSession, dir: String, rec: CommitRecord): DataFrame =
    if (!rec.hasFiles) spark.createDataFrame(java.util.Collections.emptyList[Row](), rec.schema)
    else spark.baseRelationToDataFrame(relation(spark, dir, rec))

  /** Read a dir written with a record (a staged batch, a version dir). */
  def read(spark: SparkSession, dir: String): DataFrame =
    frame(spark, dir, readRecord(spark, dir).getOrElse(
      throw new IllegalStateException(s"$dir has no commit record")))

  private[adapter] def relation(spark: SparkSession, dir: String,
                                rec: CommitRecord): HadoopFsRelation =
    HadoopFsRelation(new VersionDirIndex(spark, new Path(dir), rec), rec.partitionSchema,
      rec.dataSchema, None, new ParquetFileFormat, Map.empty)(spark)

  /** Spark's rule for files a directory read skips: names starting with `_`
    * (other than a `k=v` partition dir) or `.`, and in-flight copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** One recursive listing of `root` on the driver: its data files, and the
    * same grouped by parent directory. No Spark job, whatever the number of
    * partition dirs. */
  private[adapter] def listData(spark: SparkSession, root: Path)
      : (mutable.LinkedHashMap[Path, FileStatus], Map[Path, Array[FileStatus]]) = {
    val f = fs(spark, root)
    val files = mutable.LinkedHashMap[Path, FileStatus]()
    if (f.exists(root)) {
      val base = f.makeQualified(root).toString
      val it = f.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
        if (!rel.split('/').exists(hidden)) files(st.getPath) = st
      }
    }
    (files, files.values.toArray.groupBy(_.getPath.getParent))
  }
}

/** The file index of one version dir: it lists on first use, at planning,
  * on the driver, and types partition values by the record, so binding or
  * analysing a query over the dir reads no file and starts no Spark job.
  * A listing stays for the index's life, as Spark's own indexes keep
  * theirs; `refresh` drops it. */
final class VersionDirIndex(spark: SparkSession, root: Path, val rec: CommitRecord)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(rec.schema)) {
  val qualifiedRoot: Path = root.getFileSystem(hadoopConf).makeQualified(root)
  private var listed: (mutable.LinkedHashMap[Path, FileStatus], Map[Path, Array[FileStatus]]) = _
  private var spec: PartitionSpec = _

  private def listing = synchronized {
    if (listed == null) listed = VersionDir.listData(spark, qualifiedRoot)
    listed
  }
  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)
  override def leafFiles: mutable.LinkedHashMap[Path, FileStatus] = listing._1
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = listing._2
  override def partitionSpec(): PartitionSpec = synchronized {
    if (spec == null)
      spec = if (rec.partitionedBy.isEmpty) PartitionSpec.emptySpec else inferPartitioning()
    spec
  }
  override def partitionSchema: StructType = rec.partitionSchema
  override def refresh(): Unit = synchronized { listed = null; spec = null }
  override def equals(o: Any): Boolean = o match {
    case i: VersionDirIndex => i.qualifiedRoot == qualifiedRoot && i.rec == rec
    case _ => false
  }
  override def hashCode(): Int = (qualifiedRoot, rec).hashCode()
}

/** The catalog provider of a version dir's per-commit table: `CREATE TABLE …
  * (<recorded schema>) USING graft.adapter.VersionDirSource OPTIONS
  * (partition_columns 'n') LOCATION '<dir>'`, the last `n` columns being
  * partition columns. Resolving the table builds a [[VersionDirIndex]]
  * relation, read by Spark's parquet scan; a `USING parquet` table would
  * list the dir each time a session resolves it instead. */
final class VersionDirSource extends SchemaRelationProvider {
  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val parts = parameters.get("partition_columns").map(_.toInt).getOrElse(0)
    VersionDir.relation(sqlContext.sparkSession, parameters("path"),
      CommitRecord(schema, schema.fieldNames.toSeq.takeRight(parts), hasFiles = true))
  }
}
