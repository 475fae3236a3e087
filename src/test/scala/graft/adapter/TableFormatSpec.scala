package graft.adapter

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.core.ModelKind

/** The [[TableFormat]] seam contract: (a) every physical read/commit the
  * materializer performs routes THROUGH the injected format — no bypass, so
  * the format alone owns the commit protocol; (b) the full strategy surface
  * (replace, append, time/partition overwrite, merge, SCD2, compact, WAP
  * rollback, time travel) behaves correctly when driven through an
  * explicitly-injected [[DirVersionFormat]]. */
class TableFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Counting pass-through: proves the materializer never sidesteps the
    * seam. */
  final class Recording(inner: TableFormat) extends TableFormat {
    val calls = collection.mutable.Buffer[String]()
    private def rec[A](op: String)(a: => A): A = { calls += op; a }
    def currentDataDir(t: PhysicalTable) = rec("currentDataDir")(inner.currentDataDir(t))
    def read(t: PhysicalTable) = rec("read")(inner.read(t))
    def createOrReplace(t: PhysicalTable, df: DataFrame, clusterFiles: Option[Int]) =
      rec("createOrReplace")(inner.createOrReplace(t, df, clusterFiles))
    def append(t: PhysicalTable, df: DataFrame) = rec("append")(inner.append(t, df))
    def overwritePartitions(t: PhysicalTable, df: DataFrame, staged: Boolean) =
      rec(s"overwritePartitions(staged=$staged)")(inner.overwritePartitions(t, df, staged))
    def versions(t: PhysicalTable) = rec("versions")(inner.versions(t))
    def timeTravel(t: PhysicalTable, version: Int) =
      rec("timeTravel")(inner.timeTravel(t, version))
    def register(t: PhysicalTable) = rec("register")(inner.register(t))
    def drop(t: PhysicalTable) = rec("drop")(inner.drop(t))
    def rollbackTo(t: PhysicalTable, keepDir: Option[String]) =
      rec("rollbackTo")(inner.rollbackTo(t, keepDir))
    def compact(t: PhysicalTable, targetFileBytes: Long) =
      rec("compact")(inner.compact(t, targetFileBytes))
    def vacuum(t: PhysicalTable, keepLast: Int) =
      rec("vacuum")(inner.vacuum(t, keepLast))
    def cloneTable(target: PhysicalTable, source: PhysicalTable) =
      rec("cloneTable")(inner.cloneTable(target, source))
    def renameTable(t: PhysicalTable, newTable: String) =
      rec("renameTable")(inner.renameTable(t, newTable))
    def partitionValues(t: PhysicalTable) =
      rec("partitionValues")(inner.partitionValues(t))
  }

  private def harness() = {
    val fmt = new Recording(new DirVersionFormat(spark))
    (new SparkMaterializer(spark, Some(fmt)), fmt)
  }
  private def tbl(name: String, parts: Seq[String] = Nil) =
    PhysicalTable("graft__fmt", name, SparkTestSession.tmpDir(s"fmt_$name"), parts)

  test("[dir] replace/append/overwrite/merge/compact route through the format") {
    val (m, fmt) = harness()
    val t = tbl("routed", parts = Seq("d"))
    m.replaceQuery(t, Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "v", "d"))
    m.insertAppend(t, Seq((3, "c", "y")).toDF("id", "v", "d"))
    m.insertOverwriteByPartition(t, Seq((4, "B", "y")).toDF("id", "v", "d"))
    // partition-pruned merge reads the snapshot it overwrites → staged
    m.merge(t, Seq((4, "B2", "y")).toDF("id", "v", "d"), keys = Seq("id", "d"))
    m.compact(t)
    assert(fmt.calls.contains("createOrReplace"))
    assert(fmt.calls.contains("append"))
    assert(fmt.calls.contains("overwritePartitions(staged=false)"))
    // the pruned merge reads the snapshot it rewrites → must request staging
    assert(fmt.calls.contains("overwritePartitions(staged=true)"))
    assert(fmt.calls.count(_ == "compact") == 1)
    // results are right: partition x untouched, y carries the merged row
    val got = m.read(t).select("id", "v", "d").as[(Int, String, String)]
      .collect().toSet
    assert(got == Set((1, "a", "x"), (4, "B2", "y")))
  }

  test("[dir] time-partition overwrite leaves other intervals intact") {
    val (m, fmt) = harness()
    val t = tbl("tp", parts = Seq("__graft_ts"))
    def day(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    def df(rows: (Int, String)*) = rows.toSeq
      .map { case (id, d) => (id, day(d)) }.toDF("id", "ts")
      .withColumn("__graft_ts", to_date(col("ts")))
    m.replaceQuery(t, df(1 -> "2024-01-01", 2 -> "2024-01-02"))
    val ms = (d: String) => java.time.LocalDate.parse(d).toEpochDay * 86400000L
    m.insertOverwriteByTimePartition(t, df(20 -> "2024-01-02"), "ts",
      ms("2024-01-02"), ms("2024-01-03"))
    assert(fmt.calls.contains("overwritePartitions(staged=false)"))
    assert(m.read(t).select("id").as[Int].collect().toSet == Set(1, 20))
  }

  test("[dir] versions/time travel/WAP rollback are format-owned") {
    val (m, fmt) = harness()
    val t = tbl("tt")
    m.replaceQuery(t, Seq(1).toDF("id"))
    val bookmark = m.currentDataDir(t)
    m.replaceQuery(t, Seq(1, 2).toDF("id"))
    m.replaceQuery(t, Seq(1, 2, 3).toDF("id"))
    assert(m.versions(t).size == 3)
    assert(m.readVersion(t, m.versions(t).head).count() == 1)
    m.rollbackTo(t, bookmark) // WAP rollback half: later snapshots discarded
    assert(m.read(t).count() == 1 && m.versions(t).size == 1)
    assert(Seq("versions", "timeTravel", "rollbackTo").forall(fmt.calls.contains))
  }

  test("[dir] SCD2 through an injected format produces the same history") {
    val (m, fmt) = harness()
    val t = tbl("scd")
    val kind = ModelKind.ScdType2ByTime(uniqueKey = Seq("id"), updatedAtCol = "ua")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    m.scdType2ByTime(t, Seq((1, "a", ts("2024-01-01 00:00:00"))).toDF("id", "v", "ua"),
      kind, ts("2024-01-01 00:00:00"))
    m.scdType2ByTime(t, Seq((1, "a2", ts("2024-02-01 00:00:00"))).toDF("id", "v", "ua"),
      kind, ts("2024-02-01 00:00:00"))
    val rows = m.read(t).select("v", "valid_to").collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(1)) == 1)           // one open row
    assert(rows.find(!_.isNullAt(1)).get.getString(0) == "a")  // old version closed
    assert(fmt.calls.count(_ == "createOrReplace") == 2)
  }

  test("[dir] vacuum reclaims old snapshots, keeps time travel for the rest") {
    val (m, fmt) = harness()
    val t = tbl("vac")
    m.replaceQuery(t, Seq(1).toDF("id"))
    m.replaceQuery(t, Seq(1, 2).toDF("id"))
    m.replaceQuery(t, Seq(1, 2, 3).toDF("id"))
    assert(m.versions(t).size == 3)
    val removed = m.vacuum(t, keepLast = 2)
    assert(removed >= 1, s"vacuum removed nothing: $removed")
    val kept = m.versions(t)
    assert(kept.size == 2)
    // current data intact, surviving history still time-travels
    assert(m.read(t).count() == 3)
    assert(m.readVersion(t, kept.head).count() == 2)
    intercept[IllegalArgumentException](m.vacuum(t, keepLast = 0))
    assert(fmt.calls.contains("vacuum"))
  }

  test("[dir] catalog view round-trips escaped partition values") {
    // partition values with ':' are Hive-escaped in dir names (k=a%3Ab);
    // the catalog view must show the REAL value
    val (m, _) = harness()
    val t = tbl("esc", parts = Seq("k"))
    m.replaceQuery(t, Seq((1, "a:b"), (2, "plain")).toDF("id", "k"))
    val viaView = spark.table("graft__fmt.esc")
      .select("id", "k").as[(Int, String)].collect().toSet
    assert(viaView == Set((1, "a:b"), (2, "plain")))
    val viaRead = m.read(t).select("id", "k").as[(Int, String)].collect().toSet
    assert(viaRead == viaView)
  }

  test("[dir] clone and rename are format-owned") {
    val (m, fmt) = harness()
    val src = tbl("cl_src2"); val dst = tbl("cl_dst2")
    m.replaceQuery(src, Seq(1, 2).toDF("id"))
    m.cloneTable(dst, src)
    assert(spark.table("graft__fmt.cl_dst2").count() == 2)
    m.renameTable(src, "cl_src2_renamed")
    assert(spark.table("graft__fmt.cl_src2_renamed").count() == 2)
    assert(Seq("cloneTable", "renameTable").forall(fmt.calls.contains))
  }

  test("[dir] vacuum reclaims a crashed writer's orphan dirs, live commits untouched") {
    val (m, _) = harness()
    val t = tbl("orphan", parts = Seq("d"))
    m.replaceQuery(t, Seq((1, "a"), (2, "b")).toDF("id", "d"))
    m.insertAppend(t, Seq((3, "c")).toDF("id", "d"))
    // simulate crashed writers: abandoned staging dirs (tmp_*) — they
    // accumulate on object stores
    val root = new java.io.File(t.root)
    val debris = Seq(new java.io.File(root, "tmp_123"), new java.io.File(root, "tmp_9"))
    debris.foreach { d =>
      d.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(d, "part-crashed.parquet").toPath, "junk")
    }
    m.vacuum(t, keepLast = 2)
    debris.foreach(d => assert(!d.exists(), s"orphan ${d.getName} not reclaimed"))
    // live data intact through the same view and a fresh read
    assert(m.read(t).select("id").as[Int].collect().toSet == Set(1, 2, 3))
    assert(spark.table(t.qualified).count() == 3)
  }
}
