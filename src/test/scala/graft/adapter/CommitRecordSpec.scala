package graft.adapter

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.JobsDuring
import org.apache.spark.sql.types._
import graft._
import graft.core._

/** Physical tables bind and read from the schema each commit records beside
  * its data: binding, promoting and analysing start no Spark job whatever
  * the table's history, a partition column keeps its written type, every
  * session sees each commit, and dirs written before records were kept
  * still bind, read and re-plan. */
class CommitRecordSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val D = 86400000L
  private val d1 = java.time.LocalDate.parse("2024-01-10").toEpochDay * D

  private def tbl(name: String, parts: Seq[String] = Nil) =
    PhysicalTable("graft__cr", name, SparkTestSession.tmpDir(s"cr_$name"), parts)

  test("register and promote start no Spark job at 2 or 40 partitions; analysis starts none") {
    val m = new SparkMaterializer(spark)
    val sc = spark.sparkContext
    val counts = Seq(2, 40).map { n =>
      val t = tbl(s"wide$n", Seq("d"))
      m.replaceQuery(t, spark.range(3 * n).selectExpr("id", s"CAST(id % $n AS STRING) AS d"))
      val bind = JobsDuring(sc) { m.register(t); m.promote("cr_env", s"wide$n", t) }
      val analyse = JobsDuring(sc) {
        spark.table(t.qualified).where("id > 0").queryExecution.analyzed
        spark.table(s"cr_env.wide$n").queryExecution.analyzed
        m.read(t).where("id > 0").queryExecution.analyzed
      }
      assert(spark.table(s"cr_env.wide$n").count() == 3 * n)
      assert(m.partitionValues(t).size == n)
      (bind, analyse)
    }
    assert(counts == Seq((0, 0), (0, 0)), counts)
  }

  test("a partition column keeps its written type, whatever its values look like") {
    // all-numeric and date-like strings, and a DATE column
    val m = new SparkMaterializer(spark)
    val t = tbl("codes", Seq("code", "dl", "day"))
    m.replaceQuery(t, Seq(
      (1, "007", "2024-01-05", java.sql.Date.valueOf("2024-01-05")),
      (2, "7", "2024-01-06", java.sql.Date.valueOf("2024-01-06"))).toDF("id", "code", "dl", "day"))
    for (df <- Seq(m.read(t), spark.table(t.qualified))) {
      assert(df.schema("code").dataType == StringType, df.schema)
      assert(df.schema("dl").dataType == StringType, df.schema)
      assert(df.schema("day").dataType == DateType, df.schema)
      val got = df.select("id", "code", "dl").as[(Int, String, String)].collect().toSet
      assert(got == Set((1, "007", "2024-01-05"), (2, "7", "2024-01-06")))
    }
  }

  test("a DATE time_column at the default time_format keeps every row under Asia/Tokyo") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-cr-tokyo"), concurrency = 1)
    ctx.addModel(Model(
      name = "crz.daily",
      body = SqlBody("SELECT d, k FROM (SELECT explode(sequence(DATE'2024-01-10', " +
        "DATE'2024-01-11')) AS d) CROSS JOIN (SELECT explode(array(1, 2)) AS k) " +
        "WHERE d BETWEEN @start_ds AND @end_ds"),
      kind = ModelKind.IncrementalByTimeRange(timeColumn = "d", batchSize = Some(1)),
      start = Some(d1),
      sessionProperties = Map("spark.sql.session.timeZone" -> "Asia/Tokyo"),
      // blocking: fails the batch unless its audit scope holds both its rows
      audits = Seq("number_of_rows" -> Map("threshold" -> "1"))))
    ctx.apply(ctx.plan("prod", d1, d1 + 2 * D))
    val rows = spark.table("crz.daily").as[(java.sql.Date, Int)].collect().toSet
    assert(rows.size == 4, s"rows lost: $rows")
    val t = ctx.evaluator.physicalTable(ctx.state.latestSnapshot("crz.daily").get)
    assert(ctx.materializer.partitionValues(t)
      .flatMap(_.get(graft.plans.SnapshotEvaluator.TimePartitionCol)).sorted ==
      Seq("2024-01-10", "2024-01-11"))
    // the typed condition scopes exactly one batch's rows in the session zone
    val tokyo = org.apache.spark.sql.graft.SessionClone.clone(spark)
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    Seq(d1, d1 + D).foreach { start =>
      val cond = UtcInterval.condition("d", "timestamp", start, start + D, Some(DateType))
      assert(tokyo.table("crz.daily").where(cond).count() == 2, cond)
      assert(ctx.audit("crz.daily", "prod", start, start + D).values.forall(_ == 0))
    }
  }

  test("every session sees each commit and the rollback of a failed audit") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-cr-sessions"), concurrency = 1)
    ctx.addModel(Model(
      name = "crs.full",
      body = SqlBody("SELECT d, CASE WHEN d = DATE'2024-01-12' THEN NULL ELSE d END AS v " +
        "FROM (SELECT explode(sequence(DATE'2024-01-10', CAST(@end_ds AS DATE))) AS d)"),
      kind = ModelKind.Full,
      start = Some(d1),
      sessionProperties = Map("spark.sql.shuffle.partitions" -> "3"),
      audits = Seq("not_null" -> Map("columns" -> "v"))))
    def days(table: String) = spark.table(table).select("d").as[java.sql.Date].collect()
      .map(_.toString).sorted.toSeq
    def physical = ctx.evaluator.physicalTable(ctx.state.latestSnapshot("crs.full").get).qualified
    ctx.apply(ctx.plan("prod", d1, d1 + D))
    val one = Seq("2024-01-10")
    assert(days(physical) == one && days("crs.full") == one)
    ctx.run("prod", d1, d1 + 2 * D)
    val two = Seq("2024-01-10", "2024-01-11")
    assert(days(physical) == two && days("crs.full") == two)
    intercept[Exception](ctx.run("prod", d1, d1 + 3 * D))
    assert(days(physical) == two && days("crs.full") == two)
  }

  test("dirs written without a record bind, read, vacuum, time-travel and re-plan") {
    val m = new SparkMaterializer(spark)
    val t = tbl("legacy", Seq("d"))
    val rows = Seq((1L, "007"), (2L, "7"), (3L, "x")).toDF("id", "d")
    rows.limit(1).write.partitionBy("d").parquet(s"${t.root}/v0")
    rows.write.partitionBy("d").parquet(s"${t.root}/v1")
    val inferred = spark.read.parquet(s"${t.root}/v1")
    m.register(t)
    assert(spark.table(t.qualified).schema == inferred.schema)
    assert(m.read(t).schema == inferred.schema)
    assert(m.read(t).collect().toSet == inferred.collect().toSet)
    assert(VersionDir.readRecord(spark, s"${t.root}/v1").isDefined, "inferred once, then recorded")
    assert(m.readVersion(t, 0).count() == 1)
    assert(m.vacuum(t, keepLast = 1) == 1)
    assert(m.readVersion(t, 1).collect().toSet == inferred.collect().toSet)

    // an empty partitioned write of an older writer left only its frame-order DDL
    val e = tbl("legacy_empty", Seq("d"))
    Files.createDirectories(Paths.get(s"${e.root}/v0"))
    Files.write(Paths.get(s"${e.root}/v0/_graft_schema"), "d STRING,id BIGINT".getBytes("UTF-8"))
    m.register(e)
    assert(spark.table(e.qualified).schema.fieldNames.toSeq == Seq("d", "id"))
    assert(m.read(e).schema.fieldNames.toSeq == Seq("d", "id") && m.read(e).count() == 0)
    m.insertAppend(e, Seq((5L, "y")).toDF("id", "d"))
    assert(spark.table(e.qualified).as[(Long, String)].collect().toSeq == Seq(5L -> "y"))

    // a workspace whose version dirs carry no record re-plans as a no-op
    val ws = SparkTestSession.tmpDir("ws-cr-legacy")
    val model = Model("crl.t", SqlBody("SELECT id, CAST(id AS STRING) AS s FROM range(4)"),
      kind = ModelKind.Full)
    val ctx = new GraftContext(spark, ws, concurrency = 1)
    ctx.addModel(model)
    ctx.apply(ctx.plan("prod", 0L, D))
    val stream = Files.walk(Paths.get(ws))
    try stream.filter(_.getFileName.toString == VersionDir.RecordFile).forEach(Files.delete(_))
    finally stream.close()
    val p = ctx.plan("prod", 0L, D)
    assert(p.added.isEmpty && p.modified.isEmpty && p.metadataOnly.isEmpty)
    ctx.apply(p)
    ctx.run("prod", 0L, 2 * D)
    assert(spark.table("crl.t").count() == 4)
  }

  test("only the legacy fallback and path-addressed relations read parquet without a schema") {
    // a parquet read without a declared schema infers it from file footers
    // and lists the dir; the adapter, plans and audits read version dirs by
    // their commit record instead. Allowed: VersionDir's fallback for a dir
    // written before records were kept (it infers once, then records);
    // cloneTable's and renameTable's views, whose catalog entries pin a file
    // list or an unregistered dir; and addExternal's path-registered
    // external tables, which graft did not write
    val root = Paths.get("src/main/scala/graft")
    val reads = """\.read\.parquet\(|parquet\.`""".r
    val allowed = Map(
      "adapter/VersionDir.scala" -> "spark.read.parquet(dir) // legacy fallback",
      "adapter/TableFormat.scala" -> "AS SELECT * FROM parquet.`$",
      "GraftContext.scala" -> "s\"parquet.`$pathOrTable`\"")
    val files = Seq("adapter", "plans", "audits").flatMap { d =>
      val stream = Files.walk(root.resolve(d))
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      } finally stream.close()
    } :+ root.resolve("GraftContext.scala")
    assert(files.size > 10, s"scanned only ${files.size} files")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if reads.findFirstIn(line).isDefined && !allowed.get(rel).exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
