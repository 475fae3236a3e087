package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft._
import graft.adapter.UtcInterval
import graft.core._

/** One interval rule under any session time zone: a batch `[start, end)`
  * means the same rows to the write guard, the audit `condition` and the
  * managed time-partition key, whatever `spark.sql.session.timeZone` a
  * model's `session_properties` set. Were one of them read in the session
  * zone, a day's rows would land in the neighbouring day's partition dir,
  * the next batch's dynamic overwrite would replace that dir, and the audit
  * would scope a shifted window. */
class IntervalTimeZoneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L
  private val d1 = java.time.LocalDate.parse("2024-01-10").toEpochDay * D
  private val ny = "America/New_York"

  test("two daily batches in a New York session keep every row, audited per batch") {
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("ws-tz"), concurrency = 1)
    // 48 hourly instants over two UTC days; timestamp_millis is zone-free,
    // and the body does not filter: the write guard alone clips each batch
    val kind = ModelKind.IncrementalByTimeRange(timeColumn = "ts", batchSize = Some(1))
    ctx.addModel(Model(
      name = "tz.hourly",
      body = SqlBody(s"SELECT id, timestamp_millis(${d1}L + id * 3600000L) AS ts FROM range(48)"),
      kind = kind,
      start = Some(d1),
      sessionProperties = Map("spark.sql.session.timeZone" -> ny),
      // blocking: fails the batch unless its audit scope holds all 24 rows
      audits = Seq("number_of_rows" -> Map("threshold" -> "23"))))
    ctx.apply(ctx.plan("prod", d1, d1 + 2 * D))

    val ids = spark.table("tz.hourly").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (0L until 48L), s"rows lost or duplicated: $ids")
    val t = ctx.evaluator.physicalTable(ctx.state.latestSnapshot("tz.hourly").get)
    val keys = ctx.materializer.partitionValues(t)
      .flatMap(_.get(SnapshotEvaluator.TimePartitionCol)).sorted
    assert(keys == Seq("2024-01-10", "2024-01-11"), keys)

    // the audit condition selects exactly the batch's rows in that zone
    val session = org.apache.spark.sql.graft.SessionClone.clone(spark)
    session.conf.set("spark.sql.session.timeZone", ny)
    val rows = session.sql(s"SELECT id, timestamp_millis(${d1}L + id * 3600000L) AS ts FROM range(48)")
    Seq(d1 -> (0L until 24L), (d1 + D) -> (24L until 48L)).foreach { case (start, want) =>
      val got = rows.where(UtcInterval.condition("ts", kind.timeFormat, start, start + D))
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got == want, s"audit scope of [$start, ${start + D}): $got")
    }
  }
}
