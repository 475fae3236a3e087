package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Fingerprints decide table reuse across runs, so their text must never
  * drift: a different hash for an unchanged model re-versions it and
  * rebuilds its table. These values were computed by graft before the
  * hashing kernels were rewritten (precompiled patterns, a hex-digit loop);
  * state written with them must still re-plan as a no-op. */
class FingerprintGoldenSpec extends AnyFunSuite {

  test("md5Short keeps its digests") {
    assert(Fingerprint.md5Short("") == "d41d8cd98f00b204")
    assert(Fingerprint.md5Short("graft") == "679c24daf01ac4fd")
    assert(Fingerprint.md5Short("héllo ∑") == "7243710038d4c58b")
  }

  test("canonicalSql keeps its text: comments, string literals, mixed case") {
    assert(Fingerprint.canonicalSql(
      "SELECT  A, 'Mixed CASE' AS S -- Trailing Comment\n" +
        "FROM  Sch.Tbl /* Block\n Comment */ WHERE X = 'O''Brien'\n\tAND Y > 1  ") ==
      "select a, 'Mixed CASE' as s from sch.tbl where x = 'O''Brien' and y > 1")
    // `--` inside a literal is text, not a comment (restated when the strip
    // became literal-aware: it used to eat the rest of the line)
    assert(Fingerprint.canonicalSql(
      "SELECT  A, 'Mixed CASE -- Kept' AS S -- Trailing Comment\n" +
        "FROM  Sch.Tbl /* Block\n Comment */ WHERE X = 'O''Brien'\n\tAND Y > 1  ") ==
      "select a, 'Mixed CASE -- Kept' as s from sch.tbl where x = 'O''Brien' and y > 1")
  }

  test("an edit after `--` inside a string literal changes the fingerprint") {
    def fp(body: String) =
      Fingerprint.of(Model("gold.lit", SqlBody(body)), body, Nil)
    val b = "SELECT u FROM gold.src WHERE u = 'a--b'"
    val c = "SELECT u FROM gold.src WHERE u = 'a--c'"
    assert(Fingerprint.canonicalSql(b) != Fingerprint.canonicalSql(c))
    assert(fp(b).dataHash != fp(c).dataHash)
    assert(fp(b).version != fp(c).version)
  }

  test("Fingerprint.of keeps a model's fingerprint over two parents") {
    val p1 = SnapshotFingerprint("0123456789abcdef", "fedcba9876543210",
      "00000000aaaaaaaa", "11111111bbbbbbbb")
    val p2 = SnapshotFingerprint("2222222222222222", "3333333333333333",
      "4444444444444444", "5555555555555555")
    val sql = "SELECT Id, D FROM gold.p1 JOIN gold.p2 USING (id) -- c"
    val m = Model("Gold.Child", SqlBody(sql),
      kind = ModelKind.IncrementalByTimeRange("d", batchSize = Some(1)),
      cron = "@hourly", owner = Some("ops"), tags = Seq("t1"), grains = Seq("id"),
      columns = Seq("id" -> "BIGINT", "d" -> "DATE"), partitionedBy = Seq("d"),
      audits = Seq("not_null" -> Map("columns" -> "id")),
      physicalProperties = Map("compression" -> "zstd"),
      sessionProperties = Map("spark.sql.shuffle.partitions" -> "4"))
    val fp = Fingerprint.of(m, sql, Seq(p1, p2))
    assert(fp == SnapshotFingerprint("175efb3f4284805d", "811c45b4cfe1fd23",
      "b63e779cac6c7fbe", "09fb995c3714b54b"))
    assert(fp.version == "a6f3eb4ce7ae9d4b")
    assert(fp.full == "165a6262c940f70e")
    assert(Fingerprint.of(m, sql, Seq(p2, p1)) == fp, "parent order must not matter")
  }
}
