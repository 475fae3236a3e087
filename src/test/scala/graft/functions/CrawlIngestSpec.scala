package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.graft.CheckpointDirScope
import graft.SparkTestSession

/** End-to-end drive of [[Curation.crawlIngest]] — each stage of the
  * recipe must bite on a fixture built to trigger exactly it:
  * canonical-declared aliases, tracking-param URL aliases, shared footer
  * boilerplate, a junk page under the quality floor, and one domain over
  * its quota. */
class CrawlIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def page(id: Long, url: String, content: String,
                   canonical: String = ""): (Long, String, String) = {
    val canonTag =
      if (canonical.isEmpty) ""
      else s"""<link rel="canonical" href="$canonical">"""
    (id, url,
      s"""<html lang="en"><head><title>Page $id</title>$canonTag</head>
         |<body><p>$content</p><div>FOOTER NAV ABOUT</div></body></html>""".stripMargin)
  }

  // distinct LETTER-ONLY content (digit- and punct-free, so qualityScore
  // reduces to len/500 exactly and ranking is purely length-controlled)
  private def words(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag${('a' + i % 26).toChar}${('a' + i / 26).toChar} word")
      .mkString(" ")

  private lazy val pages = (Seq(
    // canonical alias pair: both declare the same canonical → keep id 1
    page(1, "https://site-a.com/art?ref=x", words("alpha", 20),
      canonical = "https://site-a.com/art"),
    page(2, "https://site-a.com/art2", words("beta", 20),
      canonical = "https://site-a.com/art"),
    // tracking-param alias pair: urlNormalize collapses them → keep id 3
    page(3, "http://B.com/x?utm_source=feed", words("gamma", 20)),
    page(4, "http://b.com/x", words("delta", 20)),
    // junk page below the quality floor (digits + punctuation)
    page(5, "https://junk.org/p", "12 345!! 678?? 90."),
    // a normal page on its own domain
    page(6, "https://solo.net/page", words("epsilon", 20)),
    // RELATIVE canonicals on two different sites: must NOT collide into
    // one key (both fall back to their own crawl URL → both kept)
    page(7, "https://rel-a.com/p", words("zeta", 20), canonical = "/home"),
    page(8, "https://rel-b.com/p", words("eta", 20), canonical = "/home"),
    // entity-escaped canonical (&amp; is mandatory attribute escaping):
    // must decode + normalize to match id 15's crawl-URL key → keep id 9
    page(9, "https://ent.com/q?x=1", words("theta", 20),
      canonical = "https://ent.com/p?a=1&amp;b=2"),
    page(15, "https://ent.com/p?b=2&a=1", words("iota", 20)),
    // 5 pages on one domain, quota cap 3 — quality ∝ content length
    page(10, "https://site-c.com/p10", words("cten", 10)),
    page(11, "https://site-c.com/p11", words("celeven", 14)),
    page(12, "https://site-c.com/p12", words("ctwelve", 18)),
    page(13, "https://site-c.com/p13", words("cthirteen", 22)),
    page(14, "https://site-c.com/p14", words("cfourteen", 26))
  ) :+
    // null crawl URL, no canonical: self-keyed — kept, never deduped
    ((16L, null: String, s"<html><body><p>${words("kappa", 20)}</p></body></html>")) :+
    // EMPTY-STRING url (CSV-style missing value): must self-key too, not
    // collapse onto a shared '' key with every other url-less page
    ((17L, "", s"<html><body><p>${words("lambda", 20)}</p></body></html>"))
  ).toDF("doc_id", "url", "html")

  private lazy val out = Curation.crawlIngest(pages,
    domainCap = 3, minQuality = 0.05).orderBy("doc_id")

  test("every stage bites: canonical dedup, URL dedup, quality floor, domain quota") {
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 lost to canonical alias, 4 to URL alias, 15 to 9's decoded
    // canonical, 5 to quality, 10/11 to quota (lowest-quality of the 5
    // site-c pages); relative canonicals 7/8 both survive, 16/17 self-key
    assert(ids == Set(1L, 3L, 6L, 7L, 8L, 9L, 12L, 13L, 14L, 16L, 17L))
    val ranks = out.filter(col("domain") === "site-c.com")
      .select("doc_id", "domain_rank").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // best-quality-first within the domain: longest content ranks first
    assert(ranks == Map(14L -> 1, 13L -> 2, 12L -> 3))
  }

  test("domain blocklist drops whole sites before extraction; ghosts and None are no-ops") {
    val bl = Seq("site-c.com", "never-crawled.example").toDF("domain")
    val blocked = Curation.crawlIngest(pages, domainCap = 3,
      minQuality = 0.05, blocklist = Some(bl))
    val ids = blocked.select("doc_id").collect().map(_.getLong(0)).toSet
    // every site-c.com page (ids 10-14 — the base run's three quota
    // keepers 12/13/14 AND its losers 10/11) is gone; the ghost entry
    // changes nothing; everyone else is exactly the base run
    assert(!blocked.select("domain").collect().map(_.getString(0))
      .contains("site-c.com"))
    assert(ids == Set(1L, 3L, 6L, 7L, 8L, 9L, 16L, 17L))
    // blocklist = None is literally the base recipe (same rows, same ranks)
    val base = out.collect().map(_.toString).toSet
    val none = Curation.crawlIngest(pages, domainCap = 3, minQuality = 0.05,
      blocklist = None).orderBy("doc_id").collect().map(_.toString).toSet
    assert(none == base)
  }

  test("host-form blocklist entries (UT1 style) block their registered domain") {
    // 'cdn.site-c.com' is a HOST, not an eTLD+1 — the entry-side fold must
    // turn it into site-c.com or it matches nothing (r15 ADVICE); case and
    // padding fold too
    val bl = Seq("  CDN.site-c.COM ").toDF("domain")
    val blocked = Curation.crawlIngest(pages, domainCap = 3,
      minQuality = 0.05, blocklist = Some(bl))
    assert(!blocked.select("domain").collect().map(_.getString(0))
      .contains("site-c.com"))
    assert(blocked.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 6L, 7L, 8L, 9L, 16L, 17L))
  }

  test("boilerplate footer survives in exactly one kept page; metadata rides along") {
    val rows = out.select("doc_id", "text", "title", "lang_decl", "domain").collect()
    val withFooter = rows.filter(_.getString(1).contains("FOOTER NAV ABOUT"))
    assert(withFooter.length == 1 && withFooter.head.getLong(0) == 1L)
    val paged = rows.filter(r => r.getLong(0) != 16L && r.getLong(0) != 17L)
    assert(paged.forall(r => r.getString(2) == s"Page ${r.getLong(0)}"))
    assert(paged.forall(_.getString(3) == "en"))
    assert(rows.map(r => Option(r.getString(4)).filter(_.nonEmpty)).toSet ==
      Set(Some("site-a.com"), Some("b.com"), Some("solo.net"),
        Some("site-c.com"), Some("rel-a.com"), Some("rel-b.com"),
        Some("ent.com"), None)) // the url-less pages have no domain
  }

  test("url_key: canonical-first NORMALIZED, absolute-only, null-safe") {
    val keys = out.select("doc_id", "url_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys(1L) == "https://site-a.com/art") // the declared canonical
    assert(keys(3L) == "http://b.com/x") // normalized crawl URL (param dropped)
    assert(keys(7L) == "https://rel-a.com/p") // relative canonical ignored
    assert(keys(8L) == "https://rel-b.com/p")
    assert(keys(9L) == "https://ent.com/p?a=1&b=2") // entity-decoded + normalized
    assert(keys(16L) == "__nokey__:16") // null url, no canonical: self-keyed
    assert(keys(17L) == "__nokey__:17") // empty-string url: self-keyed too
  }

  test("crawlIngestBytes: raw-payload pages (incl. legacy charset) match the text-side recipe") {
    // the same fixture re-encoded per page: id 3 declares windows-1251 and
    // carries REAL cp1251 bytes in its content, everything else is UTF-8
    val cp1251Word = new String( // Привет decoded — what the text side sees
      Array(0xCF, 0xF0, 0xE8, 0xE2, 0xE5, 0xF2).map(_.toByte), "windows-1251")
    val textPages = pages.filter(col("url").isNotNull && col("url") =!= "")
      .withColumn("html",
        when(col("doc_id") === 3,
          concat(lit("<html><head><meta charset=\"windows-1251\"></head>" +
            s"<body><p>$cp1251Word "), expr("substring(html, 7)")))
          .otherwise(col("html")))
    val bytePages = textPages.withColumn("payload",
      when(col("doc_id") === 3,
        // encode the whole page in its declared charset
        org.apache.spark.sql.graft.ColumnBridge.column(
          new org.apache.spark.sql.catalyst.expressions.Encode(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("html")),
            org.apache.spark.sql.catalyst.expressions.Literal("windows-1251"),
            true, true)))
        .otherwise(encode(col("html"), "UTF-8")))
      .drop("html")
    val viaBytes = Curation.crawlIngestBytes(bytePages,
        domainCap = 3, minQuality = 0.05)
      .select("doc_id", "text", "title", "domain", "domain_rank")
      .collect().map(_.toSeq).toSet
    val viaText = Curation.crawlIngest(textPages,
        domainCap = 3, minQuality = 0.05)
      .select("doc_id", "text", "title", "domain", "domain_rank")
      .collect().map(_.toSeq).toSet
    assert(viaBytes == viaText)
    assert(viaText.exists(_(1).asInstanceOf[String].contains(cp1251Word)),
      "the cp1251 page must survive with its non-ASCII content intact")
  }

  test("crawlIngest survivors stay a local checkpoint when a checkpoint dir is set") {
    val sc = spark.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def files(): Set[String] = {
      val dir = new org.apache.hadoop.fs.Path(root)
      val it = dir.getFileSystem(sc.hadoopConfiguration).listFiles(dir, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
    val twoPages = Seq(
      (1L, "https://a.com/x", "<html><head><title>A</title></head><body><p>alpha words here</p></body></html>"),
      (2L, "https://b.com/y", "<html><head><title>B</title></head><body><p>beta words here</p></body></html>"))
      .toDF("doc_id", "url", "html")
    CheckpointDirScope(sc, Some(root)) {
      val before = files()
      val out = Curation.crawlIngest(twoPages, domainCap = 3)
      assert(out.count() == 2)
      assert(files() == before, "crawlIngest wrote reliable checkpoint files")
    }
  }

  test("a consumer holding only crawlIngest's executed RDD outlives the dropped Dataset") {
    // the survivors' checkpoint blocks are the only copy of that data: no
    // release may drop them while a consumer can still reach the RDD. AQE
    // off: an adaptive plan runs its shuffle stages when the RDD is taken,
    // so a later action would read shuffle files, never the blocks
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // in a method, so the Dataset and every frame derived from it are
    // unreachable once it returns
    def consumer(): (org.apache.spark.rdd.RDD[Long], Seq[Long]) = {
      val result = Curation.crawlIngest(pages, domainCap = 3, minQuality = 0.05)
      val i = result.schema.fieldIndex("doc_id")
      val ids = result.queryExecution.executedPlan.execute().map(_.getLong(i))
      (ids, result.select("doc_id").as[Long].collect().toSeq.sorted)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (ids, expected) = consumer()
      assert(expected.nonEmpty)
      // wait until the dropped result's persisted helpers are released:
      // the release that once dropped the survivors' blocks fires then too
      val created = sc.getPersistentRDDs.keySet.toSet -- before
      def released = created.exists(id => !sc.getPersistentRDDs.contains(id))
      val deadline = System.nanoTime() + 20000000000L
      while (!released && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
      assert(released, s"nothing of $created was released after the result was dropped")
      assert(ids.collect().toSeq.sorted == expected)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
