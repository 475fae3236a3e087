package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class WebSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def norm(urls: String*): Seq[String] =
    urls.toDF("url").select(Web.urlNormalize(col("url")).as("n"))
      .collect().map(_.getString(0)).toSeq

  test("urlNormalize: case, ports, userinfo, fragment, tracking params, slashes") {
    assert(norm(
      "HTTP://WWW.Example.COM:80/A/b/?utm_source=x&b=2&a=1#frag",
      "https://example.com:443/x",
      "https://example.com:80/x", // :80 is NOT https's default — kept
      "http://user:pw@Site.org:8080/p/?gclid=1&fbclid=2&msclkid=3&ref=t&utm_campaign=c",
      "https://example.com", // empty path → /
      "http://example.com/a//", // slash run collapses
      "https://h.io/p?z=9&a=1&m=5" // params sorted
    ) == Seq(
      "http://www.example.com/A/b?a=1&b=2",
      "https://example.com/x",
      "https://example.com:80/x",
      "http://site.org:8080/p",
      "https://example.com/",
      "http://example.com/a",
      "https://h.io/p?a=1&m=5&z=9"))
    // dedup collapse: two crawl aliases of one resource → one key
    assert(norm("HTTPS://News.Site.COM/a/?utm_medium=rss",
      "https://news.site.com:443/a").distinct.size == 1)
    // non-URL rows pass through unchanged
    assert(norm("not a url at all") == Seq("not a url at all"))
    // authority-less URLs pass through too — normalizing them would
    // collapse every file:///… (and malformed http:///…) to 'scheme:///',
    // merging DISTINCT resources into one dedup key
    assert(norm("file:///data/a.txt", "file:///data/b.txt", "http:///x?a=1") ==
      Seq("file:///data/a.txt", "file:///data/b.txt", "http:///x?a=1"))
  }

  test("urlHost and registeredDomain") {
    val got = Seq(
      "https://news.BBC.co.uk:8443/x",
      "http://crawler@a.b.Example.com/",
      "https://localhost/x")
      .toDF("url")
      .select(Web.urlHost(col("url")).as("h"))
      .withColumn("d", Web.registeredDomain(col("h")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      ("news.bbc.co.uk", "bbc.co.uk"),
      ("a.b.example.com", "example.com"),
      ("localhost", "localhost")))
  }

  test("bracketed IPv6 authorities: normalize keeps brackets, host/domain strip them") {
    // normalize: non-default port kept, default port stripped, brackets stay
    assert(norm(
      "http://[::1]:8080/x",
      "https://[2001:db8::1]/",
      "HTTP://[2001:DB8::1]:80/a/",
      "https://[::1]:443/p?b=2&a=1") == Seq(
      "http://[::1]:8080/x",
      "https://[2001:db8::1]/",
      "http://[2001:db8::1]/a",
      "https://[::1]/p?a=1&b=2"))
    val got = Seq(
      "http://[::1]:8080/x",
      "https://[2001:db8::1]/",
      "http://user@[2001:db8::443]/y")
      .toDF("url")
      .select(Web.urlHost(col("url")).as("h"))
      .withColumn("d", Web.registeredDomain(col("h")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // host: port stripped FIRST (the `]` guards the address), then brackets;
    // registeredDomain: IP literals pass through — never split on dots
    assert(got == Seq(
      ("::1", "::1"),
      ("2001:db8::1", "2001:db8::1"),
      ("2001:db8::443", "2001:db8::443")))
    // still-bracketed and IPv4 forms pass through registeredDomain unchanged
    val ips = Seq("[::1]", "192.168.0.17").toDF("h")
      .select(Web.registeredDomain(col("h"))).collect().map(_.getString(0)).toSeq
    assert(ips == Seq("[::1]", "192.168.0.17"))
  }

  test("registeredDomain: PSL fixture drives wildcard, exception, and private rules") {
    assert(PublicSuffixList.loaded.nonEmpty, "classpath PSL fixture must load")
    val cases = Seq(
      "a.b.example.com" -> "example.com", // exact 1-label rule
      "news.bbc.co.uk" -> "bbc.co.uk", // exact 2-label beats 1-label (longest match)
      "x.y.z.co.jp" -> "z.co.jp",
      "foo.bar.ck" -> "foo.bar.ck", // wildcard *.ck: bar.ck is a public suffix
      "bar.ck" -> "bar.ck", // AT the wildcard suffix: no registrable → host
      "www.ck" -> "www.ck", // exception !www.ck: www.ck IS registrable
      "sub.www.ck" -> "www.ck",
      "alice.github.io" -> "alice.github.io", // private-section suffix
      "deep.sub.alice.github.io" -> "alice.github.io",
      "github.io" -> "github.io", // at the suffix itself → host
      "media.city.kawasaki.jp" -> "city.kawasaki.jp", // exception beats *.kawasaki.jp
      "shop.ainotame.kawasaki.jp" -> "shop.ainotame.kawasaki.jp", // *.kawasaki.jp
      "bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com", // 3-label exact
      "localhost" -> "localhost", // single label, implicit * rule
      "example.unknowntld" -> "example.unknowntld") // implicit * rule: 1-label ps
    val got = cases.map(_._1).toDF("h")
      .select(Web.registeredDomain(col("h"))).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("registeredDomainPsl: exceptions-only rules plan without error (greatest arity)") {
    // an exceptions-only PSL file parses to empty exact AND wildcard sets
    // but passes the non-empty guard — the implicit-'*' floor must not
    // hand greatest() a single argument (plan-time AnalysisException)
    val r = PublicSuffixList.parse("!city.kobe.jp")
    val got = Seq("a.b.example.com", "city.kobe.jp", "localhost").toDF("h")
      .select(Web.registeredDomainPsl(col("h"), split(col("h"), "\\."), r))
      .collect().map(_.getString(0)).toSeq
    // implicit * rule: 1-label public suffix → last two labels; the
    // exception rule IS the registered domain where it matches
    assert(got == Seq("example.com", "city.kobe.jp", "localhost"), got.toString)
  }

  test("IDN rules: Unicode PSL entries match punycode hosts after ACE folding") {
    // the upstream list stores IDN rules as Unicode (中国, рф) while
    // urlHost yields ACE-encoded hosts — the parser must fold rules to
    // host form or every IDN registrant collapses under the implicit *
    val r = PublicSuffixList.parse("中国\n*.рф\n!пример.рф\ncom")
    assert(r.exactByLen(1).contains("xn--fiqs8s"), r.exactByLen(1).toString)
    assert(r.wildcardBasesByLen(1).contains("xn--p1ai"))
    assert(r.exceptionsByLen(2).exists(_.endsWith(".xn--p1ai")))
    // and through the shipped fixture: a punycode Russian-TLD host
    // registers at its second label, not the implicit-* fallback
    val got = Seq("sub.site.xn--p1ai", "news.xn--fiqs8s").toDF("h")
      .select(Web.registeredDomain(col("h"))).collect().map(_.getString(0)).toSeq
    assert(got == Seq("site.xn--p1ai", "news.xn--fiqs8s"), got.toString)
  }

  test("PSL vs subset fallback: quota grouping over a github.io corpus differs") {
    // 30 docs across 10 distinct github.io sites: under the PSL each site is
    // its own registered domain (cap never binds at 5); under the pre-PSL
    // subset they'd all collapse into the single pseudo-domain github.io
    // and the quota would throw away 25 of 30 docs
    val docs = (1L to 30L).map(i => (i, s"site${i % 10}.github.io", i.toDouble))
      .toDF("doc_id", "host", "score")
      .withColumn("domain", Web.registeredDomain(col("host")))
    assert(docs.select("domain").distinct().count() == 10)
    val kept = Web.domainQuota(docs, cap = 5).count()
    assert(kept == 30, "per-site grouping must keep every doc")
    // the fallback subset grouping (domain = github.io for all) would keep 5
    val collapsed = Web.domainQuota(
      docs.drop("domain").withColumn("domain", lit("github.io")), cap = 5).count()
    assert(collapsed == 5)
  }

  test("domainQuota keeps top-cap by (score desc, id asc) per domain, exactly") {
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 30) "big.com" else "small.org", (i % 10).toDouble))
      .toDF("doc_id", "domain", "score")
    val out = Web.domainQuota(docs, cap = 3, salts = 4)
      .select("doc_id", "domain", "domain_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // big.com: score 9 → ids 9,19,29; ranks by (score desc, id asc)
    // small.org: ids 31..40, scores i%10 → 39 (s9), 38 (s8), 37 (s7)
    assert(out == Set(
      (9L, "big.com", 1), (19L, "big.com", 2), (29L, "big.com", 3),
      (39L, "small.org", 1), (38L, "small.org", 2), (37L, "small.org", 3)))
    // two-stage == single-stage under every salt count (subset property)
    val single = Web.domainQuota(docs, cap = 3, salts = 1)
      .select("doc_id", "domain", "domain_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(single == out)
  }

  test("incrementalMinhashLsh screens a batch against stored corpus bands") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different corpus text about spark catalyst optimizer internals"),
      (3L, "yet another unrelated corpus document mentioning tungsten codegen stages"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // near-dup of corpus doc 1 (one word changed)
      (10L, "the quick brown fox jumps over the lazy dog near the river shore"),
      // novel
      (11L, "structured streaming watermark state semantics with flatMapGroupsWithState"))
      .toDF("doc_id", "text")
    val bandsDf = Dedup.minhashBands(corpus, shingleN = 2, numHashes = 16, bands = 8)
    // ONE stored row per doc (sig once + nested band keys), not per band:
    // a per-band layout would copy the wide signature `bands` times
    assert(bandsDf.count() == 3)
    assert(bandsDf.columns.toSeq == Seq("doc_id", "sig", "band_keys"))
    assert(bandsDf.select(size(col("band_keys"))).collect().forall(_.getInt(0) == 8))
    val pairs = Dedup.incrementalMinhashLsh(bandsDf, incoming,
      shingleN = 2, numHashes = 16, bands = 8, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), s"near-dup must screen: $pairs")
    assert(!pairs.exists(_._1 == 11L), s"novel doc must pass: $pairs")
    // shuffle-join path (broadcastIncoming=false) gives the identical answer
    val pairs2 = Dedup.incrementalMinhashLsh(bandsDf, incoming,
      shingleN = 2, numHashes = 16, bands = 8, threshold = 0.3,
      broadcastIncoming = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == pairs)
    // the ingest recipe: accepted = incoming minus screened
    val accepted = incoming.join(
        Dedup.incrementalMinhashLsh(bandsDf, incoming, shingleN = 2,
          numHashes = 16, bands = 8, threshold = 0.3)
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(accepted == Seq(11L))
  }

  test("incrementalMinhashLsh ≡ minhashLsh cross-pairs over corpus∪batch (seeded property)") {
    // the screen's contract checked wholesale: with corpus ids < batch ids,
    // the incremental pairs must equal the batch LSH's (corpus, batch)
    // cross-pairs — same bands, same verify, same threshold
    val rnd = new scala.util.Random(4242)
    val vocab = Seq("spark", "catalyst", "tungsten", "shuffle", "codegen",
      "broadcast", "partition", "stream", "state", "minhash")
    def gen(ids: Range) = ids.map { id =>
      (id.toLong, (0 until 8 + rnd.nextInt(5))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val corpus = gen(1 to 25).toDF("doc_id", "text")
    val batch = gen(26 to 40).toDF("doc_id", "text")
    val inc = Dedup.incrementalMinhashLsh(
        Dedup.minhashBands(corpus, shingleN = 2, numHashes = 16, bands = 8),
        batch, shingleN = 2, numHashes = 16, bands = 8, threshold = 0.3)
      .select(col("doc_id"), col("corpus_id"), col("est_jaccard"))
    val cross = Dedup.minhashLsh(corpus.union(batch), shingleN = 2,
        numHashes = 16, bands = 8, threshold = 0.3)
      .filter(col("id_a") <= 25 && col("id_b") >= 26)
      .select(col("id_b").as("doc_id"), col("id_a").as("corpus_id"),
        col("est_jaccard"))
    // static clue: an interpolated count() clue would run two extra full
    // Spark jobs even when the assertion passes (clues evaluate eagerly)
    assert(inc.exceptAll(cross).isEmpty && cross.exceptAll(inc).isEmpty,
      "incremental screen and batch cross-pairs diverged")
  }

  test("incrementalMinhashLsh broadcast path: corpus bands never shuffle for the screen") {
    val corpus = (1L to 50L).map(i => (i, s"corpus doc number $i with words $i"))
      .toDF("doc_id", "text")
    val incoming = Seq((100L, "corpus doc number 7 with words 7")).toDF("doc_id", "text")
    val bandsDf = Dedup.minhashBands(corpus, shingleN = 2, numHashes = 16, bands = 4)
    val p = Dedup.incrementalMinhashLsh(bandsDf, incoming,
        shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the screen join must broadcast the batch side — at 100 TB a sort-merge
    // here would shuffle the entire corpus band table per ingest
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"), "screen join degraded to sort-merge")
  }

  test("incrementalMinhashLsh maxBucketSize drops hot corpus buckets") {
    // 6 identical corpus docs: every band bucket holds 6 postings; cap 3
    // drops them all, so the screen reports NO pairs for an exact dup batch
    val corpus = (1L to 6L)
      .map(i => (i, "same boilerplate header repeated across the mirror set"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "same boilerplate header repeated across the mirror set"))
      .toDF("doc_id", "text")
    val bandsDf = Dedup.minhashBands(corpus, shingleN = 2, numHashes = 16, bands = 4)
    val capped = Dedup.incrementalMinhashLsh(bandsDf, incoming,
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3,
      maxBucketSize = Some(3))
    assert(capped.count() == 0)
    val uncapped = Dedup.incrementalMinhashLsh(bandsDf, incoming,
      shingleN = 2, numHashes = 16, bands = 4, threshold = 0.3)
    assert(uncapped.count() == 6)
  }

  test("resolveUrl: absolute, protocol-relative, root-relative, fragment, path-relative") {
    val rows = Seq(
      ("https://a.com/dir/page.html?q=1", "https://b.org/x"), // absolute
      ("https://a.com/dir/page.html", "//cdn.b.org/lib.js"), // protocol-relative
      ("https://a.com/dir/page.html", "/top"), // root-relative
      ("https://a.com/dir/page.html", "other.html"), // path-relative
      ("https://a.com", "other.html"), // base with no path
      ("https://a.com/dir/page.html", "#sec"), // fragment-only → the page
      ("https://a.com/dir/page.html", "mailto:x@y.z"), // absolute, other scheme
      // query-only (pagination) keeps the FULL base path per RFC 3986 §5.3
      ("https://a.com/list?page=1", "?page=2"),
      ("https://a.com", "?q=x"), // query-only against a path-less base
      // dot segments collapse per §5.2.4 in every resolved branch
      ("https://a.com/dir/sub/page.html", "../up.html"),
      ("https://a.com/dir/page.html", "../../../escape.html"), // clamps at root
      ("https://a.com/dir/page.html", "./same.html"),
      ("https://a.com/a/b/", "../c?x=1#f"), // query+fragment ride along
      ("https://a.com/x", "//cdn.b.org/lib/../x.js"), // protocol-relative
      ("https://a.com/dir/page.html", "/root/./y/../z"), // root-relative
      ("https://a.com/dir/page.html", "sub/.."), // directory form survives
      // empty segments are stack entries: '..' pops the EMPTY segment
      // ('/a//x'), not the one before it ('/a/x') — RFC 3986 §5.2.4
      ("https://a.com/a//b/page.html", "../x")
    ).toDF("base", "href")
    val out = rows.select(Web.resolveUrl(col("base"), col("href")))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "https://b.org/x",
      "https://cdn.b.org/lib.js",
      "https://a.com/top",
      "https://a.com/dir/other.html",
      "https://a.com/other.html",
      "https://a.com/dir/page.html",
      "mailto:x@y.z",
      "https://a.com/list?page=2",
      "https://a.com?q=x",
      "https://a.com/dir/up.html",
      "https://a.com/escape.html",
      "https://a.com/dir/same.html",
      "https://a.com/a/c?x=1#f",
      "https://cdn.b.org/x.js",
      "https://a.com/root/z",
      "https://a.com/dir/",
      "https://a.com/a//x"))
  }

  test("frontierSchedule: politeness invariant, coverage, and skew-safe plan shape") {
    // a mega-host frontier: 600 of 1000 URLs on one domain
    val urls = (0 until 1000).map { i =>
      val host = if (i % 5 <= 2) "mega.example.com"
        else if (i % 5 == 3) "news.bbc.co.uk"
        else s"site${i % 10}.org"
      (s"https://$host/p/$i", i)
    }.toDF("url_norm", "i")
    val slots = 4
    val out = Web.frontierSchedule(urls, perHostSlots = slots).cache()
    // every URL scheduled exactly once
    assert(out.count() == 1000 && out.select("url_norm").distinct().count() == 1000)
    // THE politeness invariant: a (domain, round) never exceeds the slot
    // count, and a (domain, round, slot) is unique — one connection each
    val perRound = out.groupBy("domain", "fetch_round").count()
      .agg(max("count")).head.getLong(0)
    assert(perRound <= slots, s"a round used $perRound connections on one domain")
    assert(out.groupBy("domain", "fetch_round", "slot").count()
      .agg(max("count")).head.getLong(0) == 1L)
    // rounds stay near the N/slots optimum for the mega-host (sparse salt
    // numbering costs a bounded constant factor, not an order)
    val mega = out.filter(col("domain") === "example.com")
    val n = mega.count().toDouble
    val maxRound = mega.agg(max("fetch_round")).head.getInt(0)
    assert(maxRound >= math.ceil(n / slots).toInt, "rounds denser than slots allow")
    assert(maxRound <= 3 * n / slots + 16, s"round numbering too sparse: $maxRound for $n")
    out.unpersist()
    // skew pin: the ranking window partitions by (domain, slot, salt) —
    // a mega-host never sorts in one task. Probed AFTER unpersist: the
    // cache manager substitutes InMemoryRelation into any structurally
    // identical plan, leaving no Window node to find
    val winParts = Web.frontierSchedule(urls, perHostSlots = slots)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.partitionSpec.length
      }
    assert(winParts == Seq(3), s"window partition keys: $winParts")
  }

  test("crawlFrontierPlan: resolve → screen → robots → schedule, composed") {
    val links = Seq(
      // relative + dot-segment hrefs resolve against their pages
      ("https://site-a.org/d/p1", "../new1"),
      ("https://site-a.org/d/p1", "/q/blocked"), // robots kills /q on site-a
      ("https://site-a.org/d/p2", "new2"),
      ("https://site-b.org/x", "/q/fine"), // site-b has NO robots: fail-open
      ("https://site-b.org/x", "/seen"), // already fetched
      ("https://site-b.org/x", "mailto:x@y.z"), // not fetchable: drops
      ("https://site-a.org/d/p1", "../new1#frag") // alias of new1: dedups
    ).toDF("page_url", "href")
    val seen = Seq("https://site-b.org/seen").toDF("url_norm")
    val robots = Seq(("site-a.org", "User-agent: *\nDisallow: /q"))
      .toDF("domain", "robots_txt")
    val out = Web.crawlFrontierPlan(links, seen, robots, "GraftBot",
        perHostSlots = 2)
      .collect().map(r => (r.getAs[String]("url_norm"),
        r.getAs[String]("domain"), r.getAs[Int]("fetch_round")))
    val urls = out.map(_._1).sorted.toSeq
    assert(urls == Seq("https://site-a.org/d/new2", "https://site-a.org/new1",
      "https://site-b.org/q/fine"), urls.toString)
    assert(out.forall(_._3 >= 1))
    assert(out.map(_._2).toSet == Set("site-a.org", "site-b.org"))
    // politeness invariant holds on the composed output too
    val perRound = out.groupBy(r => (r._2, r._3)).values.map(_.size)
    assert(perRound.forall(_ <= 2))
  }

  test("urlTrapped + frontier trap screen: exclusion patterns drop before the seen probe") {
    // the predicate alone
    val trapped = Seq(
      "https://a.com/calendar/2024/05/07",
      "https://a.com/search?q=x&page=999",
      "https://a.com/article/42",
      (null: String))
      .toDF("u")
      .select(Web.urlTrapped(col("u"),
        Seq("/calendar/", "[?&]page=")).as("t"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(trapped(0) == true && trapped(1) == true && trapped(2) == false)
    // null url → null predicate (the doc contract: filter(!…) drops it)
    assert(trapped(3) == null)
    // composed: trap hrefs disappear from the frontier — including a
    // RAW-CASED absolute alias, because the screen matches the
    // NORMALIZED form (the host-anchored pattern can't match the raw
    // 'Site-A.org' casing; only normalization makes it hit)
    val links = Seq(
      ("https://site-a.org/p", "/calendar/2024"),
      ("https://site-a.org/p", "HTTPS://Site-A.org/calendar/x"),
      ("https://site-a.org/p", "/fresh")).toDF("page_url", "href")
    val seen = Seq.empty[String].toDF("url_norm")
    val robots = Seq.empty[(String, String)].toDF("domain", "robots_txt")
    val out = Web.crawlFrontierPlan(links, seen, robots, "GraftBot",
        perHostSlots = 2, excludePatterns = Seq("site-a\\.org/calendar/"))
      .collect().map(_.getAs[String]("url_norm")).toSeq
    assert(out == Seq("https://site-a.org/fresh"))
    // Nil patterns = the base plan, bit-identical
    val base = Web.crawlFrontierPlan(links, seen, robots, "GraftBot", 2)
      .collect().map(_.getAs[String]("url_norm")).toSet
    assert(base == Set("https://site-a.org/calendar/2024",
      "https://site-a.org/calendar/x", "https://site-a.org/fresh"))
  }

  test("robotsCrawlDelay: tier selection, last-wins, no-*-fallback, bad values") {
    def delay(txt: String, agent: String = "graftbot"): Option[Double] = {
      val r = Seq(txt).toDF("r")
        .select(Web.robotsCrawlDelay(col("r"), agent)).head
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    // * tier applies when no specific group exists; last delay line wins
    assert(delay("User-agent: *\nCrawl-delay: 2\nCrawl-delay: 7.5") == Some(7.5))
    // the exactly-matching group wins over *
    assert(delay("User-agent: *\nCrawl-delay: 9\n\nUser-agent: GraftBot\nCrawl-delay: 1.5")
      == Some(1.5))
    // a matched specific group WITHOUT a delay means no delay (one group
    // governs a crawler — no fallback to the * group's 9)
    assert(delay("User-agent: *\nCrawl-delay: 9\n\nUser-agent: graftbot\nDisallow: /x")
      == None)
    // header run: two UA lines share one group's delay
    assert(delay("User-agent: a\nUser-agent: graftbot\nCrawl-delay: 3") == Some(3.0))
    // non-numeric and commented values are ignored; CR EOLs parse
    assert(delay("User-agent: *\rCrawl-delay: fast\rCrawl-delay: 4 # s\r") == Some(4.0))
    // no robots / no delay anywhere -> null
    assert(delay("User-agent: *\nDisallow:") == None)
    // GROUP-STRUCTURE AGREEMENT with robotsAllowed: a Crawl-delay line
    // closes agent a's header run in BOTH evaluators, so the following
    // 'User-agent: b' opens a fresh group and its Disallow does NOT bind a
    val txt = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /x"
    assert(delay(txt, agent = "a") == Some(5.0))
    assert(Seq(txt).toDF("r")
      .select(Web.robotsAllowed(col("r"), lit("/x/y"), "a")).head.getBoolean(0),
      "robotsAllowed merged the groups the crawl-delay evaluator split")
  }

  test("robotsSitemaps: case-insensitive, group-independent, CR EOLs, comments, blanks") {
    val txt = "User-agent: *\r\nDisallow: /tmp\r" + // CRLF and bare-CR EOLs
      "SITEMAP: https://a.com/s1.xml  \n" + // uppercase field, trailing WS
      "# sitemap: https://a.com/ignored.xml\n" + // whole-line comment
      "sitemap: https://a.com/s2.xml # news feed\n" + // trailing comment
      "Sitemap:\n" + // bare value drops
      "User-agent: bot\nsitemap: https://a.com/s3.xml" // inside another group
    val got = Seq(txt).toDF("r")
      .select(Web.robotsSitemaps(col("r"))).head.getSeq[String](0)
    assert(got == Seq("https://a.com/s1.xml", "https://a.com/s2.xml",
      "https://a.com/s3.xml"))
    // null / sitemap-less files → empty array
    assert(Seq[(Int, String)]((1, "User-agent: *\nAllow: /")).toDF("id", "r")
      .select(Web.robotsSitemaps(col("r"))).head.getSeq[String](0).isEmpty)
    assert(Seq[(Int, String)]((1, null)).toDF("id", "r")
      .select(Web.robotsSitemaps(col("r"))).head.getSeq[String](0).isEmpty)
  }

  test("robotsAllowed: tiers, longest-match, tie→allow, UA runs, comments, empty disallow") {
    val robots =
      """# crawl policy
        |User-agent: alphabot
        |User-agent: graftbot
        |Disallow: /private   # keep out
        |Allow: /private/ok
        |Disallow:
        |
        |User-agent: *
        |Disallow: /tmp""".stripMargin
    def allowed(path: String, agent: String = "GraftBot",
                txt: String = robots): Boolean =
      Seq((txt, path)).toDF("r", "p")
        .select(Web.robotsAllowed(col("r"), col("p"), agent)).head.getBoolean(0)
    assert(allowed("/public/x")) // no rule matches → allowed
    assert(!allowed("/private/doc")) // disallowed
    assert(allowed("/private/okfile")) // longer Allow beats shorter Disallow
    // the specific group exists, so the * group's /tmp rule does NOT apply
    assert(allowed("/tmp/x"))
    // an agent with no specific group falls through to *
    assert(!allowed("/tmp/x", agent = "otherbot"))
    assert(allowed("/public/x", agent = "otherbot"))
    // the multi-UA run covers alphabot too
    assert(!allowed("/private/doc", agent = "ALPHABOT"))
    // tie length → Allow wins (Google REP)
    val tie = "User-agent: *\nDisallow: /a/b\nAllow: /a/c"
    assert(!allowed("/a/b/x", txt = tie))
    val tie2 = "User-agent: *\nDisallow: /a/b\nAllow: /a/b"
    assert(allowed("/a/b/x", txt = tie2))
    // no robots / null robots → allowed
    assert(allowed("/anything", txt = ""))
    val nullAllowed = Seq((Option.empty[String], "/x")).toDF("r", "p")
      .select(Web.robotsAllowed(col("r"), col("p"), "graftbot")).head.getBoolean(0)
    assert(nullAllowed)
    // a comment/blank line INSIDE a User-agent header run does not break
    // it (RFC 9309: only rules close a header run) — pre-fix, alphabot
    // lost the group's rules while 'exists' still shadowed the * tier
    val runWithComment =
      "User-agent: alphabot\n# our bots\n\nUser-agent: graftbot\nDisallow: /private"
    assert(!allowed("/private/doc", agent = "alphabot", txt = runWithComment))
    assert(!allowed("/private/doc", txt = runWithComment))
    // bare-CR line endings (RFC 9309 EOL) must not glue the file into one
    // line and fail open
    assert(!allowed("/private/x", txt = "User-agent: *\rDisallow: /private"))
    assert(!allowed("/private/x", txt = "User-agent: *\r\nDisallow: /private"))
    // REP wildcards: '*' spans characters, trailing '$' anchors
    val wild = "User-agent: *\nDisallow: /*.pdf$\nDisallow: /a/*/private\n" +
      "Allow: /a/*/private/ok"
    assert(!allowed("/files/report.pdf", txt = wild))
    assert(allowed("/files/report.pdfx", txt = wild)) // $ anchored
    assert(!allowed("/a/anything/private/doc", txt = wild)) // mid-*
    assert(allowed("/a/x/private/okfile", txt = wild)) // longer wildcard Allow
    // an INTERIOR '$' is literal, and regex metachars in rules are literal
    assert(!allowed("/p$q/x", txt = "User-agent: *\nDisallow: /p$q"))
    assert(allowed("/pXq/x", txt = "User-agent: *\nDisallow: /p.q"))
    assert(!allowed("/p.q/x", txt = "User-agent: *\nDisallow: /p.q"))
    // HOSTILE wildcard rule + near-matching path: a regex translation
    // backtracks for 25+ s here (measured); the linear matcher must
    // answer instantly — both inputs are attacker-controlled crawl data
    val hostile = "User-agent: *\nDisallow: /" + ("*a" * 24) + "$"
    val longPath = "/" + "a" * 60 + "b"
    val t0 = System.nanoTime()
    assert(allowed(longPath, txt = hostile)) // 'b' breaks the $ anchor
    assert(!allowed("/" + "a" * 60, txt = hostile))
    assert((System.nanoTime() - t0) / 1e9 < 5.0,
      "wildcard matching is not linear-time")
  }

  test("extractSitemapLocs: CDATA-wrapped locs unwrap, content NOT entity-decoded") {
    import graft.functions.Html
    val xml = "<urlset><url><loc><![CDATA[https://ex.com/a?x=1&amp;y=2]]></loc></url>" +
      "<url><loc>https://ex.com/b?p=1&amp;q=2</loc></url></urlset>"
    val locs = Seq(xml).toDF("x")
      .select(Html.extractSitemapLocs(col("x"))).head.getSeq[String](0)
    // CDATA content is literal (the &amp; stays); plain text decodes
    assert(locs == Seq("https://ex.com/a?x=1&amp;y=2", "https://ex.com/b?p=1&q=2"))
  }

  test("urlFrontier: normalize, fetchable-only, batch dedup, seen screen — both join paths") {
    val seen = Seq("https://a.com/x", "http://b.com/y").toDF("url_norm")
    val links = Seq(
      "https://A.com/x?utm_source=f", // alias of seen → screened
      "https://a.com/x#frag", // another alias of seen → screened
      "https://new.org/p", // genuinely new
      "https://new.org/p/", // trailing-slash alias of the new one → 1 row
      "mailto:bob@a.com", // not fetchable
      "javascript:void(0)", // not fetchable
      "ftp://files.a.com/f", // normalizes fine but isn't http(s)
      "http:///nohost?a=1", // authority-less malformation — no parsed host
      "HTTP:///nohost", // same malformation, uppercase — same verdict
      "/relative/unresolved" // still-relative href (resolveUrl not applied)
    ).toDF("url")
    val expected = Seq("https://new.org/p")
    val bc = Web.urlFrontier(seen, links)
      .collect().map(_.getString(0)).toSeq.sorted
    val sh = Web.urlFrontier(seen, links, broadcastBatch = false)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(bc == expected && sh == expected, s"bc=$bc sh=$sh")
  }

  test("registeredDomain: bound-labels form handles nulls, IPs, PSL tiers (spot set)") {
    // the binding refactor must not change a single verdict — spot-check
    // the tier boundary cases next to WebSpec's full table
    val cases = Seq(
      ("news.bbc.co.uk", "bbc.co.uk"),
      ("a.b.example.com", "example.com"),
      ("localhost", "localhost"),
      ("127.0.0.1", "127.0.0.1"),
      ("[2001:db8::1]", "[2001:db8::1]"),
      (null, null))
    val got = cases.map(_._1).toDF("h")
      .select(Web.registeredDomain(col("h")).as("d"))
      .collect().map(r => Option(r.getString(0)).orNull).toSeq
    assert(got == cases.map(_._2), got.toString)
  }
}
