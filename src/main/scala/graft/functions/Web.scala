package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL / domain curation for web-scale corpus pipelines (the RefinedWeb /
  * CCNet preprocessing family): URL canonicalization, registered-domain
  * extraction, and per-domain quota sampling. Everything here is a pure
  * codegen-friendly Column expression or a bounded-shuffle DataFrame op —
  * scan-shaped at 100 TB except the quota's single domain-keyed shuffle.
  *
  * URL dedup composition: `urlNormalize` collapses the crawl-side aliasing
  * (tracking params, casing, default ports, fragments) so a plain
  * [[Dedup.exact]]-style groupBy on the normalized URL becomes the
  * first-stage web dedup; `registeredDomain` + [[Web.domainQuota]] bound
  * any single site's contribution to the training mix. */
object Web {

  /** Query parameters dropped by [[urlNormalize]]: click/campaign trackers
    * that vary per crawl visit without changing the fetched content — the
    * dominant source of spurious URL-level "uniqueness" in web corpora. */
  val trackingParamPattern = "^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=|$)"

  /** Canonicalize an absolute http(s) URL (pure string expressions, stays
    * in whole-stage codegen; no UDF, no java.net.URL object per row):
    * lowercase scheme and host, strip userinfo and the scheme's default
    * port (:80 / :443), collapse trailing slashes on the path, drop the
    * fragment, drop tracking params ([[trackingParamPattern]]), sort the
    * surviving query params. Two crawl records of the same resource
    * normalize to byte-identical strings — the key for exact URL dedup.
    * Rows that don't parse as scheme://… pass through unchanged.
    *
    * Bracketed IPv6 authorities (`http://[::1]:8080/x`) are safe by
    * construction: the default-port regexes anchor on `:NN$`, and inside
    * `[2001:db8::1]` every colon group is followed by the closing `]`, so
    * only a real `]:80`/`]:443` suffix can match — the brackets stay in
    * the normalized URL (RFC 3986 requires them in the authority). */
  def urlNormalize(u: Column): Column = {
    // NOTE (r17): a substring_index/locate/substr rewrite of these flat
    // anchored regexes (and of urlHost/resolveUrl) was built, proven
    // value-identical over an adversarial corpus, measured, and REVERTED:
    // the plain-projection noop pass went 0.28 → 2.07 s at sf0.1 (7×) and
    // construction analysis ~4×. The flat regex form is one cheap anchored
    // match per component over a CSE-shared `base`; a string-scan form
    // nests each component's derivation inside the next, and codegen CSE
    // does not dedupe under conditional branches (nor does interpreted HOF
    // eval at all), so the evaluated expression count grows combinatorially.
    // Any future rewrite must bind intermediates (lambda-variable idiom) or
    // stay flat — and must first re-run the A/B of OPTIMIZATION_r17.md §B.
    val base = regexp_extract(u, "^[^#]*", 0) // fragment gone
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport0 = lower(regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val hostport = regexp_replace(hostport0, "^[^@]*@", "") // userinfo
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path0 = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val path = when(regexp_replace(path0, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(path0, "/+$", ""))
    val query = regexp_extract(base, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => length(p) > 0 && !p.rlike(trackingParamPattern))
    val qs = array_join(array_sort(params), "&")
    val norm = concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
    // empty host ⇒ pass through too: authority-less URLs (file:///a/b,
    // malformed http:///x) fail the host regex, and normalizing them all
    // to 'scheme:///' would collapse DISTINCT resources into one dedup key
    when(scheme === "" || host === "", u).otherwise(norm)
  }

  /** Lowercased host of an absolute URL (userinfo, port, and IPv6 brackets
    * stripped) — the grouping key for host-level stats and blocklists.
    * Order matters for bracketed IPv6 literals: the port is stripped FIRST
    * (while the trailing `]` still guards the address — `:[0-9]+$` cannot
    * reach inside `[2001:db8::1]`), THEN the brackets come off, so
    * `http://[::1]:8080/x` → `::1` and `https://[2001:db8::1]/` →
    * `2001:db8::1`. Stripping brackets first would expose the final hex
    * group (`…::1`) to the port regex. */
  def urlHost(u: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
          "^[^@]*@", ""),
        ":[0-9]+$", ""),
      "^\\[(.*)\\]$", "$1")

  /** Multi-label public suffixes recognized by the NO-DATA FALLBACK of
    * [[registeredDomain]] — the high-traffic subset used only when the
    * [[PublicSuffixList]] fixture is absent from the classpath. */
  val multiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "gov.uk", "ac.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.in", "co.nz", "com.br", "com.cn",
    "com.mx", "com.sg", "co.kr", "com.tr", "com.ar")

  /** Registered domain (eTLD+1) of a host: `news.bbc.co.uk` → `bbc.co.uk`,
    * `a.b.example.com` → `example.com`, `alice.github.io` →
    * `alice.github.io` (private-section suffix — one registrant per
    * subdomain). The unit of per-site quotas — host-level grouping splits
    * one site into thousands of subdomains and defeats the cap, while a
    * too-coarse suffix table (no `github.io`, no `*.ck`) collapses
    * thousands of registrants into one pseudo-domain.
    *
    * Rules come from the [[PublicSuffixList]] fixture (full PSL grammar:
    * longest match, wildcard `*.x`, exception `!y.x`), folded at PLAN TIME
    * into pure array/set-membership Column expressions — each suffix
    * length is one `isin` over a literal set, which Catalyst converts to
    * an O(1) hash-set probe (`InSet`) shipped with the plan. No UDF, no
    * join, no per-row allocation: the lookup rides whole-stage codegen at
    * scan speed, the Column-expression equivalent of a broadcast lookup.
    * IP literals (IPv6 — with or without brackets — and dotted IPv4) pass
    * through unchanged: they have no registrable suffix, and splitting
    * them on dots would manufacture garbage pseudo-domains. Hosts AT or
    * below their public suffix (`github.io`, `bar.ck`, `localhost`) fall
    * back to the host itself. When the fixture is missing, degrades to
    * the built-in [[multiPartSuffixes]] subset. */
  def registeredDomain(host: Column): Column = {
    val ipLiteral = host.rlike("^\\[.*\\]$") || host.contains(":") ||
      host.rlike("^[0-9.]+$")
    // the label array is BOUND once as a lambda variable (the 1-element-
    // array transform idiom): every per-length suffix probe below slices
    // the SAME array instead of re-running the regex split. This matters
    // because the whole subtree evaluates INTERPRETED wherever it sits
    // inside a HOF lambda (every [[registeredDomainOf]] /
    // [[graft.functions.Graph.linkGraph]] call site) — interpreted eval has
    // no common-subexpression elimination, so the unbound form re-split the
    // host ~once per candidate suffix length (binding it measured the whole
    // linkGraph extraction 2.30 → 1.42 s at sf0.1, r17; codegen'd plain
    // projections already dedupe the copies and are unaffected).
    val domain = element_at(transform(array(split(host, "\\.")), labels =>
      PublicSuffixList.loaded match {
        case Some(rules) => registeredDomainPsl(host, labels, rules)
        case None => registeredDomainSubset(host, labels)
      }), 1)
    when(ipLiteral, host).otherwise(domain)
  }

  /** The PSL-driven eTLD+1 as a pure Column expression. Longest-match over
    * per-length candidate sets: for each rule length k, `lastK(k)` (the
    * host's last k labels) probes the k-label exact set, and `lastK(k-1)`
    * probes the wildcard bases; the public-suffix length is the greatest
    * matching k (implicit `*` rule ⇒ at least 1). Exceptions override:
    * a matching exception rule IS the registered domain (its own leftmost
    * label is the registrant's). */
  private[graft] def registeredDomainPsl(host: Column, labels: Column,
                                         rules: PublicSuffixList.Rules): Column = {
    val n = size(labels)
    // last-k labels re-joined. slice with a negative start counts from the
    // end and yields an EMPTY array when k exceeds the label count (no ANSI
    // throw, unlike element_at), so the isin probes below are safe even
    // for single-label hosts; the n >= k guards make the semantics explicit
    def lastK(k: Int): Column = array_join(slice(labels, -k, k), ".")
    val exactCands = rules.exactByLen.toSeq.map { case (k, set) =>
      when(n >= k && lastK(k).isin(set.toSeq: _*), lit(k)).otherwise(lit(0))
    }
    val wildCands = rules.wildcardBasesByLen.toSeq.map { case (bk, set) =>
      when(n >= bk + 1 && lastK(bk).isin(set.toSeq: _*), lit(bk + 1))
        .otherwise(lit(0))
    }
    // greatest() demands >= 2 args: an exceptions-only PSL file (legal —
    // passes PublicSuffixList.loaded's non-empty guard) yields no exact or
    // wildcard candidates, so the implicit-'*' floor needs a companion
    val allCands = exactCands ++ wildCands
    val psLen =
      if (allCands.isEmpty) lit(1) else greatest(allCands :+ lit(1): _*)
    // more-specific (longer) exceptions first
    val excCols = rules.exceptionsByLen.toSeq.sortBy(-_._1).map { case (k, set) =>
      when(n >= k && lastK(k).isin(set.toSeq: _*), lastK(k))
    }
    val regLen = psLen + lit(1)
    val reg = when(n >= regLen, array_join(slice(labels, -regLen, regLen), "."))
      .otherwise(host)
    coalesce(excCols :+ reg: _*)
  }

  /** The no-data fallback: bare TLD + [[multiPartSuffixes]] handling only. */
  private def registeredDomainSubset(host: Column, labels: Column): Column = {
    val n = size(labels)
    // try_element_at, not element_at: under ANSI mode (Spark 4 default) an
    // out-of-range index THROWS, and CaseWhen evaluates the first branch's
    // condition — which references these — even for single-label hosts
    // (localhost, intranet names) where -2/-3 are out of range
    val last2 = concat_ws(".",
      try_element_at(labels, lit(-2)), try_element_at(labels, lit(-1)))
    when(n >= 3 && last2.isin(multiPartSuffixes: _*),
        concat_ws(".", try_element_at(labels, lit(-3)), last2))
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** The canonical-first URL dedup key (one definition for the batch
    * recipe [[Curation.crawlIngest]] and the streaming intake
    * [[graft.streaming.Streaming.crawlIngestStream]]): the page's declared
    * canonical wins when it is an ABSOLUTE URL (a relative `/home`
    * canonical would collide across sites), falling back to the crawl
    * URL; EITHER branch is [[urlNormalize]]d so differently-cased/
    * parameterized aliases still collapse; when both are missing — null
    * OR blank (crawl logs ingested via CSV encode missing URLs as '',
    * which urlNormalize would pass through, collapsing every such page
    * onto one '' key) — the row self-keys on `selfKey` (never deduped,
    * never dropped — the row-loss guard). Pass [[graft.functions.Html
    * .extractCanonical]]'s output (already entity-decoded) as
    * `canonical`. */
  def canonicalUrlKey(url: Column, canonical: Column, selfKey: Column): Column =
    coalesce(
      urlNormalize(coalesce(
        when(canonical.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), canonical),
        nullif(trim(url), lit("")))),
      concat(lit("__nokey__:"), selfKey.cast("string")))

  /** RFC 3986 §5.2.4 remove_dot_segments as a pure Column fold: `.`
    * segments drop, `..` pops the previous segment (a `..` above the
    * root is a no-op — the pop on an empty stack, per the RFC), and the
    * directory form survives (a path ending in `/`, `/.` or `/..` keeps
    * its trailing slash, because resolving AGAINST it later needs the
    * directory semantics). One `aggregate` pass over the segments; no
    * UDF, no driver round-trip. */
  def removeDotSegments(path: Column): Column = {
    val absolute = path.startsWith("/")
    // EMPTY segments are stack entries too (only the leading one from the
    // root slash drops): '/a//b/../x' resolves to '/a//x' per the RFC —
    // '..' pops the empty segment — and a trailing empty segment IS the
    // trailing slash, so directory forms self-preserve. limit -1 keeps
    // split's trailing empties.
    val segs0 = split(path, "/", -1)
    val segs = when(absolute,
      slice(segs0, lit(2), greatest(size(segs0) - 1, lit(0))))
      .otherwise(segs0)
    val folded = aggregate(segs,
      array().cast("array<string>"),
      (acc, s) => when(s === ".", acc)
        .when(s === "..", slice(acc, lit(1), greatest(size(acc) - 1, lit(0))))
        .otherwise(concat(acc, array(s))))
    val joined = when(absolute, concat(lit("/"), array_join(folded, "/")))
      .otherwise(array_join(folded, "/"))
    // a path ENDING in /. or /.. still denotes its directory
    val dirForm = path.rlike("/\\.\\.?$")
    when(dirForm && !joined.endsWith("/"), concat(joined, lit("/")))
      .otherwise(joined)
  }

  /** Apply [[removeDotSegments]] to the PATH of an absolute URL, leaving
    * origin, query, and fragment untouched. */
  private def normalizeDotSegments(u: Column): Column = {
    val origin = regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val qf = regexp_extract(u, "([?#].*)$", 1)
    // only pay the fold where a dot segment can exist
    when(path.rlike("(^|/)\\.\\.?(/|$)"),
        concat(origin, removeDotSegments(path), qf))
      .otherwise(u)
  }

  /** Resolve an href against its page's base URL (the RFC 3986 cases
    * real markup uses): absolute hrefs (any scheme — mailto:, https:)
    * pass through AS WRITTEN; protocol-relative `//host/p` takes the
    * base's scheme; root-relative `/p` takes the base's origin;
    * fragment-only / empty hrefs are the page itself; query-only
    * `?page=2` keeps the full base path (§5.3); anything else joins the
    * base path's directory. Dot-segments in the RESOLVED branches
    * (`../up`, `./same`, `//host/a/../b`) collapse per §5.2.4
    * ([[removeDotSegments]]) — the dominant relative-link form real
    * markup emits. Pure Column expressions; the standard prelude to
    * [[urlFrontier]], which only eats absolute URLs:
    * `links.select(resolveUrl(col("page_url"), col("href")).as("url"))`. */
  def resolveUrl(base: Column, href: Column): Column = {
    val scheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val origin = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1)
    val beforeQf = regexp_extract(base, "^([^?#]*)", 1)
    // base with no path ('https://a.com'): '/[^/]*$' would eat into '//'
    val dir = when(beforeQf === origin, concat(origin, lit("/")))
      .otherwise(regexp_replace(beforeQf, "/[^/]*$", "/"))
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
      .when(href.startsWith("//"),
        normalizeDotSegments(concat(scheme, lit(":"), href)))
      .when(href.startsWith("/"), normalizeDotSegments(concat(origin, href)))
      .when(href === "" || href.startsWith("#"), base)
      // query-only reference (href="?page=2" — the common pagination form)
      // keeps the FULL base path per RFC 3986 §5.3, not the directory join
      .when(href.startsWith("?"), concat(beforeQf, href))
      .otherwise(normalizeDotSegments(concat(dir, href)))
  }

  /** Steady-state crawl-frontier screen — the URL analog of
    * [[Dedup.incrementalExactKeys]], closing the crawl loop
    * (ingest → [[graft.functions.Html.extractLinks]] → [[resolveUrl]] →
    * frontier → fetch): candidate out-links are [[urlNormalize]]d,
    * restricted to WELL-FORMED http(s) URLs (mailto:/javascript:/
    * fragment links aren't fetchable; still-relative hrefs and
    * authority-less malformations like `http:///x` don't normalize to a
    * parsed host and drop with them — resolve relative links against
    * their page first), deduped within the batch, and screened against
    * the stored seen-URL table — out come only the normalized URLs the
    * crawler has never fetched. The seen table must expose `url_norm`
    * (store the frontier's own output — maintenance is the usual append
    * recipe `seen union frontier`, which keeps that invariant).
    *
    * Scale shape = [[Dedup.screenAnti]] (one shared definition): the
    * batch (one crawl round's out-links) is tiny next to a multi-billion-
    * row seen table, so with `broadcastBatch` (default) the seen table is
    * SCANNED once with in-task hash probes and nothing seen-table-sized
    * ever shuffles; set it false for batch-vs-batch scale. */
  def urlFrontier(seenUrls: DataFrame, links: DataFrame,
                  urlCol: String = "url",
                  broadcastBatch: Boolean = true): DataFrame = {
    val batch = links.select(urlNormalize(col(urlCol)).as("url_norm"))
      .filter(col("url_norm").rlike("^https?://") &&
        urlHost(col("url_norm")) =!= "")
      .distinct()
    Dedup.screenAnti(seenUrls, batch, "url_norm", broadcastBatch)
  }

  /** The single shared fold behind [[robotsAllowed]]: one pass over the
    * robots.txt lines tracking BOTH tiers at once (specific agent + `*`)
    * — a per-tier fold referenced from the final expression would inline
    * and re-evaluate the whole chain per reference (the measured-10×
    * anti-pattern the Dedup HOF docs record) — finishing directly to the
    * verdict boolean via aggregate's 4-arg finish lambda, so the fold
    * evaluates exactly once per row. Per RFC 9309 / Google's parser, a
    * group-header run of consecutive `User-agent:` lines survives blank
    * and comment lines; only RULE lines close it (a later UA line then
    * starts a fresh group). */
  private def robotsVerdict(lines: Column, path: Column,
                            agentTok: Column): Column =
    aggregate(lines,
      struct(lit(false).as("inUa"),
        lit(false).as("sActive"), lit(false).as("sExists"),
        lit(-1).as("sAllow"), lit(-1).as("sDis"),
        lit(false).as("gActive"), lit(-1).as("gAllow"), lit(-1).as("gDis")),
      (st, line) => {
        val low = lower(line)
        val isUa = low.rlike("^user-agent[ \\t]*:")
        val uaVal = regexp_extract(low, "^user-agent[ \\t]*:[ \\t]*([^ \\t]*)", 1)
        val isAllow = low.rlike("^allow[ \\t]*:")
        val isDis = low.rlike("^disallow[ \\t]*:")
        // header runs persist through blanks/comments; RULE records close
        // them — including crawl-delay, which belongs to a group in every
        // parser that honors it: [[robotsCrawlDelay]] uses the same closer
        // set, so both evaluators assign identical group structure to one
        // file (a crawler consults both; disagreeing groups would over-
        // block one function and mis-pace the other)
        val isDelay = low.rlike("^crawl-delay[ \\t]*:")
        val inUa2 = isUa || (st("inUa") && !isAllow && !isDis && !isDelay)
        def tierActive(active: Column, matches: Column): Column =
          when(isUa, when(st("inUa"), active || matches).otherwise(matches))
            .otherwise(active)
        val mS = uaVal === agentTok
        val mG = uaVal === "*"
        val sActive2 = tierActive(st("sActive"), mS)
        val gActive2 = tierActive(st("gActive"), mG)
        // values keep the ORIGINAL case — rule paths are case-sensitive
        val allowVal = regexp_extract(line, "(?i)^allow[ \\t]*:[ \\t]*([^ \\t]*)", 1)
        val disVal = regexp_extract(line, "(?i)^disallow[ \\t]*:[ \\t]*([^ \\t]*)", 1)
        def best(cur: Column, active: Column, isRule: Column, v: Column): Column =
          when(isRule && active && v =!= "" && robotsRuleMatches(path, v),
            greatest(cur, length(v))).otherwise(cur)
        struct(inUa2.as("inUa"),
          sActive2.as("sActive"),
          (st("sExists") || (isUa && mS)).as("sExists"),
          best(st("sAllow"), sActive2, isAllow, allowVal).as("sAllow"),
          best(st("sDis"), sActive2, isDis, disVal).as("sDis"),
          gActive2.as("gActive"),
          best(st("gAllow"), gActive2, isAllow, allowVal).as("gAllow"),
          best(st("gDis"), gActive2, isDis, disVal).as("gDis"))
      },
      st => when(st("sExists"), st("sAllow") >= st("sDis"))
        .otherwise(st("gAllow") >= st("gDis")))

  /** One robots rule path against the request path, full Google-REP
    * matching: plain rules are prefixes; `*` matches any character run;
    * a TRAILING `$` anchors the rule at the path end (an interior `$`
    * is literal, per Google's parser). Wildcard rules run through the
    * LINEAR two-pointer glob matcher ([[RobotsRuleMatch]]) — a regex
    * translation backtracks catastrophically on hostile rules (a
    * 24-star rule vs a 61-char path hangs java.util.regex for 25+ s,
    * measured), and BOTH inputs here are attacker-controlled crawl
    * data. Google's reference matcher is linear for the same reason.
    * Plain rules keep the cheap startsWith path. */
  private def robotsRuleMatches(path: Column, v: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    when(v.contains("*") || v.endsWith("$"),
        ColumnBridge.column(RobotsRuleMatch(
          ColumnBridge.expression(path), ColumnBridge.expression(v))))
      .otherwise(path.startsWith(v))
  }

  /** robots.txt evaluation (the Robots Exclusion Protocol as crawl
    * compliance needs it): does `robotsTxt` allow `agent` to fetch
    * `path`? Google-REP semantics: groups are runs of consecutive
    * `User-agent:` lines followed by their rules; the group exactly
    * naming the agent (case-insensitive) applies when one exists,
    * otherwise the `*` group; within the applicable groups the LONGEST
    * matching rule path wins, Allow beats Disallow on a tie; no matching
    * rule (or no robots.txt) → allowed. Comments (`#`) strip;
    * `Disallow:` with an empty value disallows nothing. Rule paths match
    * with full REP wildcards ([[robotsRuleMatches]]): `*` spans any
    * characters, trailing `$` anchors at the path end.
    *
    * One fold over the lines per tier (specific agent + `*`), pure
    * Column expressions — per-row robots files are small (the fetcher
    * caches one per host), so the fold is cheap and the op composes with
    * [[urlFrontier]]: screen the frontier, join each URL's host robots,
    * filter on `robotsAllowed`. */
  def robotsAllowed(robotsTxt: Column, path: Column, agent: String): Column = {
    require(agent.nonEmpty && !agent.contains("\n"), s"not an agent token: $agent")
    // RFC 9309 EOL is CRLF, bare LF, or bare CR — splitting on \n alone
    // would glue a CR-only file into one line and fail OPEN (every rule
    // silently dropped); Locale.ROOT, not default-locale toLowerCase
    // (the Turkish-I trap — the line side uses Spark's locale-free lower)
    val lines = transform(
      split(coalesce(robotsTxt, lit("")), "\\r\\n|\\r|\\n"),
      l => regexp_replace(regexp_replace(l, "#.*", ""),
        "^[ \\t\\f]+|[ \\t\\f]+$", ""))
    robotsVerdict(lines, path,
      lit(agent.toLowerCase(java.util.Locale.ROOT)))
  }

  /** `registeredDomain(urlHost(url))` with the host HOF-BOUND through a
    * 1-element-array transform — the SURVEY §9 cliff-#4 idiom, held in ONE
    * place: [[registeredDomain]] references its host argument once per
    * PSL length probe, and a plain composition lets CollapseProject inline
    * [[urlHost]]'s regexp chain into every probe (measured ~20× on
    * linkGraph). Use THIS whenever deriving a domain column straight from
    * a URL column. */
  def registeredDomainOf(url: Column): Column =
    element_at(transform(
      transform(array(url), u => urlHost(u)),
      h => registeredDomain(h)), 1)

  /** Crawler-trap predicate: does `url` match ANY of the OPERATOR-authored
    * exclusion regexes? The standard frontier hygiene list — calendar
    * pages, faceted-search permutations, session-id paths, infinite
    * pagination — that otherwise eats a crawl budget on one site's
    * combinatorial URL space. Patterns are configuration (not crawl data),
    * so plain `rlike` is safe here — contrast [[robotsRuleMatches]], where
    * BOTH inputs are attacker-controlled and a regex path would backtrack.
    * A null url yields a null predicate, so `filter(!urlTrapped(…))` drops
    * it — the frontier's well-formedness screen would anyway. */
  def urlTrapped(url: Column, patterns: Seq[String]): Column =
    patterns.foldLeft(lit(false))((acc, p) => acc || url.rlike(p))

  /** `Crawl-delay` (seconds) a robots.txt requests of `agent`, or null
    * when none applies — not in RFC 9309 but honored by Bing/Yandex-class
    * crawlers and ubiquitous in the wild, and a POLITE fetcher fleet wants
    * it next to [[frontierSchedule]]'s per-round slots (rounds bound
    * concurrency; the delay paces consecutive rounds per host). Group
    * semantics mirror [[robotsAllowed]]: the group exactly naming the
    * agent applies when one exists (its missing delay means NO delay — no
    * fallback to `*`, one group governs a crawler), otherwise the `*`
    * group; within a group the LAST delay line wins (later lines
    * override); non-numeric values are ignored; same comment/EOL/header-
    * run line discipline, one aggregate fold per row. */
  def robotsCrawlDelay(robotsTxt: Column, agent: String): Column = {
    require(agent.nonEmpty && !agent.contains("\n"), s"not an agent token: $agent")
    val lines = transform(
      split(coalesce(robotsTxt, lit("")), "\\r\\n|\\r|\\n"),
      l => regexp_replace(regexp_replace(l, "#.*", ""),
        "^[ \\t\\f]+|[ \\t\\f]+$", ""))
    val agentTok = lit(agent.toLowerCase(java.util.Locale.ROOT))
    val noDelay = lit(null).cast("double")
    aggregate(lines,
      struct(lit(false).as("inUa"),
        lit(false).as("sActive"), lit(false).as("sExists"),
        noDelay.as("sDelay"),
        lit(false).as("gActive"), noDelay.as("gDelay")),
      (st, line) => {
        val low = lower(line)
        val isUa = low.rlike("^user-agent[ \\t]*:")
        val uaVal = regexp_extract(low, "^user-agent[ \\t]*:[ \\t]*([^ \\t]*)", 1)
        val isDelay = low.rlike("^crawl-delay[ \\t]*:")
        // any rule record closes a User-agent header run (the
        // robotsVerdict discipline, with crawl-delay as a closer too)
        val isRule = low.rlike("^(allow|disallow|crawl-delay)[ \\t]*:")
        val inUa2 = isUa || (st("inUa") && !isRule)
        def tierActive(active: Column, matches: Column): Column =
          when(isUa, when(st("inUa"), active || matches).otherwise(matches))
            .otherwise(active)
        val sActive2 = tierActive(st("sActive"), uaVal === agentTok)
        val gActive2 = tierActive(st("gActive"), uaVal === "*")
        // no-match extracts '' — null it BEFORE the cast (ANSI mode throws
        // on cast('' as double); the matched alternative is always numeric)
        val dStr = regexp_extract(low,
          "^crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)[ \\t]*$", 1)
        val dVal = when(dStr =!= "", dStr).cast("double")
        def upd(cur: Column, active: Column): Column =
          when(isDelay && active && dVal.isNotNull, dVal).otherwise(cur)
        struct(inUa2.as("inUa"),
          sActive2.as("sActive"),
          (st("sExists") || (isUa && uaVal === agentTok)).as("sExists"),
          upd(st("sDelay"), sActive2).as("sDelay"),
          gActive2.as("gActive"),
          upd(st("gDelay"), gActive2).as("gDelay"))
      },
      st => when(st("sExists"), st("sDelay")).otherwise(st("gDelay")))
  }

  /** `Sitemap:` URLs declared in a robots.txt, in file order, as
    * `array<string>` — RFC 9309 §2.2.4's "other records": the field is
    * case-insensitive, group-independent (valid anywhere in the file, not
    * tied to a User-agent tier), may repeat, and its value is an absolute
    * URL. This is how a crawler DISCOVERS a site's sitemaps — the output
    * feeds [[graft.functions.Html.extractSitemapLocs]] after fetch, whose
    * locs then feed [[urlFrontier]]: robots → sitemap → frontier, the
    * standard seeding path. Same line discipline as [[robotsAllowed]]
    * (CRLF/CR/LF EOLs, `#` comments stripped, ends trimmed); blank values
    * (a bare `Sitemap:` line) drop. Pure codegen Column chain. */
  def robotsSitemaps(robotsTxt: Column): Column =
    filter(
      transform(
        regexp_extract_all(coalesce(robotsTxt, lit("")),
          lit("(?im)^[ \\t\\f]*sitemap[ \\t\\f]*:([^#\\r\\n]*)"), lit(1)),
        v => regexp_replace(v, "^[ \\t\\f]+|[ \\t\\f]+$", "")),
      v => v =!= "")

  /** Path+query of an absolute URL ('/' when empty) — the string
    * robots.txt rules match against (REP matches the path-with-query). */
  def urlPathQuery(u: Column): Column = {
    val p = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    when(p === "", lit("/")).otherwise(p)
  }

  /** The complete frontier plan — one recipe closing the crawl loop from
    * a batch of extracted out-links to a politely-scheduled fetch list:
    *
    *  1. [[resolveUrl]] each href against its page (RFC 3986, dot
    *     segments collapsed);
    *  2. [[urlFrontier]]: normalize, keep well-formed http(s), dedup the
    *     batch, screen against the stored seen table (one corpus scan,
    *     broadcast batch probe);
    *  3. robots compliance: left-join the per-domain robots cache (one
    *     row per registered domain — realistic caches broadcast; pass
    *     `broadcast(robots)` to force it) and keep URLs
    *     [[robotsAllowed]] permits — a domain with NO cached robots.txt
    *     is allowed, the REP fail-open rule;
    *  4. [[frontierSchedule]]: per-domain politeness slots and rounds.
    *
    * Output: (url_norm, domain, slot, fetch_round). Every stage is the
    * already-proven operator — this is composition, not new semantics. */
  def crawlFrontierPlan(links: DataFrame, seenUrls: DataFrame,
                        robots: DataFrame, agent: String,
                        perHostSlots: Int,
                        pageUrlCol: String = "page_url",
                        hrefCol: String = "href",
                        robotsDomainCol: String = "domain",
                        robotsTxtCol: String = "robots_txt",
                        broadcastBatch: Boolean = true,
                        salts: Int = 16,
                        excludePatterns: Seq[String] = Nil): DataFrame = {
    val resolved0 = links.select(
      resolveUrl(col(pageUrlCol), col(hrefCol)).as("url"))
    // trap screen directly after resolution — BEFORE the seen-table
    // anti-join, so trap URLs never cost a probe against the stored set.
    // Patterns match the NORMALIZED form (operators write them against
    // the frontier's own url_norm output — a raw 'HTTPS://Example.COM/…'
    // alias must not slip a lowercase-host pattern); the frontier
    // re-normalizes internally, and the doubled normalize is cheap next
    // to a wasted fetch
    val resolved =
      if (excludePatterns.isEmpty) resolved0
      else resolved0.filter(
        !urlTrapped(urlNormalize(col("url")), excludePatterns))
    val fresh = urlFrontier(seenUrls, resolved, "url", broadcastBatch)
    val dom = fresh.withColumn("domain",
      registeredDomain(urlHost(col("url_norm"))))
    val allowed = dom
      .join(robots.select(col(robotsDomainCol).as("domain"),
        col(robotsTxtCol)), Seq("domain"), "left")
      .filter(robotsAllowed(coalesce(col(robotsTxtCol), lit("")),
        urlPathQuery(col("url_norm")), agent))
      .drop(robotsTxtCol)
    frontierSchedule(allowed, perHostSlots, "url_norm", salts)
  }

  /** Frontier politeness scheduling — the last stage of the crawl loop
    * (discover → screen → SCHEDULE → fetch): assign every frontier URL a
    * `(slot, fetch_round)` such that one fetch round touches a registered
    * domain on at most `perHostSlots` concurrent connections, however
    * skewed the frontier is toward one site. Output = input + `domain`,
    * `slot` (0-based connection slot), `fetch_round` (1-based): round r =
    * all rows with `fetch_round = r`, and within a round a domain appears
    * AT MOST ONCE PER SLOT — the politeness invariant.
    *
    * Construction (deterministic, engine-replayable — both hashes are
    * [[PortableHash]] components, so a SQL oracle can restate the whole
    * assignment): `slot = h1(url) % perHostSlots` spreads a domain's URLs
    * across its connection slots; within `(domain, slot)` a SALTED
    * two-stage sequence (the [[domainQuota]] skew shape) numbers the
    * queue: `salt = h2(url) % salts`, local rank within
    * `(domain, slot, salt)`, `fetch_round = (rank-1)·salts + salt + 1`.
    * `(rank, salt)` is a bijection into distinct rounds, so the
    * one-per-slot-per-round invariant holds by construction, and the
    * per-task sort is bounded by |domain| / (slots·salts) — a mega-host
    * (the pinterest/youtube frontier problem) never sorts in one task.
    * Round numbers are sparse where salt sub-buckets are uneven (a
    * scheduling no-op: empty rounds cost nothing), dense ≈ |bucket| when
    * the hash spreads evenly. */
  def frontierSchedule(frontier: DataFrame, perHostSlots: Int,
                       urlCol: String = "url_norm",
                       salts: Int = 16): DataFrame = {
    require(perHostSlots >= 1, "perHostSlots must be >= 1")
    require(salts >= 1, "salts must be >= 1")
    val (h1, h2) = PortableHash.pair(col(urlCol))
    val w = Window.partitionBy(col("domain"), col("slot"), col("__salt"))
      .orderBy(col(urlCol))
    // reuse a caller-provided domain column: registeredDomain is a large
    // PSL expression tree, and [[crawlFrontierPlan]] already computed it
    // for the robots join — recomputing per row would double that cost
    val withDomain =
      if (frontier.columns.contains("domain")) frontier
      else frontier.withColumn("domain",
        registeredDomain(urlHost(col(urlCol))))
    withDomain
      .withColumn("slot", pmod(h1, lit(perHostSlots)).cast("int"))
      .withColumn("__salt", pmod(h2, lit(salts)).cast("int"))
      .withColumn("fetch_round",
        ((row_number().over(w) - 1) * salts + col("__salt") + 1).cast("int"))
      .drop("__salt")
  }

  /** Per-domain quota: keep at most `cap` rows per `domainCol`, the best
    * first by (`scoreCol` desc, `idCol` asc) — bounding any single site's
    * share of the training mix regardless of how much of it the crawl
    * fetched. Output = input + `domain_rank` (1-based within the kept
    * rows), rows beyond the cap dropped.
    *
    * Skew-safe at 100 TB: a naive window row_number sorts EVERY row of a
    * domain in one task — a mega-domain (pinterest, youtube) becomes one
    * task sorting billions of rows. Two-stage rank instead: stage 1 ranks
    * within (domain, salt) — `salts` tasks share the hot domain, each
    * keeping its local top-`cap` — stage 2 ranks the ≤ salts·cap
    * survivors per domain. The global top-cap is a subset of the per-salt
    * top-caps (any row in the true top-cap is in its own salt's top-cap),
    * so the result is exactly the single-stage answer with per-task sort
    * memory bounded by salts·cap rows per domain. */
  def domainQuota(docs: DataFrame, cap: Int, domainCol: String = "domain",
                  scoreCol: String = "score", idCol: String = "doc_id",
                  salts: Int = 16): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    val salted = Window
      .partitionBy(col(domainCol), pmod(xxhash64(col(idCol)), lit(salts)))
      .orderBy(order: _*)
    val perDomain = Window.partitionBy(col(domainCol)).orderBy(order: _*)
    docs
      .withColumn("__salt_rank", row_number().over(salted))
      .filter(col("__salt_rank") <= cap)
      .drop("__salt_rank")
      .withColumn("domain_rank", row_number().over(perDomain))
      .filter(col("domain_rank") <= cap)
  }
}
