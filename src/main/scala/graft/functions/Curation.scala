package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation selection ops from the published pretraining-data
  * pipelines — the steps between raw filtering and the final mixture.
  *
  * Everything is deterministic (hash-derived pseudo-randomness, no
  * `rand()`): the same corpus produces the same selection on every run and
  * every engine, which is what makes the ops oracle-checkable AND what a
  * reproducible data pipeline needs.
  */
object Curation {

  /** k-anonymity audit over quasi-identifier columns (Sweeney 2002): a row
    * is re-identifiable when its QI combination is shared by fewer than k
    * rows. Returns per-combination (QI columns, group size, violating flag)
    * for groups below k plus summary-friendly counts — the release gate a
    * training-data pipeline runs before shipping anything derived from user
    * records (the PII scrub removes direct identifiers; this catches the
    * indirect ones).
    *
    * Scale shape: ONE hash-shuffle groupBy on the QI tuple with map-side
    * combine; no window, no self-join. NULL QI values group together
    * (matching SQL GROUP BY), which is the conservative read — an all-null
    * combination is still a combination. */
  def kAnonymityViolations(df: DataFrame, quasiIdentifiers: Seq[String],
                           k: Int): DataFrame = {
    require(quasiIdentifiers.nonEmpty && k >= 2,
      "need at least one quasi-identifier and k >= 2")
    df.groupBy(quasiIdentifiers.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007), k-anonymity's
    * companion: a QI group where every row shares the same sensitive value
    * leaks that value even when the group is large (the homogeneity
    * attack). Flags groups whose sensitive column carries fewer than l
    * DISTINCT values. Same one-groupBy scale shape; null sensitive values
    * don't count toward diversity (count distinct ignores them). */
  def lDiversityViolations(df: DataFrame, quasiIdentifiers: Seq[String],
                           sensitiveCol: String, l: Int): DataFrame = {
    require(quasiIdentifiers.nonEmpty && l >= 2,
      "need at least one quasi-identifier and l >= 2")
    df.groupBy(quasiIdentifiers.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("distinct_sensitive"))
      .filter(col("distinct_sensitive") < l)
  }

  /** t-closeness audit (Li et al. 2007), completing the privacy triad: even
    * an l-diverse QI group leaks when its sensitive-value DISTRIBUTION
    * differs sharply from the global one (skew attack — "everyone in this
    * zip has SOME diagnosis, but 90% have the rare one"). Flags groups whose
    * total-variation distance from the global distribution exceeds t.
    *
    * Values absent from a group contribute their global mass, so
    * TVD = ½(Σ_{v∈G}|p_g−p_G| + 1 − Σ_{v∈G} p_G) — computable from the
    * group's OWN values joined to the global distribution, which is tiny
    * (one row per distinct sensitive value) and broadcast. Scale shape: one
    * groupBy on (QI, sensitive) with map-side combine, one QI-partitioned
    * window for group totals, one broadcast join — no self-join, no
    * unpartitioned window. NULL sensitive values are out of scope (as in
    * [[lDiversityViolations]]); a corpus with NO in-scope rows flags
    * nothing. TVD is rounded to 6 decimals for engine portability. */
  def tClosenessViolations(df: DataFrame, quasiIdentifiers: Seq[String],
                           sensitiveCol: String, t: Double): DataFrame = {
    require(quasiIdentifiers.nonEmpty && t > 0 && t < 1,
      "need at least one quasi-identifier and 0 < t < 1")
    val qis = quasiIdentifiers.map(col)
    val scoped = df.filter(col(sensitiveCol).isNotNull)
      .select(qis :+ col(sensitiveCol).as("__sv"): _*)
    val globalP = scoped.groupBy(col("__sv")).agg(count(lit(1)).as("__n"))
      .select(col("__sv"),
        (col("__n") / sum(col("__n")).over(Window.partitionBy())).as("__pg"))
    val grp = scoped.groupBy(qis :+ col("__sv"): _*).agg(count(lit(1)).as("__n"))
      .withColumn("__gn",
        sum(col("__n")).over(Window.partitionBy(quasiIdentifiers.map(col): _*)))
    val tvd = round((sum(abs(col("__n") / col("__gn") - col("__pg"))) +
      lit(1.0) - sum(col("__pg"))) * 0.5, 6)
    grp.join(broadcast(globalP), "__sv")
      .groupBy(qis: _*)
      .agg(tvd.as("tvd"))
      .filter(col("tvd") > t)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting high quality monolingual datasets from web crawl data"):
    * score each document with the corpus unigram LM
    * ([[TextFunctions.unigramLogProb]] — mean token log-prob, the
    * perplexity proxy), then cut each LANGUAGE at its 1/3 and 2/3 score
    * quantiles into head (most fluent) / middle / tail.
    *
    * Scale shape: the per-language thresholds are ONE percentile aggregate
    * over the scored frame — a |languages|-row result broadcast back — and
    * the bucket label is a codegen comparison. A per-language `ntile`
    * window would funnel the dominant language (half the web is English)
    * through a single window task; this form never does. */
  def perplexityBuckets(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id",
                        langCol: String = "lang"): DataFrame = {
    val scored = TextFunctions.unigramLogProb(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(langCol)), idCol)
    val cuts = scored.groupBy(col(langCol)).agg(
      round(percentile(col("mean_logp"), lit(1.0 / 3)), 6).as("__q33"),
      round(percentile(col("mean_logp"), lit(2.0 / 3)), 6).as("__q67"))
    scored.join(broadcast(cuts), langCol)
      .select(col(idCol), col(langCol), col("mean_logp"),
        when(col("mean_logp") >= col("__q67"), "head")
          .when(col("mean_logp") >= col("__q33"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): estimate hashed
    * n-gram feature distributions for a TARGET domain and for the full
    * corpus, weight every document by its log importance ratio
    * Σ_tok [log p_target(h(tok)) − log p_corpus(h(tok))], and select
    * `sampleN` documents by Gumbel-top-k — which IS sampling without
    * replacement ∝ exp(weight), made deterministic here by deriving the
    * Gumbel noise from a salted document hash instead of an RNG.
    *
    * Scale shape: two feature-distribution aggregates (the hashed feature
    * space is `buckets`-bounded, so each is a tiny result broadcast back),
    * one token-level join + per-doc sum, and a global top-k
    * (TakeOrderedAndProject — never a full sort). `isTarget` is any
    * deterministic predicate over the document row (a labeled subset, a
    * language, a source). */
  def dsirSelect(docs: DataFrame, isTarget: Column, sampleN: Int,
                 textCol: String = "text", idCol: String = "doc_id",
                 buckets: Int = 4096, salt: String = "dsir"): DataFrame = {
    val toks = docs.select(col(idCol), isTarget.as("__t"),
        explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"),
          w => length(w) > 0)).as("tok"))
      .select(col(idCol), col("__t"),
        pmod(PortableHash.h60(col("tok")), lit(buckets)).as("__f"))
    // add-one-smoothed feature log-probs for target and corpus; the
    // aggregate is bounded by the hashed feature space, broadcast back
    val dist = toks.groupBy(col("__f")).agg(
      count(lit(1)).as("__n_all"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__n_tgt"))
    val totals = dist.agg(
      (sum(col("__n_all")) + lit(buckets)).cast("double").as("__d_all"),
      (sum(col("__n_tgt")) + lit(buckets)).cast("double").as("__d_tgt"))
    val weighted = toks.join(broadcast(dist), "__f")
      .join(broadcast(totals))
      .groupBy(col(idCol))
      .agg(round(sum(
        log((col("__n_tgt") + 1) / col("__d_tgt")) -
          log((col("__n_all") + 1) / col("__d_all"))), 4).as("log_w"))
    // Gumbel-top-k: u ~ hash-uniform(0,1), g = -ln(-ln u); top-k of
    // (log_w + g) is a without-replacement sample ∝ exp(log_w)
    val u = (pmod(PortableHash.h60(concat(lit(salt), col(idCol).cast("string"))),
      lit(1000000L)) + 1) / lit(1000001.0)
    weighted
      .withColumn("gumbel_key", round(col("log_w") - log(-log(u)), 4))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(sampleN)
  }

  /** Corpus-level image dedup in one call (the LAION-style recipe:
    * perceptual hash → Hamming near-dup clusters → keep one per cluster),
    * mirroring [[Dedup.incrementalExact]]'s ergonomics. Composes
    * [[Multimodal.imageDHash]] (decode + 64-bit dHash, per-row failure
    * isolation) with [[Dedup.hammingLabels]] (banded join over DISTINCT
    * hashes only). Returns the thin per-image VERDICT frame (the
    * [[videoDedup]] convention — payloads never ride the verdict):
    *  - `idCol`
    *  - `dhash` / `dhash_ok` — the signature, null/false on decode failure
    *  - `cluster` — smallest media id in the row's near-dup component
    *    (null for undecodable rows: no evidence either way)
    *  - `keep` — true for the cluster's smallest id AND for every
    *    undecodable row (dropping what we cannot judge silently loses data;
    *    callers quarantine on `!dhash_ok` explicitly if they want to)
    *
    * 100 TB shape: the hash pass is a scan (one decode per image, 8 bytes
    * out, no shuffle); clustering shuffles DISTINCT hashes, never media
    * bytes; the label map (one row per distinct hash — orders of magnitude
    * smaller than the corpus) joins back on the 8-byte key, so AQE
    * broadcasts it and the thin side never moves either. Joining the
    * verdict back to the payloads is the CALLER's move (where the payload
    * actually needs to flow), not this recipe's — a corpus-sized verdict
    * joined here would shuffle payload bytes by id. */
  def mediaDedup(spark: org.apache.spark.sql.SparkSession, media: DataFrame,
                 payloadCol: String = "payload", idCol: String = "media_id",
                 maxDist: Int = 6, bands: Int = 8,
                 maxBucketSize: Option[Int] = None): DataFrame =
    hashDedup(Multimodal.imageDHash(spark, media, payloadCol),
      "dhash", "dhash_ok", idCol, maxDist, bands, maxBucketSize)

  /** [[mediaDedup]] for audio: [[Multimodal.audioFingerprint]] (energy
    * hash) in place of the image dHash, same clustering, same keep
    * semantics, same 100 TB shape. */
  def audioDedup(spark: org.apache.spark.sql.SparkSession, media: DataFrame,
                 payloadCol: String = "payload", idCol: String = "media_id",
                 maxDist: Int = 6, bands: Int = 8,
                 maxBucketSize: Option[Int] = None): DataFrame =
    hashDedup(Multimodal.audioFingerprint(spark, media, payloadCol),
      "afp", "afp_ok", idCol, maxDist, bands, maxBucketSize)

  /** Shared tail of the perceptual-dedup recipes: cluster the ok rows'
    * hashes, label every row, keep the cluster's smallest id and every
    * row the hasher could not judge. `hashed` is the decode pass's output
    * (input columns + `hashCol` + `okCol`). The decode runs exactly once:
    * a thin (id, hash, ok) projection is persisted and feeds both the
    * clustering and the verdict join. The RETURN is the thin per-media
    * verdict — (`idCol`, `hashCol`, `okCol`, `cluster`, `keep`) — NOT the
    * input columns (the [[videoDedup]] convention): payloads are the
    * heaviest rows in any corpus, and joining the corpus-sized verdict
    * back here would shuffle payload bytes by id — the caller joins on the
    * id (or semi-filters on keep ids) where the payload actually flows. */
  private def hashDedup(hashed: DataFrame, hashCol: String,
                        okCol: String, idCol: String, maxDist: Int,
                        bands: Int, maxBucketSize: Option[Int]): DataFrame = {
    val thin = hashed.select(col(idCol), col(hashCol), col(okCol)).persist()
    val labels = Dedup.hammingLabels(
        thin.filter(col(okCol)).select(col(idCol), col(hashCol)),
        hashCol, idCol, maxDist, bands, maxBucketSize)
      .select(col(hashCol), col("cluster"))
    // equi-join on the hash: null keys (undecodable rows) match nothing, so
    // their cluster stays null and keep falls through to true; the label
    // map is one row per DISTINCT hash — AQE broadcasts it, thin never
    // shuffles. Eager localCheckpoint so the decode cache can drop here.
    val verdict = thin.join(labels, Seq(hashCol), "left")
      .withColumn("keep", !col(okCol) || col(idCol) === col("cluster"))
      // the hash join key would otherwise hoist to position 0; keep the
      // documented (id, hash, ok, cluster, keep) order for positional users
      .select(col(idCol), col(hashCol), col(okCol), col("cluster"), col("keep"))
      .localCheckpoint(true)
    thin.unpersist()
    verdict
  }

  /** [[mediaDedup]] for video — the full content-ID pipeline in one call:
    * [[Multimodal.videoFrameDHash]] (demux → per-frame perceptual hash) →
    * [[Dedup.videoNearDups]] (videos sharing ≥ `minShared` frame-hash
    * clusters) → [[Dedup.clusters]] (connected components) → keep-one.
    * Returns a per-video verdict frame — (`idCol`, `video_ok`, `cluster`,
    * `keep`) — NOT the input columns: video payloads are the heaviest rows
    * in any corpus, so the verdict stays 4 thin columns and the caller
    * joins it back on the id (the join broadcasts; the payload never
    * shuffles). Semantics mirror [[mediaDedup]]: a video the demuxer can't
    * read keeps `video_ok = false`, null cluster, `keep = true`; a video
    * with no near-dup is its own cluster.
    *
    * 100 TB shape: one demux+decode pass (scan-shaped, 8 bytes/frame out);
    * clustering operates on DISTINCT frame hashes; pair generation ∝
    * cluster postings with the `maxPostings` valve for ubiquitous frames
    * (intros, black frames) — video bytes never enter a shuffle. */
  def videoDedup(spark: org.apache.spark.sql.SparkSession, media: DataFrame,
                 payloadCol: String = "payload", idCol: String = "media_id",
                 minShared: Int = 2, maxDist: Int = 6, bands: Int = 8,
                 maxBucketSize: Option[Int] = None,
                 maxPostings: Option[Int] = None): DataFrame = {
    // project to the 17-byte verdict columns BEFORE persisting: the frame
    // table is read twice (ok-aggregate + pair generation) and one more
    // decode pass per read would double the pipeline's dominant cost
    val frames = Multimodal.videoFrameDHash(spark, media, payloadCol)
      .select(col(idCol), col("dhash"), col("frame_ok")).persist()
    val vidOk = frames.groupBy(col(idCol))
      .agg((sum(when(col("frame_ok"), 1).otherwise(0)) > 0).as("video_ok"))
    val pairs = Dedup.videoNearDups(frames, idCol, "dhash", minShared,
      maxDist, bands, maxBucketSize, maxPostings)
    val labels = Dedup.clusters(pairs).withColumnRenamed("id", idCol)
    val verdict = vidOk.join(labels, Seq(idCol), "left")
      .withColumn("cluster",
        when(col("video_ok"), coalesce(col("cluster"), col(idCol))))
      .withColumn("keep", !col("video_ok") || col(idCol) === col("cluster"))
      // materialize the (small, 1-row-per-video) verdict EAGERLY so the
      // frame cache can be dropped here — returning a lazy plan over a
      // frame we just unpersisted would silently re-run the decode pass
      .localCheckpoint(true)
    frames.unpersist()
    verdict
  }

  /** The crawl-to-corpus recipe in one call (the [[mediaDedup]] analog for
    * web pages — the RefinedWeb/CCNet front half as tested code):
    *
    *  0. (optional) domain BLOCKLIST: pages whose registered domain
    *     appears in `blocklist` drop before extraction — the
    *     UT1-category wholesale site screen, run first because it is the
    *     cheapest stage and removes whole sites;
    *  1. extract ([[Html.extractText]]/Title/Lang/Canonical — one regex
    *     pass, materialized once);
    *  2. canonical-first URL dedup: the page's own `<link rel=canonical>`
    *     wins as the dedup key when it is an ABSOLUTE URL (a relative
    *     canonical like `/home` would collide across sites), falling back
    *     to the crawl URL; EITHER branch is [[Web.urlNormalize]]d, so a
    *     canonical declared with different casing/escaping/params still
    *     collapses with its crawl-URL aliases; a page with neither key
    *     (null url, no canonical) is self-keyed by id — never deduped,
    *     never dropped. Smallest id per key is kept;
    *  3. corpus-wide paragraph dedup over the extracted text (template
    *     boilerplate removal — [[Dedup.paragraphDedup]] on the newline
    *     shape extraction emits);
    *  4. quality floor ([[TextFunctions.qualityScore]] ≥ `minQuality`);
    *  5. per-registered-domain quota ([[Web.domainQuota]], skew-safe
    *     two-stage rank, best-quality-first).
    *
    * Returns the kept, cleaned corpus — one row per surviving page:
    * (`url_key`, `idCol`, cleaned `text`, `n_paras`, `n_kept`, `title`,
    * `lang_decl`, `quality`, `domain`, `domain_rank`). Dropped pages are
    * the anti-join on `idCol`. HTML bytes never pass stage 1: every later
    * stage moves only extracted text and 8-byte keys.
    *
    * 100 TB shape: one scan-speed extraction pass; URL dedup shuffles
    * (key, id) pairs only; paragraph dedup's two hash-keyed shuffles are
    * ∝ paragraphs; the quota never sorts a mega-domain in one task. For
    * steady-state ingest run the INCREMENTAL screens instead
    * ([[Dedup.incrementalExactKeys]] on url keys,
    * [[Dedup.incrementalParagraphDedup]]) — this call is the batch
    * (bootstrap / full-recompute) form. */
  def crawlIngest(pages: DataFrame, htmlCol: String = "html",
                  urlCol: String = "url", idCol: String = "doc_id",
                  domainCap: Int = 1000, minQuality: Double = 0.0,
                  quotaSalts: Int = 16,
                  blocklist: Option[DataFrame] = None): DataFrame = {
    // domain blocklist FIRST (the UT1-category screen every production
    // pipeline runs): blocked registered domains drop before the page
    // pays a byte of extraction — wholesale site removal is the cheapest
    // stage to run earliest. Anti-join against a `domain` column; the
    // blocklist is list-sized (≤ millions), so the optimizer broadcasts
    // it. The domain expression is HOF-bound (SURVEY §9 cliff #4).
    val screened = blocklist match {
      case None => pages
      case Some(bl) =>
        // no .distinct() on the blocklist: left-anti output is identical
        // under duplicate right-side keys, so deduping would only add a
        // shuffle over the list. Entries normalize through the SAME
        // eTLD+1 fold as the page side — UT1-style lists carry host-form
        // entries (`cdn3.site.org`) that would otherwise never equal a
        // page's registered domain and silently block nothing; folding
        // both sides means a host entry blocks its whole site, the list
        // semantics every category blocklist assumes
        pages.withColumn("__dom", Web.registeredDomainOf(col(urlCol)))
          .join(bl.select(
              Web.registeredDomain(lower(trim(col("domain")))).as("__dom")),
            Seq("__dom"), "left_anti")
          .drop("__dom")
    }
    // survivors CHECKPOINTED (r18, closing the r17 deferred lead): consumed
    // by BOTH paragraphDedup and the rebuild join — unmaterialized, the
    // extraction would run twice; merely persisted (the r17 shape), the
    // full 13-regex extraction forest stayed the LOGICAL plan of every
    // downstream construction and each one re-analyzed it (the rankGraph
    // lesson, r17 change 4). The checkpoint truncates to a LogicalRDD. The
    // two-pass plan shape is pinned on [[crawlKeptPlan]]'s own plan
    // (BenchPlanSpec), since the materialized seam is opaque from outside.
    // Always LOCAL, checkpoint dir or not: a lazy reliable checkpoint of
    // this corpus-sized frame re-runs the extraction to write it to DFS.
    // Under AQE even this lazy checkpoint runs the upstream stages (key
    // scan, winner aggregate, semi-joins) when crawlIngest is called.
    val kept = org.apache.spark.sql.graft.PlanCheckpoint.checkpoint(
      crawlKeptPlan(pages, screened, htmlCol, urlCol, idCol), eager = false,
      reliable = false)
    val reb = Dedup.paragraphDedup(kept.select(col(idCol), col("text")))
    // NOTE (r17): merging this filter/withColumn/drop chain (and the quota
    // and paragraph-dedup internals) into fewer select+where constructions
    // to cut per-construction analyzer walks was tried and REVERTED — the
    // quiet-window construct+plan CPU is flat (0.594 → 0.597 s min across
    // alternating stash A/B sessions, DecomposeProbe `plan`); the "~1 s
    // construction tax" earlier sessions measured was a loaded-window
    // artifact (thread-CPU inflates ~4× under this sandbox's contention).
    // Unmeasurable changes don't get to carry hash risk on 259 entries.
    val scored = reb
      .join(kept.drop("text"), Seq(idCol))
      // a page whose every line was a non-first duplicate rebuilds to ''
      // — drop it explicitly (it has no surviving content, and 0-length
      // text would make the ratio features NaN)
      .filter(length(col("text")) > 0)
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("domain", Web.registeredDomain(Web.urlHost(col(urlCol))))
      .drop(urlCol)
    // kept's checkpoint blocks release once the caller drops the result
    // ([[Barrier.releaseOnDrop]] handles both persisted and checkpointed
    // helpers); the ContextCleaner is the GC-paced fallback either way
    Barrier.releaseOnDrop(
      Web.domainQuota(scored, domainCap, scoreCol = "quality", idCol = idCol,
        salts = quotaSalts), kept)
  }

  /** The two-pass survivor extraction [[crawlIngest]] materializes — the
    * frame whose PLAN carries the recipe's scale contract, exposed so
    * BenchPlanSpec can pin it on this side of the checkpoint seam:
    *
    * TWO-PASS extraction (r17): url-dedup needs only the canonical key —
    * one regex + the normalize fold — while the full 13-stage text
    * extraction is the dominant per-byte cost of the whole recipe (the
    * r16→r17 A/B adjudication measured it as ~60% of the honest call).
    * Crawl url-dup rates make most of that work DEAD: a losing duplicate's
    * title/lang/text are computed and immediately discarded. So pass 1
    * scans every page for (id, url_key) only, the winner set is the min-id
    * aggregate exactly as before, and pass 2 re-scans the source paying
    * full extraction ONLY for winners. Cost trade at 100 TB: one extra
    * scan of the html bytes (sequential parquet IO) buys back
    * (1 − survivor-rate) of the regex CPU — the right side of that trade
    * whenever extraction is CPU-bound, which a 13-stage chain is. The
    * winner semi-join is id-keyed: AQE broadcasts the aggregated winner
    * list while it is small; at cluster scale Spark's runtime bloom-filter
    * injection prunes the second scan before any html byte shuffles, and
    * the steady-state path is the incremental screen anyway (see
    * [[crawlIngest]]).
    *
    * Absolute canonicals only, the winning branch normalized, keyless
    * pages self-keyed — one key definition shared with the streaming
    * intake ([[Web.canonicalUrlKey]] holds the rules and the why). */
  private[graft] def crawlKeptPlan(pages: DataFrame, screened: DataFrame,
                                   htmlCol: String, urlCol: String,
                                   idCol: String): DataFrame = {
    val urlKey = Web.canonicalUrlKey(col(urlCol),
      Html.extractCanonical(col(htmlCol)), col(idCol))
    val keys = screened.select(col(idCol), urlKey.as("url_key"))
    val urlKeep = keys.groupBy(col("url_key")).agg(min(col(idCol)).as(idCol))
    // pass 2 starts from `pages`, not `screened`: winners are already
    // blocklist-survivors by construction, so the anti-join needn't re-run
    val winners = pages.join(urlKeep.select(col(idCol)), Seq(idCol), "left_semi")
    winners.select(col(idCol), col(urlCol),
      Html.extractTitle(col(htmlCol)).as("title"),
      Html.extractLang(col(htmlCol)).as("lang_decl"),
      urlKey.as("url_key"),
      Html.extractText(col(htmlCol)).as("text"))
  }

  /** Benchmark decontamination report — the n-gram-overlap screen every
    * serious pretraining pipeline runs (the GPT-3 appendix-C / PaLM
    * recipe): a training document sharing ANY `n`-word gram with an
    * evaluation benchmark leaks the test set into training. Returns one
    * row per contaminated corpus doc: (idCol, n_grams = distinct matched
    * grams, bench_ids = '|'-joined sorted benchmark ids) — the audit
    * artifact; [[decontaminate]] drops the flagged docs.
    *
    * Benchmark items SHORTER than `n` words contribute their full word
    * sequence as one gram (a 5-word QA answer still screens); the corpus
    * side emits grams of exactly the lengths the benchmark set contains
    * (one extra scan per distinct short length — usually none), so the
    * match is exact string equality, never substring scanning.
    *
    * Scale shape: benchmark gram tables are eval-set sized (thousands to
    * low millions of grams) — BROADCAST by default — while the corpus
    * side is one in-task gram explode per needed length joined against
    * the broadcast set: the corpus never shuffles, and join output is
    * ∝ contamination (rare by construction). One explode PER LENGTH, not
    * one combined array: concatenating all lengths' grams into a single
    * array_distinct'd row array measured 1.6× SLOWER at sf0.1 (the
    * doubled per-row array materialization costs more than the extra
    * streaming scan saves), and the common case is one length anyway.
    * Tokenization matches [[Dedup.shingles]] exactly, so dedup and
    * decontamination agree on what a "word" is. */
  def contamination(corpus: DataFrame, benchmarks: DataFrame, n: Int = 13,
                    textCol: String = "text", idCol: String = "doc_id",
                    benchTextCol: String = "text",
                    benchIdCol: String = "bench_id",
                    broadcastBenchmarks: Boolean = true,
                    eager: Boolean = true): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(idCol != benchIdCol,
      s"idCol and benchIdCol must differ (both '$idCol'): the gram join " +
        "would produce an ambiguous column — rename one side first")
    // ngrams, not shingles: the report collapses duplicates by construction
    // (n_grams = countDistinct(gram), bench_ids = collect_set), so the
    // per-doc array_distinct pass shingles() pays buys nothing here — and
    // it was ~40% of the corpus gram stream's scan CPU at sf0.1 (r17
    // decomposition: 1.38 s distinct vs 0.82 s without, n=13). Duplicate
    // grams only multiply intermediate match rows, which the aggregate
    // absorbs; the emitted report is bit-identical.
    val benchGrams = Dedup.ngrams(
        benchmarks.select(col(benchIdCol), col(benchTextCol)),
        benchTextCol, benchIdCol, n)
      .select(col(benchIdCol), col("shingle").as("__gram"),
        size(split(col("shingle"), " ")).as("__glen"))
      // NO per-(bench_id, gram) dedup here — adjudicated r18: the r17
      // dedup-drop's k·m join-output inflation under repetitive text was
      // probed at 1×/10×/100× boilerplate repetition (R18ContamSkewProbe):
      // the match rows feed the report aggregate IN-TASK (broadcast build,
      // streamed probe), so memory and shuffle stay flat at every factor
      // (peak exec mem 17 MB, shuffle ~0), and quiet-floor min-of-3
      // alternating walls are EQUAL between the raw-ngram and
      // array_distinct forms even at 100× (7.1 vs 7.0 s) — gram GENERATION
      // dominates, duplicate probes are marginal. A bench-side
      // dropDuplicates was built and REVERTED as unmeasurable (the r17
      // standard: no hash risk without a measured win).
      .persist()
    // every path from here must release the gram cache — a leaked
    // eval-set-sized persist per call parks blocks FOREVER (the
    // CacheManager holds persisted plans until explicit unpersist, see
    // [[Barrier]]), and a steady-state pipeline calls this once per
    // ingest round. CacheHygieneSpec pins it.
    try {
      // distinct gram lengths present in the benchmark set: n for normal
      // items, shorter for sub-n items. Bounded by n — a driver-side
      // collect over an eval-set-sized frame, same class as the
      // bounded-vocab BPE collects
      val lengths = benchGrams.select(col("__glen")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      // an EMPTY benchmark set (zero rows, or all-punctuation texts that
      // shingle to nothing) contaminates nothing — an empty report, not an
      // empty.reduce crash
      if (lengths.isEmpty)
        return corpus.select(col(idCol)).limit(0)
          .withColumn("n_grams", lit(0L))
          .withColumn("bench_ids", lit(""))
      val matches = lengths.map { l =>
        val bg = benchGrams.filter(col("__glen") === l)
          .select(col(benchIdCol), col("__gram"))
        val bgSide = if (broadcastBenchmarks) broadcast(bg) else bg
        Dedup.ngrams(corpus.select(col(idCol), col(textCol)),
            textCol, idCol, l)
          .join(bgSide, col("shingle") === col("__gram"))
          .select(col(idCol), col(benchIdCol), col("shingle").as("gram"))
      }.reduce(_ unionByName _)
      val report = matches
        .groupBy(col(idCol))
        .agg(countDistinct(col("gram")).as("n_grams"),
          array_join(transform(array_sort(collect_set(col(benchIdCol))),
            b => b.cast("string")), "|").as("bench_ids"))
      // materialize the (contamination-sized, rare-by-construction) report
      // EAGERLY so the gram persist can release in the finally — returning
      // a lazy plan over unpersisted grams would re-shingle the benchmark
      // set once per downstream action instead. eager=false returns the
      // lazy plan (correct, re-shingles per action) — the plan-inspection
      // path DecontaminationSpec pins the join strategy through, since a
      // checkpointed frame's plan is an opaque Scan ExistingRDD
      if (eager) report.localCheckpoint(true) else report
    } finally benchGrams.unpersist()
  }

  /** The corpus with [[contamination]]-flagged documents REMOVED — the
    * apply side of the decontamination screen. One broadcast-probe pass
    * over the corpus grams plus one anti-join on the (tiny) flagged-id
    * set. */
  def decontaminate(corpus: DataFrame, benchmarks: DataFrame, n: Int = 13,
                    textCol: String = "text", idCol: String = "doc_id",
                    benchTextCol: String = "text",
                    benchIdCol: String = "bench_id",
                    broadcastBenchmarks: Boolean = true): DataFrame = {
    val flagged = contamination(corpus, benchmarks, n, textCol, idCol,
      benchTextCol, benchIdCol, broadcastBenchmarks).select(col(idCol))
    // no forced broadcast hint: flagged is ∝ contamination — tiny in the
    // healthy case (AQE broadcasts it anyway) but UNBOUNDED when a short
    // benchmark item is a common phrase, exactly when a forced broadcast
    // would OOM the driver
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[crawlIngest]] over RAW PAYLOAD BYTES (the shape [[Warc.readWarc]]
    * emits): sniff each page's declared charset from the byte prefix,
    * decode under it ([[Html.decodeHtmlBytes]] — UTF-8 fallback, U+FFFD
    * isolation), then run the text-side recipe unchanged. The decoded
    * html column exists only inside the first projection — like the html
    * text in the string-side recipe, the payload never crosses a shuffle. */
  def crawlIngestBytes(pages: DataFrame, payloadCol: String = "payload",
                       urlCol: String = "url", idCol: String = "doc_id",
                       domainCap: Int = 1000, minQuality: Double = 0.0,
                       quotaSalts: Int = 16,
                       blocklist: Option[DataFrame] = None): DataFrame =
    crawlIngest(
      pages.withColumn("__graft_html", Html.decodeHtmlBytes(col(payloadCol)))
        .drop(payloadCol),
      htmlCol = "__graft_html", urlCol = urlCol, idCol = idCol,
      domainCap = domainCap, minQuality = minQuality,
      quotaSalts = quotaSalts, blocklist = blocklist)
}
